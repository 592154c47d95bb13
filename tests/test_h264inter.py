"""H.264 P and B slice decode (analysis/h264.py) of the inter fixture
encoders (analysis/h264inter.py)."""

import numpy as np
import pytest

from tika_spark.analysis.h264 import (H264Decoder, H264Error,
                                      decode_h264_annexb, mc_chroma,
                                      mc_luma, split_annexb)
from tika_spark.analysis.h264inter import encode_h264p


def _planes(dec, bs):
    for nal in split_annexb(bs):
        dec.push(nal)
    return dec.frames


def _shift(img, dx):
    out = np.empty_like(img)
    out[:, :img.shape[1] - dx] = img[:, dx:]
    out[:, img.shape[1] - dx:] = img[:, -1:]
    return out


def test_mc_luma_integer_and_half():
    rng = np.random.RandomState(2)
    ref = rng.randint(0, 256, (40, 40)).astype(np.int32)
    # integer MV = exact copy
    blk = mc_luma(ref, 8, 8, 16, 16, 4 * 3, 4 * 2)
    assert (blk == ref[10:26, 11:27]).all()
    # horizontal half-pel = direct 6-tap
    blk = mc_luma(ref, 8, 8, 4, 4, 2, 0)
    for y in range(4):
        for x in range(4):
            r = ref[8 + y, 8 + x - 2:8 + x + 4].astype(int)
            exp = (r[0] - 5 * r[1] + 20 * r[2] + 20 * r[3]
                   - 5 * r[4] + r[5] + 16) >> 5
            assert blk[y, x] == min(255, max(0, exp))
    # vertical half-pel = direct 6-tap
    blk = mc_luma(ref, 8, 8, 4, 4, 0, 2)
    for y in range(4):
        for x in range(4):
            r = ref[8 + y - 2:8 + y + 4, 8 + x].astype(int)
            exp = (r[0] - 5 * r[1] + 20 * r[2] + 20 * r[3]
                   - 5 * r[4] + r[5] + 16) >> 5
            assert blk[y, x] == min(255, max(0, exp))
    # every quarter position runs and stays in range
    for fy in range(4):
        for fx in range(4):
            blk = mc_luma(ref, 8, 8, 8, 8, 4 + fx, 8 + fy)
            assert blk.shape == (8, 8)
            assert blk.min() >= 0 and blk.max() <= 255


def test_mc_luma_edge_extension():
    ref = np.full((16, 16), 7, np.int32)
    ref[:, 8:] = 200
    # MV pointing past the right edge: clamped columns give 200
    blk = mc_luma(ref, 8, 0, 8, 8, 4 * 20, 0)
    assert (blk == 200).all()


def test_mc_chroma_bilinear():
    ref = np.zeros((8, 8), np.int32)
    ref[0, 0], ref[0, 1], ref[1, 0], ref[1, 1] = 0, 80, 160, 240
    # (3/8, 5/8) between the four corners
    out = mc_chroma(ref, 0, 0, 1, 1, 3, 5)
    exp = (5 * 3 * 0 + 3 * 3 * 80 + 5 * 5 * 160 + 3 * 5 * 240
           + 32) >> 6
    assert out[0, 0] == exp


def test_pan_closed_form():
    """Two-tone keyframe + P frames panning one MB left: every P
    frame is exactly solid c1 (zero residual, skip-run path)."""
    c0, c1 = 50, 200
    f0 = np.zeros((16, 32), np.uint8)
    f0[:, :16] = c0
    f0[:, 16:] = c1
    f1 = np.full((16, 32), c1, np.uint8)
    u = np.full((8, 16), 128, np.uint8)
    bs = encode_h264p([(f0, u, u), (f1, u, u), (f1, u, u)], 32, 16,
                      qp=28, plan="pan16", base_mv=(64, 0))
    out = decode_h264_annexb(bs)
    e0 = (298 * (c0 - 16) + 128) >> 8
    e1 = (298 * (c1 - 16) + 128) >> 8
    assert len(out) == 3
    assert (out[0][:, :16, 0] == e0).all()
    assert (out[0][:, 16:, 0] == e1).all()
    for f in out[1:]:
        assert (f[:, :, 0] == e1).all()
    # skip runs make P frames tiny
    assert len(bs) < 100


def test_partition_plans_roundtrip():
    yy0, xx0 = np.mgrid[0:48, 0:64]
    base = ((yy0 * 3 + xx0 * 2) % 256).astype(np.uint8)
    u0 = ((yy0[:24, :32] * 5 + 60) % 256).astype(np.uint8)
    v0 = ((xx0[:24, :32] * 7 + 10) % 256).astype(np.uint8)
    frames = [(base, u0, v0),
              (_shift(base, 4), _shift(u0, 2), _shift(v0, 2)),
              (_shift(base, 8), _shift(u0, 4), _shift(v0, 4))]
    for plan in ("pan16", "parts", "mixed"):
        bs = encode_h264p(frames, 64, 48, qp=10, plan=plan,
                          base_mv=(16, 0))
        dec = H264Decoder()
        _planes(dec, bs)
        assert len(dec.frames) == 3
        for (y, _u, _v), (dy, du, dv) in zip(frames, dec.frames):
            err = float(np.abs(dy.astype(int) - y.astype(int)).mean())
            assert err < 1.0, (plan, err)


def test_fractional_mv_roundtrip():
    """Quarter-pel MVs force the 6-tap/bilinear interpolators; at
    qp=4 the residual coder recovers the source nearly exactly."""
    yy0, xx0 = np.mgrid[0:32, 0:32]
    base = ((yy0 * 5 + xx0 * 3) % 256).astype(np.uint8)
    u0 = np.full((16, 16), 90, np.uint8)
    v0 = np.full((16, 16), 170, np.uint8)
    frames = [(base, u0, v0), (_shift(base, 2), u0, v0)]
    bs = encode_h264p(frames, 32, 32, qp=4, plan="parts",
                      base_mv=(17, 5))
    dec = H264Decoder()
    _planes(dec, bs)
    for (y, _u, _v), (dy, _du, _dv) in zip(frames, dec.frames):
        assert float(np.abs(dy.astype(int)
                            - y.astype(int)).mean()) < 0.2


def test_intra_in_p_slice():
    """The mixed plan embeds I16x16 macroblocks in P slices (P
    mb_type >= 5)."""
    rng = np.random.RandomState(4)
    y = rng.randint(0, 256, (32, 48)).astype(np.uint8)
    u = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    v = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    frames = [(y, u, v), (y, u, v)]
    bs = encode_h264p(frames, 48, 32, qp=8, plan="mixed",
                      base_mv=(0, 0))
    dec = H264Decoder()
    _planes(dec, bs)
    dy = dec.frames[1][0]
    assert float(np.abs(dy.astype(int) - y.astype(int)).mean()) < 1.0


def test_p_without_reference_raises():
    c = np.full((8, 16), 128, np.uint8)
    f = np.full((16, 32), 9, np.uint8)
    bs = encode_h264p([(f, c, c), (f, c, c)], 32, 16)
    nals = split_annexb(bs)
    dec = H264Decoder()
    dec.push(nals[0])
    dec.push(nals[1])
    with pytest.raises(H264Error):
        dec.push(nals[3])                     # P slice before the IDR


def test_intra_only_streams_still_decode():
    from tika_spark.analysis.h264 import encode_h264
    y = np.full((16, 16), 80, np.uint8)
    c = np.full((8, 8), 128, np.uint8)
    bs = encode_h264([(y, c, c)] * 2, 16, 16, qp=28, plan="i16dc")
    out = decode_h264_annexb(bs)
    exp = (298 * (80 - 16) + 128) >> 8
    assert len(out) == 2 and (out[0][:, :, 0] == exp).all()


def test_mp4_ippp_fixture():
    from tika_spark.analysis.isobmff import (mp4_h264_frames,
                                             video_h264p_fixture)
    for did in range(8):
        frames = mp4_h264_frames(video_h264p_fixture(did))
        assert len(frames) == 2 + did % 2
        c0 = (did * 19 + 3) % 256
        c1 = (did * 7 + 90) % 256
        g0 = max(0, min(255, (298 * (c0 - 16) + 128) >> 8))
        g1 = max(0, min(255, (298 * (c1 - 16) + 128) >> 8))
        assert (frames[0][:, :16, 0] == g0).all()
        assert (frames[0][:, 16:, 0] == g1).all()
        for f in frames[1:]:
            assert (f[:, :, 0] == g1).all()


def test_mkv_avc_track():
    from tika_spark.analysis.ebml import (mkv_avc_wrap, mkv_info,
                                          mkv_video_frames)
    c0, c1 = 60, 190
    f0 = np.zeros((16, 32), np.uint8)
    f0[:, :16] = c0
    f0[:, 16:] = c1
    f1 = np.full((16, 32), c1, np.uint8)
    u = np.full((8, 16), 128, np.uint8)
    mkv = mkv_avc_wrap([(f0, u, u), (f1, u, u)], 32, 16)
    info = mkv_info(mkv)
    assert info["tracks"][0]["codec"] == "V_MPEG4/ISO/AVC"
    assert info["tracks"][0]["codec_private"][0] == 1  # avcC
    fr = mkv_video_frames(mkv)
    g0 = (298 * (c0 - 16) + 128) >> 8
    g1 = (298 * (c1 - 16) + 128) >> 8
    assert len(fr) == 2
    assert (fr[0][:, :16, 0] == g0).all()
    assert (fr[0][:, 16:, 0] == g1).all()
    assert (fr[1][:, :, 0] == g1).all()
    # _demux dispatches the EBML branch to the AVC path
    from tika_spark.analysis.video import _demux
    kind, fr2 = _demux(mkv)
    assert kind == "raw" and len(fr2) == 2


def test_mkv_vp8_still_dispatches():
    from tika_spark.analysis.ebml import mkv_video_frames, \
        mkv_wrap_video
    from tika_spark.analysis.vp8 import encode_vp8_yuv, rgb_to_yuv420
    img = np.full((16, 16, 3), 77, np.uint8)
    payload, _ = encode_vp8_yuv(*rgb_to_yuv420(img), exact=True)
    mkv = mkv_wrap_video([payload], 16, 16)
    fr = mkv_video_frames(mkv)
    assert len(fr) == 1 and fr[0].shape == (16, 16, 3)


# ----------------------------------------------------------- B slices


def test_b_slices_solid_exact():
    """IBP with display reordering: grays chosen so every residual
    divides the quantizer — all five frames land exactly, in display
    order."""
    from tika_spark.analysis.h264inter import encode_h264b
    u = np.full((8, 16), 128, np.uint8)
    vals = (40, 100, 160, 220, 72)
    frames = [(np.full((16, 32), v, np.uint8), u, u) for v in vals]
    bs = encode_h264b(frames, 32, 16, qp=28)
    out = decode_h264_annexb(bs)
    exp = [max(0, min(255, (298 * (v - 16) + 128) >> 8))
           for v in vals]
    assert [int(f[0, 0, 0]) for f in out] == exp
    for f, g in zip(out, exp):
        assert (f[:, :, 0] == g).all()


def test_b_slices_textured_roundtrip():
    from tika_spark.analysis.h264inter import encode_h264b
    yy0, xx0 = np.mgrid[0:32, 0:32]
    base = ((yy0 * 5 + xx0 * 3) % 256).astype(np.uint8)
    u2 = np.full((16, 16), 90, np.uint8)
    v2 = np.full((16, 16), 170, np.uint8)
    bs = encode_h264b([(base, u2, v2)] * 5, 32, 32, qp=10)
    dec = H264Decoder()
    _planes(dec, bs)
    assert len(dec.frames) == 5
    assert sorted(dec.pocs) == [0, 2, 4, 6, 8]
    for y, uu, vv in dec.frames:
        assert float(np.abs(y.astype(int)
                            - base.astype(int)).mean()) < 0.3
        assert float(np.abs(uu.astype(int)
                            - u2.astype(int)).mean()) < 0.3


def test_b_decode_order_differs_from_display():
    """The bitstream stores I P B; POC sorting must swap the last
    two back into display order."""
    from tika_spark.analysis.h264inter import encode_h264b
    u = np.full((8, 8), 128, np.uint8)
    vals = (0, 80, 160)
    frames = [(np.full((16, 16), v, np.uint8), u, u) for v in vals]
    bs = encode_h264b(frames, 16, 16, qp=28)
    dec = H264Decoder()
    _planes(dec, bs)
    # decode order: poc 0, 4, 2
    assert dec.pocs == [0, 4, 2]
    out = decode_h264_annexb(bs)
    exp = [max(0, min(255, (298 * (v - 16) + 128) >> 8))
           for v in vals]
    assert [int(f[0, 0, 0]) for f in out] == exp


def test_display_order_restarts_at_each_idr():
    """Two IBP streams back to back: each IDR starts a new POC
    group, so stream a's frames all come out before stream b's."""
    from tika_spark.analysis.h264inter import encode_h264b
    u = np.full((8, 8), 128, np.uint8)

    def stream(vals):
        return encode_h264b([(np.full((16, 16), v, np.uint8), u, u)
                             for v in vals], 16, 16, qp=28)

    def means(frames):
        return [round(float(f[:, :, 1].mean())) for f in frames]

    a, b = stream((20, 40, 60)), stream((200, 220, 240))
    got = means(decode_h264_annexb(a + b))
    assert got == means(decode_h264_annexb(a)) + means(
        decode_h264_annexb(b))
    assert got == sorted(got) and len(got) == 6


def test_b_without_future_ref_raises():
    from tika_spark.analysis.h264 import _nal
    from tika_spark.analysis.h264inter import H264BiEncoder
    enc = H264BiEncoder(16, 16)
    u = np.full((8, 8), 128, np.uint8)
    y = np.full((16, 16), 50, np.uint8)
    dec = H264Decoder()
    dec.push(_nal(7, enc.sps_rbsp()))
    dec.push(_nal(8, enc.pps_rbsp()))
    enc._poc_lsb = 0
    dec.push(_nal(5, enc.encode_frame(y, u, u, "i16dc")))
    lf = enc._last_f
    ref = (lf.y.copy(), lf.u.copy(), lf.v.copy())
    enc._poc_lsb = 2
    b_rbsp = enc.encode_b_frame(y, u, u, ref, ref, 1)
    with pytest.raises(H264Error):
        dec.push(_nal(1, b_rbsp, ref=0))  # no future reference yet


def test_mp4_ibp_fixture_display_order():
    from tika_spark.analysis.isobmff import (mp4_h264_frames,
                                             video_h264b_fixture)
    for did in range(6):
        frames = mp4_h264_frames(video_h264b_fixture(did))
        assert len(frames) == 3 + did % 2
        for k, f in enumerate(frames):
            v = 8 * ((did * 5 + 7 * k) % 32)
            exp = max(0, min(255, (298 * (v - 16) + 128) >> 8))
            assert (f[:, :, 0] == exp).all(), (did, k)
