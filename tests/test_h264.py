"""H.264/AVC intra codec + MP4 avc1 mux/demux tests (analysis/h264.py,
analysis/isobmff.py)."""

import numpy as np
import pytest

from tika_spark.analysis.h264 import (BitReader, BitWriter, H264Decoder,
                                      H264Error, decode_h264_annexb,
                                      encode_h264, parse_pps, parse_sps,
                                      rbsp_escape, rbsp_unescape,
                                      read_residual_block, split_annexb,
                                      split_avcc, write_residual_block)
from tika_spark.analysis.isobmff import (avc_bytes, mp4_avc_track,
                                         mp4_h264_frames,
                                         video_h264_fixture)


def test_expgolomb_roundtrip():
    w = BitWriter()
    vals = list(range(40)) + [255, 1000, 65535]
    for v in vals:
        w.ue(v)
    svals = list(range(-20, 21)) + [500, -500]
    for v in svals:
        w.se(v)
    w.rbsp_trailing()
    r = BitReader(w.bytes())
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals


def test_rbsp_escape_roundtrip():
    for raw in (b"\x00\x00\x00\x00\x01\x02\x00\x00\x02",
                b"\x00\x00\x03\x00\x00\x00",
                bytes(range(256)) + b"\x00" * 5):
        esc = rbsp_escape(raw)
        # no raw 00 00 0x (x<=2) sequences survive escaping
        # (00 00 03 is the emulation-prevention byte itself)
        for i in range(len(esc) - 2):
            assert not (esc[i] == 0 and esc[i + 1] == 0
                        and esc[i + 2] <= 2)
        assert rbsp_unescape(esc) == raw


def test_annexb_split():
    nals = [b"\x67\x42", b"\x68\xce", b"\x65\x11\x22"]
    bs = b"".join(b"\x00\x00\x00\x01" + n for n in nals)
    assert split_annexb(bs) == nals
    # 3-byte start codes too
    bs3 = b"".join(b"\x00\x00\x01" + n for n in nals)
    assert split_annexb(bs3) == nals


def test_avcc_split():
    nals = [b"\x65" + bytes(10), b"\x65" + bytes(3)]
    sample = b"".join(len(n).to_bytes(4, "big") + n for n in nals)
    assert split_avcc(sample, 4) == nals
    with pytest.raises(H264Error):
        split_avcc(b"\x00\x00\x00\xff" + b"\x65", 4)


def _rt_residual(coeffs, nc, max_coeff):
    w = BitWriter()
    tc = write_residual_block(w, np.asarray(coeffs, np.int64), nc,
                              max_coeff)
    w.rbsp_trailing()
    r = BitReader(w.bytes())
    out, tc2 = read_residual_block(r, nc, max_coeff)
    assert tc == tc2
    return out


def test_cavlc_residual_roundtrip():
    rng = np.random.RandomState(5)
    for nc in (-1, 0, 1, 2, 3, 4, 5, 7, 8, 16):
        max_coeff = 4 if nc == -1 else 16
        for _trial in range(200):
            n_nz = rng.randint(0, max_coeff + 1)
            c = np.zeros(max_coeff, np.int64)
            pos = rng.choice(max_coeff, size=n_nz, replace=False)
            c[pos] = rng.randint(-2000, 2001, size=n_nz)
            got = _rt_residual(c, nc, max_coeff)
            assert (got == c).all(), (nc, c.tolist(), got.tolist())


def _levels(bits: str, t1s: int, tc: int, max_coeff: int):
    from tika_spark.analysis.h264 import _read_levels
    w = BitWriter()
    w.bits(bits)
    w.rbsp_trailing()
    return _read_levels(BitReader(w.bytes()), t1s, tc, max_coeff)


def test_cavlc_corrupt_positions_raise_h264error():
    # two trailing ones, total_zeros 14 ('000000'), run_before 0: the
    # first coefficient lands at 14 + 2 - 1 = 15, past a 15-coeff block
    with pytest.raises(H264Error):
        _levels("00" + "000000" + "111", 2, 2, 15)
    # total_zeros 7 ('0011'), run_before 14 (> zeros_left): the second
    # coefficient's position goes negative
    with pytest.raises(H264Error):
        _levels("00" + "0011" + "00000000001", 2, 2, 16)
    # the same shapes in range decode
    out, tc = _levels("00" + "0011" + "0001", 2, 2, 16)
    assert tc == 2 and out[8] == 1 and out[0] == 1


def test_cavlc_huge_levels():
    # exercise the escape prefixes (>= 15) incl. prefix >= 16
    for lv in (15, 16, 30, 31, 300, 5000, 60000, -60000):
        c = np.zeros(16, np.int64)
        c[0] = lv
        got = _rt_residual(c, 0, 16)
        assert got[0] == lv
    # many large levels with suffix escalation
    c = np.array([900, -800, 700, -600, 500, -400, 300, -200,
                  100, -90, 80, -70, 60, -50, 40, -30], np.int64)
    assert (_rt_residual(c, 16, 16) == c).all()


def test_sps_pps_roundtrip():
    from tika_spark.analysis.h264 import H264Encoder
    enc = H264Encoder(90, 70, qp=20)
    sps = parse_sps(enc.sps_rbsp())
    assert sps["width"] == 90 and sps["height"] == 70
    assert sps["mb_w"] == 6 and sps["mb_h"] == 5
    pps = parse_pps(enc.pps_rbsp())
    assert pps["pic_init_qp"] == 20
    assert pps["deblock_ctrl"] == 1


def test_uniform_frames_exact_all_plans():
    """Solid 16x16 frames: I_PCM is lossless by construction; the
    I16x16 DC path is lossless at qp=28 via the LS*MF=2^17
    identity."""
    for plan in ("pcm", "i16dc", "i4dc"):
        frames = [(np.full((16, 16), v, np.uint8),
                   np.full((8, 8), 128, np.uint8),
                   np.full((8, 8), 128, np.uint8))
                  for v in (0, 40, 128, 200, 255)]
        bs = encode_h264(frames, 16, 16, qp=28, plan=plan)
        out = decode_h264_annexb(bs)
        assert len(out) == 5
        for f, v in zip(out, (0, 40, 128, 200, 255)):
            exp = max(0, min(255, (298 * (v - 16) + 128) >> 8))
            assert (f[:, :, 0] == exp).all(), (plan, v)
            assert (f[:, :, 1] == exp).all()


def _decode_planes(bs):
    dec = H264Decoder()
    for nal in split_annexb(bs):
        dec.push(nal)
    return dec.frames


def test_quality_scales_with_qp():
    rng = np.random.RandomState(3)
    y = rng.randint(0, 256, (48, 64)).astype(np.uint8)
    u = rng.randint(0, 256, (24, 32)).astype(np.uint8)
    v = rng.randint(0, 256, (24, 32)).astype(np.uint8)
    prev = -1.0
    for qp in (4, 16, 28, 40):
        bs = encode_h264([(y, u, v)], 64, 48, qp=qp, plan="mix")
        yy, _, _ = _decode_planes(bs)[0]
        err = float(np.abs(yy.astype(int) - y.astype(int)).mean())
        assert err >= prev - 0.2          # monotone-ish in qp
        prev = err
    assert prev < 30                      # still recognizable at 40
    bs = encode_h264([(y, u, v)], 64, 48, qp=4, plan="mix")
    yy, uu, vv = _decode_planes(bs)[0]
    assert float(np.abs(yy.astype(int) - y.astype(int)).mean()) < 1.0


def test_rotate_plan_covers_all_modes():
    """The rotate plan cycles every intra prediction mode the
    availability rules permit — decode must round-trip closely on
    smooth content."""
    yy0, xx0 = np.mgrid[0:80, 0:96]
    y = ((yy0 * 3 + xx0 * 2) % 256).astype(np.uint8)
    u = ((yy0[:40, :48] * 5 + 60) % 256).astype(np.uint8)
    v = ((xx0[:40, :48] * 7 + 10) % 256).astype(np.uint8)
    bs = encode_h264([(y, u, v)], 96, 80, qp=10, plan="rotate")
    yy, uu, vv = _decode_planes(bs)[0]
    assert float(np.abs(yy.astype(int) - y.astype(int)).mean()) < 1.0
    assert float(np.abs(uu.astype(int) - u.astype(int)).mean()) < 1.0
    assert float(np.abs(vv.astype(int) - v.astype(int)).mean()) < 1.0


def test_cropped_dimensions():
    y = np.full((70, 90), 77, np.uint8)
    u = np.full((35, 45), 128, np.uint8)
    v = np.full((35, 45), 128, np.uint8)
    bs = encode_h264([(y, u, v)], 90, 70, qp=28, plan="i16dc")
    yy, uu, vv = _decode_planes(bs)[0]
    assert yy.shape == (70, 90)
    assert uu.shape == (35, 45)
    exp = (298 * (77 - 16) + 128) >> 8
    assert (yy == exp + 16 - 16).all() or (yy == 77).all()


def test_unsupported_features_raise():
    # CABAC PPS
    w = BitWriter()
    w.ue(0)
    w.ue(0)
    w.write(1, 1)                              # entropy_coding_mode=CABAC
    w.rbsp_trailing()
    with pytest.raises(H264Error):
        parse_pps(w.bytes())
    # P slice
    from tika_spark.analysis.h264 import H264Encoder, _nal
    enc = H264Encoder(16, 16)
    dec = H264Decoder()
    dec.push(_nal(7, enc.sps_rbsp()))
    dec.push(_nal(8, enc.pps_rbsp()))
    w = BitWriter()
    w.ue(0)
    w.ue(0)                                # slice_type P
    w.ue(0)
    w.write(0, 4)
    w.rbsp_trailing()
    with pytest.raises(H264Error):
        dec.push(_nal(1, w.bytes(), ref=2))
    # truncated slice data
    y = np.full((16, 16), 9, np.uint8)
    c = np.full((8, 8), 128, np.uint8)
    bs = encode_h264([(y, c, c)], 16, 16, plan="i4dc")
    nals = split_annexb(bs)
    dec = H264Decoder()
    dec.push(nals[0])
    dec.push(nals[1])
    with pytest.raises(H264Error):
        dec.push(nals[2][:8])


def test_mp4_fixture_closed_form():
    for did in range(10):
        mp4 = video_h264_fixture(did)
        frames = mp4_h264_frames(mp4)
        assert len(frames) == 2 + did % 3
        for k, f in enumerate(frames):
            yv = (did * 13 + 19 * k) % 256
            exp = max(0, min(255, (298 * (yv - 16) + 128) >> 8))
            assert f.shape == (16, 16, 3)
            assert (f[:, :, 0] == exp).all(), (did, k)
            assert (f[:, :, 2] == exp).all()


def _huge_sps() -> bytes:
    """An SPS NAL unit declaring 4000 x 4000 macroblocks."""
    from tika_spark.analysis.h264 import _nal
    w = BitWriter()
    w.write(66, 8)                         # profile_idc (Baseline)
    w.write(0, 8)                          # constraint flags
    w.write(30, 8)                         # level_idc
    w.ue(0)                                # sps_id
    w.ue(0)                                # log2_max_frame_num - 4
    w.ue(2)                                # poc_type
    w.ue(1)                                # max_num_ref_frames
    w.write(0, 1)                          # gaps_in_frame_num
    w.ue(3999)                             # pic_width_in_mbs - 1
    w.ue(3999)                             # pic_height_in_map_units - 1
    w.write(1, 1)                          # frame_mbs_only
    w.write(1, 1)                          # direct_8x8_inference
    w.write(0, 1)                          # frame_cropping
    w.write(0, 1)                          # vui_parameters_present
    w.rbsp_trailing()
    return _nal(7, w.bytes())


def test_sps_frame_size_guard():
    """A 64000 x 64000 SPS is refused while it is parsed, so no slice
    can allocate its planes."""
    nal = _huge_sps()
    with pytest.raises(H264Error, match="SPS frame size"):
        parse_sps(rbsp_unescape(nal[1:]))
    dec = H264Decoder()
    with pytest.raises(H264Error):
        dec.push(nal)
    assert dec.sps == {} and dec.frames == []


def test_oversized_sps_mp4_is_one_error_row(spark):
    from tika_spark.analysis.h264 import H264Encoder, _nal
    from tika_spark.analysis.isobmff import _mux_avc
    from tika_spark.analysis.video import sample_frame_stats
    enc = H264Encoder(16, 16)
    c = np.full((8, 8), 128, np.uint8)
    idr = _nal(5, enc.encode_frame(np.full((16, 16), 9, np.uint8), c, c))
    mp4 = _mux_avc([len(idr).to_bytes(4, "big") + idr], _huge_sps(),
                   _nal(8, enc.pps_rbsp()), 16, 16, 25)
    df = spark.createDataFrame([(1, mp4)], "id long, payload binary")
    rows = sample_frame_stats(df, every=1).collect()
    assert len(rows) == 1 and rows[0]["status"] == "error"


def test_mp4_track_metadata():
    mp4 = video_h264_fixture(3)
    track, avcc = mp4_avc_track(mp4)
    assert track["width"] == 16 and track["height"] == 16
    assert avcc["length_size"] == 4
    assert len(avcc["sps"]) == 1 and len(avcc["pps"]) == 1
    assert len(track["samples"]) == 2 + 3 % 3


def test_mp4_video_demux_dispatch():
    from tika_spark.analysis.video import _demux
    kind, frames = _demux(video_h264_fixture(4))
    assert kind == "raw"
    assert len(frames) == 2 + 4 % 3
    assert frames[0].shape == (16, 16, 3)


def test_mp4_corrupt_raises():
    from tika_spark.analysis.isobmff import Mp4Error
    with pytest.raises(Mp4Error):
        mp4_h264_frames(b"\x00\x00\x00\x08ftypisom")
    good = video_h264_fixture(1)
    with pytest.raises((Mp4Error, H264Error, Exception)):
        mp4_h264_frames(good[:len(good) // 2] + b"\x00" * 4)


# --------------------------------------------- container integrations


def test_ts_h264_stream():
    from tika_spark.analysis.h264 import encode_h264
    from tika_spark.analysis.mpegts import (ts_video, ts_video_frames,
                                            ts_wrap)
    y = np.full((16, 16), 77, np.uint8)
    c = np.full((8, 8), 128, np.uint8)
    es = encode_h264([(y, c, c)] * 2, 16, 16, qp=28, plan="i16dc")
    ts = ts_wrap(es, stream_type=0x1B, pid=0x123)
    stype, es2 = ts_video(ts)
    assert stype == 0x1B and es2 == es
    frames = ts_video_frames(ts)
    exp = (298 * (77 - 16) + 128) >> 8
    assert len(frames) == 2
    assert (frames[0][:, :, 0] == exp).all()
    # MPEG-2 streams still route through mpegvideo
    from tika_spark.analysis.mpegts import mpegts_fixture
    assert ts_video(mpegts_fixture(1))[0] in (0x01, 0x02)


def test_flv_avc_roundtrip():
    from tika_spark.analysis.flvdemux import (decode_flv_video,
                                              flv_video,
                                              flv_video_fixture)
    for did in range(6):
        flv = flv_video_fixture(did)
        avcc, payloads = flv_video(flv)
        assert avcc[0] == 1 and len(payloads) == 2 + did % 2
        frames = decode_flv_video(flv)
        for k, f in enumerate(frames):
            yv = (did * 23 + 31 * k) % 256
            exp = max(0, min(255, (298 * (yv - 16) + 128) >> 8))
            assert (f[:, :, 0] == exp).all(), (did, k)


def test_flv_non_avc_video_raises():
    from tika_spark.analysis.flvdemux import (FlvError, _tag,
                                              decode_flv_video)
    out = bytearray(b"FLV\x01\x01" + (9).to_bytes(4, "big"))
    tag = _tag(9, 0, bytes((0x12,)) + b"\x00" * 8)   # Sorenson H.263
    out += (0).to_bytes(4, "big") + tag
    out += len(tag).to_bytes(4, "big")
    with pytest.raises(FlvError):
        decode_flv_video(bytes(out))


def test_demux_dispatch_ts_flv():
    from tika_spark.analysis.flvdemux import flv_video_fixture
    from tika_spark.analysis.h264 import encode_h264
    from tika_spark.analysis.mpegts import ts_wrap
    from tika_spark.analysis.video import _demux
    kind, fr = _demux(flv_video_fixture(2))
    assert kind == "raw" and len(fr) == 2
    y = np.full((16, 16), 30, np.uint8)
    c = np.full((8, 8), 128, np.uint8)
    ts = ts_wrap(encode_h264([(y, c, c)], 16, 16), stream_type=0x1B)
    kind, fr = _demux(ts)
    assert kind == "raw" and len(fr) == 1


def test_media_meta_h264_dimensions():
    from tika_spark.media import extract_media
    mp4 = video_h264_fixture(5)
    r = extract_media(mp4, mime="video/mp4")
    assert r["metadata"]["width"] == ["16"]
    assert r["metadata"]["height"] == ["16"]
    assert "avc1" in r["metadata"]["compression-type"]
    from tika_spark.analysis.h264 import encode_h264
    from tika_spark.analysis.mpegts import ts_wrap
    y = np.full((32, 48), 10, np.uint8)
    c = np.full((16, 24), 128, np.uint8)
    ts = ts_wrap(encode_h264([(y, c, c)], 48, 32), stream_type=0x1B)
    r2 = extract_media(ts, mime="video/mp2t")
    assert r2["metadata"]["width"] == ["48"]
    assert r2["metadata"]["height"] == ["32"]


class TestSliceCensus:
    """Round-5 CABAC tier: entropy-mode-independent frame census
    (slice headers are plain Exp-Golomb even in Main/High-profile
    CABAC streams), plus clean refusal of CABAC slice data by the
    CAVLC pixel decoders."""

    def test_cabac_mp4_census(self):
        from tika_spark.analysis.isobmff import (mp4_h264_slice_census,
                                                 video_h264_cabac_fixture)
        rows = mp4_h264_slice_census(video_h264_cabac_fixture(3))
        assert [r["slice_type"] for r in rows] == \
            ["I", "B", "P", "B", "P", "B"]
        assert all(r["entropy"] == "cabac" for r in rows)
        assert rows[0]["idr"] and not rows[1]["idr"]
        assert [r["frame_num"] for r in rows] == [3, 4, 5, 6, 7, 8]
        assert [r["poc_lsb"] for r in rows] == [0, 2, 4, 6, 8, 10]
        assert all(r["nal_bytes"] > 64 for r in rows)

    def test_cavlc_census_and_refusal(self):
        import pytest
        from tika_spark.analysis.isobmff import (Mp4Error,
                                                 mp4_h264_frames,
                                                 mp4_h264_slice_census,
                                                 video_h264_cabac_fixture,
                                                 video_h264_fixture)
        rows = mp4_h264_slice_census(video_h264_fixture(4))
        assert all(r["entropy"] == "cavlc" and r["slice_type"] == "I"
                   for r in rows)
        assert len(rows) == 3           # 2 + 4%3 frames
        with pytest.raises((Mp4Error, ValueError)):
            mp4_h264_frames(video_h264_cabac_fixture(1))


class TestCabacEngine:
    """§9.3.3.2 / §9.3.4 arithmetic engine: encoder/decoder inverse
    over randomized decisions/bypass/terminate, init formula, and
    structural pins on the transcribed tables (the published
    alpha=0.9492 state-decay law)."""

    def test_roundtrip_randomized(self):
        import random
        from tika_spark.analysis.h264 import (CabacDecoder,
                                              CabacEncoder,
                                              cabac_init_context)
        rng = random.Random(9)
        for _ in range(40):
            n_ctx = rng.randint(1, 6)
            inits = [(rng.randint(-40, 40), rng.randint(-40, 90))
                     for _ in range(n_ctx)]
            qp = rng.randint(0, 51)
            ops = []
            for _ in range(rng.randint(1, 200)):
                r = rng.random()
                if r < 0.6:
                    ops.append(("d", rng.randrange(n_ctx),
                                rng.randint(0, 1)))
                elif r < 0.9:
                    ops.append(("b", None, rng.randint(0, 1)))
                else:
                    ops.append(("t", None, 0))
            ops.append(("t", None, 1))
            enc = CabacEncoder()
            ectx = [list(cabac_init_context(m, n, qp))
                    for m, n in inits]
            for op, c, v in ops:
                (enc.decision(ectx[c], v) if op == "d"
                 else enc.bypass(v) if op == "b"
                 else enc.terminate(v))
            dec = CabacDecoder(enc.flush())
            dctx = [list(cabac_init_context(m, n, qp))
                    for m, n in inits]
            for op, c, v in ops:
                got = (dec.decision(dctx[c]) if op == "d"
                       else dec.bypass() if op == "b"
                       else dec.terminate())
                assert got == v

    def test_table_structure(self):
        from tika_spark.analysis.h264 import (_RANGE_TAB_LPS,
                                              _TRANS_IDX_LPS)
        assert len(_RANGE_TAB_LPS) == 64 and len(_TRANS_IDX_LPS) == 64
        assert _RANGE_TAB_LPS[0] == (128, 176, 208, 240)
        assert _RANGE_TAB_LPS[63] == (2, 2, 2, 2)
        # rows decay ~alpha=0.9492 (quantization tolerance ±2);
        # column 0 is clamped at 128 for the first three states in
        # the spec table, so its decay check starts at s=3.
        # columns strictly increase with the range quantile
        for s in range(1, 63):
            for q in range(4):
                if q == 0 and s < 4:
                    assert _RANGE_TAB_LPS[s][0] in (128, 123)
                    continue
                expect = _RANGE_TAB_LPS[s - 1][q] * 0.9492
                assert abs(_RANGE_TAB_LPS[s][q] - expect) <= 2, (s, q)
        for s in range(63):
            row = _RANGE_TAB_LPS[s]
            assert row[0] < row[1] < row[2] < row[3]
        assert _TRANS_IDX_LPS[63] == 63        # terminal state sticks
        assert all(_TRANS_IDX_LPS[s] <= s or s < 2 for s in range(64))

    def test_init_formula(self):
        from tika_spark.analysis.h264 import cabac_init_context
        # §9.3.1.1 worked examples: pre <= 63 flips MPS
        assert cabac_init_context(0, 64, 26) == (0, 1)
        assert cabac_init_context(0, 63, 26) == (0, 0)
        state, mps = cabac_init_context(-20, 40, 51)
        assert 0 <= state <= 62 and mps in (0, 1)
