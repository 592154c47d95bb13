"""VP8 inter-frame tier (analysis/vp8inter.py): MV entropy coding,
near-MV survey, motion compensation (full-pel + all sixtap phases),
reference buffers, loop-filtered interframes, WebM integration, and
fuzz robustness."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tika_spark.analysis import vp8, vp8inter


def _keyframe(dec, H=48, W=64, q=16, seed=1):
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 256, (H, W)).astype(np.int32)
    u = rng.randint(0, 256, (H // 2, W // 2)).astype(np.int32)
    v = rng.randint(0, 256, (H // 2, W // 2)).astype(np.int32)
    kf, recon = vp8.encode_vp8_yuv(y, u, v, qindex=q, plan="dc")
    dec.decode_yuv(kf)
    return kf, recon


def _inter_roundtrip(dec, mv, q=10, intra_every=0, filter_level=0,
                     shift=True):
    H, W = dec.height, dec.width
    base = dec.last[0]
    src_y = (np.roll(base, (mv[0] // 8, mv[1] // 8), axis=(0, 1))
             if shift else base // 2 + 30)[:H, :W]
    payload, recon = vp8inter.encode_vp8_inter_yuv(
        dec.last, src_y, dec.last[1][:H // 2, :W // 2],
        dec.last[2][:H // 2, :W // 2], mv=mv, qindex=q,
        intra_every=intra_every, filter_level=filter_level)
    dy, du, dv = dec.decode_yuv(payload)
    assert np.array_equal(dy, recon[0][:H, :W].astype(np.uint8))
    assert np.array_equal(du, recon[1][:H // 2, :W // 2]
                          .astype(np.uint8))
    assert np.array_equal(dv, recon[2][:H // 2, :W // 2]
                          .astype(np.uint8))
    return payload


def _padded_keyframe(H, W, q=10, seed=7, **kw):
    """A key frame of a random H x W image and its MB-aligned
    reconstruction: the same macroblocks coded at the padded size,
    whose bitstream differs only in the frame-size field."""
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 256, (H, W))
    u = rng.randint(0, 256, ((H + 1) // 2, (W + 1) // 2))
    v = rng.randint(0, 256, ((H + 1) // 2, (W + 1) // 2))
    mb_h, mb_w = (H + 15) // 16, (W + 15) // 16
    padded = [np.pad(p, ((0, n * mb_h - p.shape[0]),
                         (0, n * mb_w - p.shape[1])), mode="edge")
              for p, n in ((y, 16), (u, 8), (v, 8))]
    kf, _ = vp8.encode_vp8_yuv(y, u, v, qindex=q, **kw)
    kf_pad, recon = vp8.encode_vp8_yuv(*padded, qindex=q, **kw)
    assert kf[:6] == kf_pad[:6] and kf[10:] == kf_pad[10:]
    return kf, tuple(p.astype(np.int32) for p in recon)


def test_keyframe_keeps_decoded_padding():
    """A key frame refreshes last/golden/altref with its decoded
    MB-aligned planes, padding included (as libvpx does), not with an
    edge replication of the cropped frame."""
    kf, padded = _padded_keyframe(20, 20)
    dec = vp8inter.VP8Decoder()
    dec.decode_yuv(kf)
    for planes in (dec.last, dec.golden, dec.altref):
        for got, want in zip(planes, padded):
            assert np.array_equal(got, want)


@pytest.mark.parametrize("H,W", [(20, 20), (24, 40)])
def test_nonaligned_frame_chain_roundtrip(H, W):
    """Key and inter frames of a size that is not whole macroblocks:
    MVs that read the decoded padding, intra MBs, a golden reference
    and the loop filter all decode to the encoder's reconstruction."""
    kf, key = _padded_keyframe(H, W, q=12, filter_level=10)
    dec = vp8inter.VP8Decoder()
    dec.decode_yuv(kf)
    refs = dict.fromkeys(("last", "golden", "altref"), key)
    ch, cw = (H + 1) // 2, (W + 1) // 2
    for mv, every, level, ref, refresh in (
            ((16, 16), 0, 0, "last", ("last",)),
            ((32, 32), 3, 0, "last", ("last", "golden")),
            ((16, 0), 0, 16, "last", ("last",)),
            ((48, 48), 2, 0, "golden", ("last",)),
            ((0, 16), 0, 8, "golden", ("last", "altref"))):
        prev = refs[ref]
        src = np.roll(prev[0], (mv[0] // 8, mv[1] // 8), axis=(0, 1))
        payload, recon = vp8inter.encode_vp8_inter_yuv(
            prev, src[:H, :W], prev[1][:ch, :cw], prev[2][:ch, :cw],
            mv=mv, qindex=8, intra_every=every, filter_level=level,
            ref=ref, refresh=refresh)
        for name in refresh:
            refs[name] = recon
        got = dec.decode_yuv(payload)
        for g, want in zip(got, (recon[0][:H, :W], recon[1][:ch, :cw],
                                 recon[2][:ch, :cw])):
            assert np.array_equal(g, want.astype(np.uint8))
        for name in ("last", "golden", "altref"):
            for g, want in zip(getattr(dec, name), refs[name]):
                assert np.array_equal(g, want)


class TestMvEntropy:
    @given(st.integers(-1000, 1000))
    @settings(max_examples=200, deadline=None)
    def test_component_roundtrip(self, v):
        v8 = v * 2                           # quarter-pel → eighth-pel
        be = vp8._BoolEnc()
        vp8inter._write_mvcomponent(be, vp8inter.MV_PROBS[0], v8)
        payload = be.bytes()
        bd = vp8._BoolDec(payload)
        got = vp8inter._read_mvcomponent(bd, vp8inter.MV_PROBS[0])
        assert got == v8

    def test_odd_mv_rejected(self):
        be = vp8._BoolEnc()
        with pytest.raises(ValueError, match="quarter-pel"):
            vp8inter._write_mvcomponent(be, vp8inter.MV_PROBS[0], 3)


class TestSurvey:
    def test_weights_and_merge(self):
        mbs = [[vp8._MBInfo() for _ in range(3)] for _ in range(3)]
        # above and left share an MV (merge), above-left differs
        mbs[0][1].is_inter = True
        mbs[0][1].mv = (16, 0)
        mbs[1][0].is_inter = True
        mbs[1][0].mv = (16, 0)
        mbs[0][0].is_inter = True
        mbs[0][0].mv = (0, 32)
        best, nearest, near, cnt = vp8inter._find_near_mvs(
            mbs, 1, 1, 3, 3)
        assert nearest == (16, 0) and cnt[1] == 4
        assert near == (0, 32) and cnt[2] == 1
        assert best == (16, 0)               # cnt[1] >= cnt[0]

    def test_zero_votes(self):
        mbs = [[vp8._MBInfo() for _ in range(3)] for _ in range(3)]
        mbs[0][1].is_inter = True            # zero-MV inter above
        best, nearest, near, cnt = vp8inter._find_near_mvs(
            mbs, 1, 1, 3, 3)
        assert cnt[0] == 2 and nearest == (0, 0)
        assert best == (0, 0)

    def test_clamp(self):
        mbs = [[vp8._MBInfo() for _ in range(2)] for _ in range(2)]
        mbs[0][0].is_inter = True
        mbs[0][0].mv = (-10000, 10000)
        best, nearest, _, _ = vp8inter._find_near_mvs(mbs, 0, 1, 2, 2)
        # MB (1, 0): 16 px from the top + 16 px border up; one MB
        # width + 16 px border right
        assert nearest == (-(32 * 8), (16 + 16) * 8)


class TestRoundTrip:
    def test_full_pel_pan(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec)
        _inter_roundtrip(dec, (16, -32))

    def test_all_sixtap_phases(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec)
        for mv in ((2, 6), (10, -14), (4, 12), (-6, 2)):
            _inter_roundtrip(dec, mv)

    def test_zero_mv_residual_only(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec)
        _inter_roundtrip(dec, (0, 0), q=4, shift=False)

    def test_intra_in_interframe(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec)
        _inter_roundtrip(dec, (16, 16), intra_every=4)

    def test_loop_filtered_interframe(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec, q=40)
        _inter_roundtrip(dec, (0, 0), q=30, filter_level=24,
                         shift=False)

    def test_frame_chain(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec)
        for mv in ((16, 0), (0, -16), (8, 8), (0, 0)):
            _inter_roundtrip(dec, mv, q=8)


class TestErrors:
    def test_interframe_before_keyframe(self):
        dec = vp8inter.VP8Decoder()
        with pytest.raises(ValueError, match="before any keyframe"):
            dec.decode_yuv(b"\x03\x00\x00")

    def test_splitmv_is_documented_drop(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec, H=16, W=16)
        # hand-code a frame whose single MB picks SPLITMV: survey of
        # the first MB is all-zero counts → probs MODE_CONTEXTS[0]
        be = vp8._BoolEnc()
        be.put(0)                            # segmentation
        be.put(0)                            # filter type
        be.literal(0, 6)
        be.literal(0, 3)
        be.put(0)                            # lf delta
        be.literal(0, 2)
        be.literal(0, 7)                     # qindex
        for _ in range(5):
            be.put(0)
        be.put(0)                            # refresh golden
        be.put(0)                            # refresh alt
        be.literal(0, 2)
        be.literal(0, 2)
        be.put(0)
        be.put(0)
        be.put(0)                            # refresh entropy
        be.put(1)                            # refresh last
        for t in range(4):
            for b in range(8):
                for c in range(3):
                    for k in range(11):
                        be.put(0, vp8.COEFF_UPDATE_PROBS[t][b][c][k])
        be.put(1)
        be.literal(128, 8)                   # skip prob
        be.literal(128, 8)                   # prob_intra
        be.literal(128, 8)                   # prob_last
        be.literal(128, 8)                   # prob_gf
        be.put(0)
        be.put(0)
        for c in range(2):
            for j in range(19):
                be.put(0, vp8inter.MV_UPDATE_PROBS[c][j])
        be.put(0, 128)                       # not skipped
        be.put(1, 128)                       # inter
        be.put(0, 128)                       # ref = last
        probs = vp8inter._mv_ref_probs([0, 0, 0, 0])
        be.tree(vp8inter.MV_REF_TREE, probs, vp8inter.SPLITMV)
        part1 = be.bytes()
        tag = 1 | (1 << 4) | (len(part1) << 5)
        payload = bytes((tag & 0xFF, (tag >> 8) & 0xFF,
                         (tag >> 16) & 0xFF)) + part1 + b"\x00" * 8
        with pytest.raises(ValueError, match="SPLITMV"):
            dec.decode_yuv(payload)

    def test_nonzero_version_rejected(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec, H=16, W=16)
        with pytest.raises(ValueError, match="bilinear"):
            dec.decode_yuv(bytes((1 | (1 << 1), 0, 0)) + b"\x00" * 8)


class TestWebm:
    def test_mixed_key_inter_stream(self):
        from tika_spark.analysis.ebml import (mkv_wrap_video,
                                              webm_vp8_frames)
        H, W = 32, 48
        rng = np.random.RandomState(5)
        y = rng.randint(0, 256, (H, W)).astype(np.int32)
        u = np.full((H // 2, W // 2), 90, np.int32)
        v = np.full((H // 2, W // 2), 150, np.int32)
        kf, recon = vp8.encode_vp8_yuv(y, u, v, qindex=12, plan="dc")
        dec = vp8inter.VP8Decoder()
        dec.decode_yuv(kf)
        frames = [kf]
        expect = [recon]
        for mv in ((16, 0), (0, 16), (2, -6)):
            src = np.roll(dec.last[0], (mv[0] // 8, mv[1] // 8),
                          axis=(0, 1))[:H, :W]
            p, rec = vp8inter.encode_vp8_inter_yuv(
                dec.last, src, dec.last[1][:H // 2, :W // 2],
                dec.last[2][:H // 2, :W // 2], mv=mv, qindex=8)
            dec.decode_yuv(p)
            frames.append(p)
            expect.append(tuple(
                pl[:s, :w].astype(np.uint8) for pl, (s, w) in
                zip(rec, ((H, W), (H // 2, W // 2),
                          (H // 2, W // 2)))))
        webm = mkv_wrap_video(frames, W, H)
        got = webm_vp8_frames(webm)
        assert len(got) == 4
        for g, ex in zip(got, expect):
            want = vp8.yuv_to_rgb(*[np.asarray(p, np.uint8)
                                    for p in ex])
            assert np.array_equal(g, want)

    def test_keyframe_flag_in_simpleblock(self):
        from tika_spark.analysis.ebml import mkv_wrap_video
        kf = bytes((0x00, 0x00, 0x00)) + b"x" * 8   # tag bit0=0
        pf = bytes((0x01, 0x00, 0x00)) + b"x" * 8   # tag bit0=1
        webm = mkv_wrap_video([kf, pf], 16, 16)
        # the inter SimpleBlock must NOT carry the keyframe flag
        assert webm.count(b"\x80" + kf[:3]) >= 1
        assert webm.count(b"\x00" + pf[:3]) >= 1


class TestFuzz:
    @given(st.integers(0, 2 ** 32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_mutations_never_hang_or_crash(self, seed):
        rng = np.random.RandomState(seed % (2 ** 31))
        dec = vp8inter.VP8Decoder()
        _keyframe(dec, H=16, W=16, seed=int(rng.randint(1000)))
        src = dec.last[0][:16, :16]
        payload, _ = vp8inter.encode_vp8_inter_yuv(
            dec.last, src, dec.last[1][:8, :8], dec.last[2][:8, :8],
            mv=(16, 0), qindex=int(rng.randint(0, 100)))
        buf = bytearray(payload)
        for _ in range(4):
            buf[int(rng.randint(len(buf)))] = int(rng.randint(256))
        buf[0] |= 1                          # stay an interframe
        try:
            dec.decode_yuv(bytes(buf))
        except ValueError:
            pass                             # clean rejection


class TestReferenceBuffers:
    def test_golden_reference_and_refresh(self):
        """kf → P1 (refresh last only; golden stays the keyframe) →
        P2 referencing GOLDEN must predict from the keyframe, not P1;
        P3 after a refresh_golden frame predicts from the new golden."""
        dec = vp8inter.VP8Decoder()
        _, recon_kf = _keyframe(dec)
        H, W = dec.height, dec.width
        kf_planes = dec.last

        # P1: darken, refresh last only
        p1, rec1 = vp8inter.encode_vp8_inter_yuv(
            dec.last, dec.last[0][:H, :W] // 2,
            dec.last[1][:H // 2, :W // 2],
            dec.last[2][:H // 2, :W // 2], mv=(0, 0), qindex=6)
        dec.decode_yuv(p1)
        assert dec.golden is kf_planes        # untouched

        # P2: reference golden (the keyframe), zero motion, zero
        # residual -> must reproduce the KEYFRAME exactly
        p2, rec2 = vp8inter.encode_vp8_inter_yuv(
            kf_planes, kf_planes[0][:H, :W],
            kf_planes[1][:H // 2, :W // 2],
            kf_planes[2][:H // 2, :W // 2], mv=(0, 0), qindex=0,
            ref="golden", refresh=("last", "golden"))
        dy, du, dv = dec.decode_yuv(p2)
        assert np.array_equal(dy, recon_kf[0])
        assert dec.golden is dec.last         # refreshed together

        # P3: altref path — reference altref (still the keyframe)
        assert dec.altref is kf_planes
        p3, rec3 = vp8inter.encode_vp8_inter_yuv(
            kf_planes, kf_planes[0][:H, :W],
            kf_planes[1][:H // 2, :W // 2],
            kf_planes[2][:H // 2, :W // 2], mv=(16, 0), qindex=8,
            ref="altref", refresh=("last", "altref"))
        dy3, _, _ = dec.decode_yuv(p3)
        assert np.array_equal(dy3, rec3[0][:H, :W].astype(np.uint8))

    def test_bad_ref_rejected(self):
        dec = vp8inter.VP8Decoder()
        _keyframe(dec, H=16, W=16)
        with pytest.raises(ValueError, match="unknown reference"):
            vp8inter.encode_vp8_inter_yuv(
                dec.last, dec.last[0][:16, :16], dec.last[1][:8, :8],
                dec.last[2][:8, :8], ref="nope")
