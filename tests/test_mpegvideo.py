"""MPEG-1 video (ISO/IEC 11172-2) I/P decoder tests."""

import numpy as np
import pytest

from tika_spark.analysis import mpegvideo as m
from tika_spark.analysis.bitio import MsbReader, MsbWriter


def _decode_fixture(doc_id):
    return m.decode_mpeg1(m.mpeg1_fixture(doc_id))


class TestLayers:
    def test_fixture_closed_forms(self):
        for doc_id in (0, 1, 7, 100, 223):
            frames, meta = _decode_fixture(doc_id)
            assert meta["width"] == 48 and meta["height"] == 16
            assert meta["picture_types"] == [1, 2, 2]
            v0 = 16 + doc_id % 224
            v1 = 16 + (doc_id * 7 + 31) % 224
            v2 = 16 + (doc_id * 13 + 5) % 224
            v3 = 16 + (doc_id * 11 + 3) % 224
            f0, f1, f2 = frames
            assert (f0[:, 0:16, 0] == v0).all()
            assert (f0[:, 16:32, 0] == v1).all()
            assert (f0[:, 32:48, 0] == v2).all()
            assert (f0[..., 1] == 128).all()
            exp1 = [v0] * 14 + [v1] * 20 + [v2] * 14
            assert (f1[..., 0] == np.array(exp1)[None, :]).all()
            exp2 = [v3] * 16 + [v1] * 19 + [v2] * 13
            assert (f2[..., 0] == np.array(exp2)[None, :]).all()
            assert (f2[..., 2] == 128).all()

    def test_intra_dc_prediction_chains_across_mbs(self):
        # second MB's first luma diff is relative to the first MB's
        # last luma DC, not to 128
        pic = {"type": "I", "mbs": [
            {"dc": [10, 0, 0, 0, 0, 0]},       # 138 flat
            {"dc": [-20, 0, 0, 0, 0, 0]},      # 118 flat
            {"dc": [5, 0, 0, 0, 0, 0]}]}       # 123 flat
        frames, _ = m.decode_mpeg1(m.mpeg1_bytes(48, 16, [pic]))
        y = frames[0][..., 0]
        assert (y[:, 0:16] == 138).all()
        assert (y[:, 16:32] == 118).all()
        assert (y[:, 32:48] == 123).all()

    def test_loaded_quant_matrix_and_escape_ac(self):
        # one escape-coded AC coefficient: F[zz 1] = (2*5*q*16)//16
        # made odd; spatial = IDCT, checked against a plain cosine
        # double loop (independent reference)
        q = 8
        pic = {"type": "I", "mbs": [
            {"dc": [0, 0, 0, 0, 0, 0], "ac": [(0, 0, 5)]},
            {"dc": [0, 0, 0, 0, 0, 0]},
            {"dc": [0, 0, 0, 0, 0, 0]}]}
        frames, _ = m.decode_mpeg1(
            m.mpeg1_bytes(48, 16, [pic], qscale=q))
        f = (2 * 5 * q * 16) // 16
        if f % 2 == 0:
            f -= 1
        F = np.zeros((8, 8))
        F[0, 0] = 128 * 8
        F[0, 1] = f                      # zigzag index 1 = (u=0,v=1)
        ref = np.zeros((8, 8))
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 2 ** -0.5 if u == 0 else 1.0
                        cv = 2 ** -0.5 if v == 0 else 1.0
                        s += cu * cv * F[u, v] \
                            * np.cos((2 * x + 1) * v * np.pi / 16) \
                            * np.cos((2 * y + 1) * u * np.pi / 16)
                ref[y, x] = s / 4.0
        expect = np.clip(np.rint(ref), 0, 255).astype(np.uint8)
        got = frames[0][0:8, 0:8, 0]
        assert (got == expect).all()

    def test_half_pel_interpolation_rounds_up(self):
        # 48x32 (two MB rows): I-frame with AC ripples makes non-flat
        # patterns, then half-pel vectors on top-row MBs must equal
        # the spec's (a + b + 1) >> 1 averages
        row0 = [{"dc": [0, 0, 0, 0, 0, 0], "ac": [(0, 2, 7)]},
                {"dc": [9, 0, 0, 0, 0, 0], "ac": [(1, 0, -3)]},
                {"dc": [0, 0, 0, 0, 0, 0], "ac": [(2, 1, 4)]}]
        row1 = [{"dc": [25, 0, 0, 0, 0, 0]},
                {"dc": [0, 0, 0, 0, 0, 0]},
                {"dc": [-7, 0, 0, 0, 0, 0]}]
        pic0 = {"type": "I", "mbs": row0 + row1}
        pic1 = {"type": "P", "mbs": [
            {"kind": "mc", "mv": (1, 1)},      # both: 4-tap average
            {"kind": "mc", "mv": (0, 1)},      # +1 half-pel down
            {"kind": "mc", "mv": (0, 0)},
            {"kind": "mc", "mv": (1, 0)},      # +1 half-pel right
            {"kind": "mc", "mv": (0, 0)},
            {"kind": "mc", "mv": (0, 0)}]}
        frames, _ = m.decode_mpeg1(
            m.mpeg1_bytes(48, 32, [pic0, pic1], full_pel=False))
        y0 = frames[0][..., 0].astype(np.int32)
        y1 = frames[1][..., 0].astype(np.int32)
        a = y0[0:17, 0:17]                     # MB0: 17x17 region
        exp0 = (a[:-1, :-1] + a[:-1, 1:] + a[1:, :-1]
                + a[1:, 1:] + 2) >> 2
        assert (y1[0:16, 0:16] == exp0).all()
        assert (y1[0:16, 16:32]
                == ((y0[0:16, 16:32] + y0[1:17, 16:32] + 1) >> 1)).all()
        assert (y1[0:16, 32:48] == y0[0:16, 32:48]).all()
        assert (y1[16:32, 0:16]
                == ((y0[16:32, 0:16] + y0[16:32, 1:17] + 1) >> 1)).all()
        assert (y1[16:32, 16:48] == y0[16:32, 16:48]).all()

    def test_motion_vector_wraparound(self):
        assert m._recon_mv(15, 1, 0, 1) == -16
        assert m._recon_mv(-16, -1, 0, 1) == 15
        assert m._recon_mv(0, 3, 0, 1) == 3
        # f=2: delta = sign*( (|code|-1)*f + r + 1 )
        assert m._recon_mv(0, 2, 1, 2) == 4
        assert m._recon_mv(0, -2, 0, 2) == -3

    def test_motion_table_derivation(self):
        assert m.MOTION_VLC["1"] == 0
        assert m.MOTION_VLC["010"] == 1 and m.MOTION_VLC["011"] == -1
        assert m.MOTION_VLC["0010"] == 2 and m.MOTION_VLC["0011"] == -2
        assert m.MOTION_VLC["00010"] == 3


class TestBPictures:
    def _fixture_values(self, doc_id):
        return (16 + doc_id % 224, 16 + (doc_id * 7 + 31) % 224,
                16 + (doc_id * 13 + 5) % 224,
                16 + (doc_id * 11 + 3) % 224,
                16 + (doc_id * 17 + 9) % 224,
                16 + (doc_id * 23 + 11) % 224)

    def test_bps_fixture_closed_forms(self):
        for doc_id in (0, 3, 5, 41, 200):
            ps = m.mpeg1_bps_fixture(doc_id)
            es = m.ps_video_es(ps)
            frames, meta = m.decode_mpeg1(es)
            v0, v1, v2, w0, w1, w2 = self._fixture_values(doc_id)
            # display order I B P from coded order I P B
            assert meta["picture_types"] == [1, 3, 2]
            f0, f1, f2 = frames
            assert (f0[:, 0:16, 0] == v0).all()
            assert (f0[:, 16:32, 0] == v1).all()
            assert (f0[:, 32:48, 0] == v2).all()
            # B: fwd (+2,0) | skipped repeat | bi average
            exp1 = ([v0] * 14 + [v1] * 2 + [v1] * 14 + [v2] * 2
                    + [(v2 + w2 + 1) >> 1] * 16)
            assert (f1[..., 0] == np.array(exp1)[None, :]).all()
            assert (f1[..., 1] == 128).all()
            assert (f1[..., 2] == 128).all()
            exp2 = [w0] * 16 + [w1] * 16 + [w2] * 16
            assert (f2[..., 0] == np.array(exp2)[None, :]).all()

    def test_max_frames_in_display_order(self):
        es = m.ps_video_es(m.mpeg1_bps_fixture(5))
        frames, meta = m.decode_mpeg1(es, max_frames=2)
        assert meta["picture_types"] == [1, 3]
        assert len(frames) == 2
        frames, meta = m.decode_mpeg1(es, max_frames=1)
        assert meta["picture_types"] == [1]

    def test_backward_only_prediction(self):
        # B with a pure backward macroblock row: copies the FUTURE
        # anchor, not the past one
        pic0 = {"type": "I", "mbs": [{"dc": [10, 0, 0, 0, 0, 0]},
                                     {"dc": [0, 0, 0, 0, 0, 0]},
                                     {"dc": [0, 0, 0, 0, 0, 0]}]}
        pic1 = {"type": "P", "mbs": [
            {"kind": "intra", "dc": [70, 0, 0, 0, 0, 0]},
            {"kind": "intra", "dc": [0, 0, 0, 0, 0, 0]},
            {"kind": "intra", "dc": [0, 0, 0, 0, 0, 0]}]}
        picb = {"type": "B", "mbs": [
            {"kind": "bwd", "mv": (0, 0)},
            {"kind": "bwd", "mv": (0, 0)},
            {"kind": "bwd", "mv": (0, 0)}]}
        frames, meta = m.decode_mpeg1(
            m.mpeg1_bytes(48, 16, [pic0, pic1, picb]))
        assert meta["picture_types"] == [1, 3, 2]
        assert (frames[1][..., 0] == frames[2][..., 0]).all()
        assert (frames[1][:, 0:16, 0] == 198).all()

    def test_ps_roundtrip_and_errors(self):
        es = m.mpeg1_fixture(7)
        for psize in (64, 256, 4096):
            assert m.ps_video_es(m.ps_wrap(es, psize)) == es
        with pytest.raises(ValueError, match="not an MPEG program"):
            m.ps_video_es(es)
        with pytest.raises(ValueError, match="no video packets"):
            m.ps_video_es(b"\x00\x00\x01\xba" + bytes(
                (0x21, 0, 1, 0, 1, 0x80, 0, 1)) + b"\x00\x00\x01\xb9")

    def test_b_before_references_raises(self):
        pic0 = {"type": "I", "mbs": [{"dc": [0] * 6}] * 3}
        picb = {"type": "B", "mbs": [
            {"kind": "fwd", "mv": (0, 0)}] * 3}
        # B needs TWO anchors; after only the I it must refuse
        with pytest.raises(ValueError, match="reference"):
            m.decode_mpeg1(m.mpeg1_bytes(48, 16, [pic0, picb]))
        with pytest.raises(ValueError, match="reference"):
            m.decode_mpeg1(m.mpeg1_bytes(48, 16, [picb]))


def _idct_cosine_ref(F):
    """Independent double-loop IDCT reference (the defining sum)."""
    ref = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 2 ** -0.5 if u == 0 else 1.0
                    cv = 2 ** -0.5 if v == 0 else 1.0
                    s += cu * cv * F[u, v] \
                        * np.cos((2 * x + 1) * v * np.pi / 16) \
                        * np.cos((2 * y + 1) * u * np.pi / 16)
            ref[y, x] = s / 4.0
    return ref


class TestMpeg2:
    def _values(self, doc_id):
        return (16 + doc_id % 224, 16 + (doc_id * 7 + 31) % 224,
                16 + (doc_id * 13 + 5) % 224,
                16 + (doc_id * 11 + 3) % 224,
                16 + (doc_id * 17 + 9) % 224,
                16 + (doc_id * 23 + 11) % 224)

    def test_fixture_closed_forms_across_precisions(self):
        # doc_ids cover intra_dc_precision 8/9/10, both
        # q_scale_types and both scans
        for doc_id in (0, 1, 2, 3, 5, 41, 200):
            ps = m.mpeg2_ps_fixture(doc_id)
            es = m.ps_video_es(ps)
            frames, meta = m.decode_mpeg1(es)
            assert meta["mpeg2"] is True
            assert meta["picture_types"] == [1, 3, 2]
            v0, v1, v2, w0, w1, w2 = self._values(doc_id)
            f0, f1, f2 = frames
            assert (f0[:, 0:16, 0] == v0).all()
            assert (f0[:, 16:32, 0] == v1).all()
            assert (f0[:, 32:48, 0] == v2).all()
            exp1 = ([v0] * 15 + [v1] + [v1] * 15 + [v2]
                    + [(v2 + w2 + 1) >> 1] * 16)
            assert (f1[..., 0] == np.array(exp1)[None, :]).all()
            assert (f1[..., 1] == 128).all()
            exp2 = [w0] * 16 + [w1] * 16 + [w2] * 16
            assert (f2[..., 0] == np.array(exp2)[None, :]).all()

    def test_dc_precision_11(self):
        s = 3
        pic = {"type": "I", "mbs": [
            {"dc": [(200 - 128) << s, 0, 0, 0, 0, 0]}]}
        frames, meta = m.decode_mpeg1(
            m.mpeg2_bytes(16, 16, [pic], intra_dc_precision=11))
        assert meta["mpeg2"] is True
        assert (frames[0][..., 0] == 200).all()

    @pytest.mark.parametrize("qst,alt", [(0, 0), (0, 1),
                                         (1, 0), (1, 1)])
    def test_ac_dequant_scan_and_mismatch(self, qst, alt):
        # one escape-coded AC at scan position 1+run: MPEG-2 dequant
        # is (2·L·qs·W)//32 toward zero (W=16 → exactly L·qs), the
        # scan maps the position (zigzag vs alternate), and §7.4.4
        # toggles F[7][7] when the coefficient sum lands even —
        # all checked against the defining cosine IDCT sum
        qcode, run, L = 6, 2, 5
        qs = 2 * qcode if qst == 0 else m.NONLINEAR_QSCALE[qcode]
        pic = {"type": "I", "mbs": [
            {"dc": [10, 0, 0, 0, 0, 0], "ac": [(0, run, L)]}]}
        frames, _ = m.decode_mpeg1(
            m.mpeg2_bytes(16, 16, [pic], qscale_code=qcode,
                          q_scale_type=qst, alternate_scan=alt))
        coeff = np.zeros(64, dtype=np.int64)
        coeff[0] = (128 + 10) * 8
        scan = m.ALT_SCAN if alt else m.ZIGZAG
        coeff[int(scan[1 + run])] = L * qs
        if int(coeff.sum()) % 2 == 0:
            coeff[63] ^= 1
        expect = np.clip(np.rint(_idct_cosine_ref(
            coeff.reshape(8, 8))), 0, 255).astype(np.uint8)
        assert (frames[0][0:8, 0:8, 0] == expect).all()

    def test_mismatch_toggle_is_live(self):
        # even coefficient sum → F[7][7] flips 0→1; the ripple is
        # sub-half so pixels stay flat, but the raw dequant output
        # must show the toggle
        bits = MsbWriter()
        m._w_dc(bits, 10, 0)
        m._wbits(bits, m.DCT_EOB)
        rd = MsbReader(bits.bytes())
        dc_pred = [128, 128, 128]
        coeff = m._decode_block(rd, True, 0, dc_pred, 2,
                                m.DEFAULT_NONINTRA_Q,
                                m.DEFAULT_NONINTRA_Q, mpeg2=True)
        assert coeff[0, 0] == 138 * 8 and coeff[7, 7] == 1
        assert int(coeff.sum()) % 2 == 1

    def test_ps_mpeg2_roundtrip(self):
        es = m.ps_video_es(m.mpeg2_ps_fixture(9))
        for psize in (64, 700):
            assert m.ps_video_es(m.ps_wrap(es, psize,
                                           mpeg2=True)) == es

    def test_pipeline_metadata_demuxes_ps(self, spark):
        from tika_spark import extract
        pages = spark.createDataFrame(
            [("http://a.example/film.mpg", m.mpeg2_ps_fixture(4))],
            "url string, html binary").repartition(2)
        row = extract(pages, mode="metadata").collect()[0]
        assert row["status"] == "ok"
        md = dict(row["metadata"])
        assert md["Content-Type"] == ["video/mpeg"]
        assert md["width"] == ["48"] and md["height"] == ["16"]


class TestErrors:

    def test_garbage_and_truncation(self):
        with pytest.raises(ValueError):
            m.decode_mpeg1(b"not mpeg at all")
        data = m.mpeg1_fixture(3)
        with pytest.raises(ValueError):
            m.decode_mpeg1(data[:40])

    def test_vector_outside_frame(self):
        pic0 = {"type": "I", "mbs": [{"dc": [0] * 6}] * 3}
        pic1 = {"type": "P", "mbs": [
            {"kind": "mc", "mv": (-2, 0)},     # x = -2: out of frame
            {"kind": "mc", "mv": (0, 0)},
            {"kind": "mc", "mv": (0, 0)}]}
        with pytest.raises(ValueError, match="outside"):
            m.decode_mpeg1(m.mpeg1_bytes(48, 16, [pic0, pic1]))

    def test_p_before_reference_raises(self):
        pic = {"type": "P", "mbs": [{"kind": "mc", "mv": (0, 0)}] * 3}
        with pytest.raises(ValueError, match="reference"):
            m.decode_mpeg1(m.mpeg1_bytes(48, 16, [pic]))


class TestPipeline:
    def test_demux_routes_mpeg1(self):
        from tika_spark.analysis.pixels import channel_means_micro
        from tika_spark.analysis.video import _demux
        kind, frames = _demux(m.mpeg1_fixture(5))
        assert kind == "raw" and len(frames) == 3
        v0, v1, v2 = 21, 82, 86                # doc_id 5 closed forms
        mean0 = channel_means_micro(frames[0])
        npx = 48 * 16
        assert mean0[0] == (256 * (v0 + v1 + v2) * 10**6
                            + npx // 2) // npx
        assert mean0[1] == 128_000_000

    def test_operator_samples_mpeg(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        from tika_spark.analysis.video import sample_frame_stats

        @pandas_udf(BinaryType())
        def wrap(ids: pd.Series) -> pd.Series:
            return pd.Series([m.mpeg1_fixture(int(i)) for i in ids])

        df = spark.range(4).select(
            F.col("id"), wrap(F.col("id")).alias("payload"))
        got = {(r.id, r.frame_idx): r
               for r in sample_frame_stats(df, every=2).collect()}
        for i in range(4):
            for fi in (0, 2):
                r = got[(i, fi)]
                assert r.status == "ok" and r.n_frames == 3
                assert r.width == 48 and r.height == 16
                assert r.mean_micro[1] == 128_000_000

    def test_magic_detects_mpeg_es(self):
        from tika_spark.mime.magic import match_magic
        assert match_magic(m.mpeg1_fixture(1)[:32]) == "video/mpeg"

    def test_extract_metadata_routes_mpeg(self, spark):
        # full pipeline: magic sniff → "media" route → sequence-
        # header metadata (3 pictures at 25 fps → 0.12 s)
        from tika_spark import extract
        pages = spark.createDataFrame(
            [("http://a.example/clip.mpg", m.mpeg1_fixture(3))],
            "url string, html binary").repartition(2)
        row = extract(pages, mode="metadata").collect()[0]
        assert row["status"] == "ok"
        md = dict(row["metadata"])
        assert md["Content-Type"] == ["video/mpeg"]
        assert md["width"] == ["48"] and md["height"] == ["16"]
        assert md["xmpDM:duration"] == ["0.12"]
