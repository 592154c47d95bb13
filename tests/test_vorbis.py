"""From-scratch Vorbis I decoder tests."""

import numpy as np
import pytest

from tika_spark.analysis import vorbis as vb
from tika_spark.analysis.bitio import LsbWriter


class TestFoundations:
    def test_spec_huffman_example(self):
        # the Vorbis I spec's own worked assignment (section 3.2.1)
        codes = vb.assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
        inv = {v: k for k, v in codes.items()}
        assert inv == {0: "00", 1: "0100", 2: "0101", 3: "0110",
                       4: "0111", 5: "10", 6: "110", 7: "111"}

    def test_oversubscribed_raises(self):
        with pytest.raises(ValueError, match="over-subscribed"):
            vb.assign_codewords([1, 1, 1])

    def test_ilog_and_lookup1(self):
        assert [vb.ilog(x) for x in (0, 1, 2, 3, 4, 7)] \
            == [0, 1, 2, 2, 3, 3]
        assert vb.lookup1_values(4, 2) == 2
        assert vb.lookup1_values(9, 2) == 3
        assert vb.lookup1_values(8, 3) == 2
        assert vb.lookup1_values(7, 3) == 1

    def test_float32_roundtrip(self):
        for v in (0.0, 1.0, -1.0, 0.5, 2.0, -3.25, 100.0):
            assert vb.float32_unpack(vb.float32_pack(v)) == v

    def test_lsb_bitpack(self):
        w = LsbWriter()
        for val, n in ((5, 3), (1, 1), (300, 10), (0xABCDE, 20)):
            w.write(val, n)
        r = vb._VorbisBits(w.bytes())
        for val, n in ((5, 3), (1, 1), (300, 10), (0xABCDE, 20)):
            assert r.read(n) == val


class TestHeaders:
    def test_setup_parse(self):
        pk = vb.vorbis_headers(2, 44100)
        s = vb.parse_headers(pk)
        assert s.channels == 2 and s.rate == 44100
        assert s.bs0 == s.bs1 == 256
        assert len(s.books) == 3
        assert s.books[2].vq is not None
        # VQ lookup-1 table: entries map to {-1,+1} pairs
        assert s.books[2].vq.tolist() == [[-1, -1], [1, -1],
                                          [-1, 1], [1, 1]]
        assert s.floors[0].X == [0, 64, 16, 32]
        assert s.residues[0].rtype == 2
        assert s.modes == [(0, 0)]
        assert s.comments["TITLE"] == "synth0"

    def test_corrupt_setup_raises(self):
        pk = vb.vorbis_headers(1, 8000)
        bad = bytearray(pk[2])
        bad[8] ^= 0xFF                           # inside codebook sync
        with pytest.raises(ValueError):
            vb.parse_headers([pk[0], pk[1], bytes(bad)])


class TestDecode:
    def test_silence_is_exactly_zero(self):
        pk = vb.vorbis_headers(2, 32000)
        pk += [vb.vorbis_silent_packet(2)] * 4
        s, rate = vb.decode_vorbis_packets(pk)
        assert rate == 32000
        assert s.shape == (3 * 128, 2)
        assert (s == 0).all()

    def test_tone_against_independent_reference(self):
        # flat floor (y0 = y1 = 90, zero-valued interior points stay
        # on the prediction line) x VQ residue pattern, decoded and
        # compared against a from-first-principles pipeline: the
        # known residue values, the flat curve constant, a
        # double-loop IMDCT, the Vorbis window, and overlap-add
        ch, n, n2 = 1, 256, 128
        pk = vb.vorbis_headers(ch, 8000)
        pk += [vb.vorbis_tone_packet(ch, [90, 90, 0, 0], seed)
               for seed in (1, 2)]
        s, rate = vb.decode_vorbis_packets(pk)
        assert s.shape == (n2, ch)

        def residue(seed):
            v = np.zeros(n2)
            vq = [(-1, -1), (1, -1), (-1, 1), (1, 1)]
            t = 0
            for p in range(n2 // 8):
                for i in range(4):
                    e = vq[(seed + t) % 4]
                    v[p * 8 + 2 * i] += e[0]
                    v[p * 8 + 2 * i + 1] += e[1]
                    t += 1
            return v

        amp = vb._INV_DB[180]                    # y * multiplier
        window = np.sin(0.5 * np.pi * np.sin(
            np.pi * (np.arange(n) + 0.5) / n) ** 2)

        def imdct_ref(spec):
            out = np.zeros(n)
            for j in range(n):
                out[j] = sum(
                    spec[k] * np.cos(2 * np.pi / n
                                     * (j + 0.5 + n / 4)
                                     * (k + 0.5))
                    for k in range(n2))
            return out

        y1 = imdct_ref(amp * residue(1)) * window
        y2 = imdct_ref(amp * residue(2)) * window
        expect = y1[n2:] + y2[:n2]
        got = s[:, 0].astype(np.int64)
        want = np.clip(np.rint(expect * 32768.0), -32768, 32767)
        assert np.abs(got - want).max() <= 1     # ulp-order IMDCT diff
        assert np.abs(got).max() > 500           # genuinely nonzero

    def test_floor_curve_flat_closed_form(self):
        s = vb.parse_headers(vb.vorbis_headers(1, 8000))
        curve = vb._floor1_curve(s.floors[0], [70, 70, 0, 0], 128)
        assert np.allclose(curve, vb._INV_DB[140])

    def test_floor_curve_sloped_render(self):
        # y0=0 at X=0 rising to y1=60 at X=64, interior points on the
        # line; beyond X=64 the curve holds the last value
        s = vb.parse_headers(vb.vorbis_headers(1, 8000))
        curve = vb._floor1_curve(s.floors[0], [0, 60, 0, 0], 128)
        # render_line in the multiplier-2 dB domain: dy=120, adx=64
        v = np.zeros(128, dtype=np.int64)
        vb._render_line(0, 0, 64, 120, v)
        v[64:] = 120
        assert np.allclose(curve, vb._INV_DB[np.clip(v, 0, 255)])

    def test_mixed_blocksizes_guard(self):
        pk = vb.vorbis_headers(1, 8000)
        s, _ = vb.decode_vorbis_packets(
            pk + [vb.vorbis_silent_packet(1)] * 2)
        assert (s == 0).all()                    # guard not triggered


class TestPipeline:
    def test_ogg_fixture_closed_forms(self):
        for d in range(8):
            s, rate = vb.decode_ogg_vorbis(vb.ogg_vorbis_fixture(d))
            assert rate == 8000 * (1 + d % 4)
            assert s.shape == ((1 + d % 3) * 128, 1 + d % 2)
            assert (s == 0).all()

    def test_decode_ogg_audio_dispatch(self):
        from tika_spark.analysis.oggdemux import (decode_ogg_audio,
                                                  ogg_flac_fixture)
        s, rate = decode_ogg_audio(vb.ogg_vorbis_fixture(3))
        assert rate == 32000
        s2, r2 = decode_ogg_audio(ogg_flac_fixture(1))
        assert r2 == 16000

    def test_media_meta_identifies_vorbis(self):
        from tika_spark.media import extract_media
        r = extract_media(vb.ogg_vorbis_fixture(2), mime="audio/ogg")
        md = r["metadata"]
        assert md["audioCompressor"] == ["Vorbis"]
        assert md["samplerate"] == ["24000"]
        assert md["channels"] == ["1"]

    def test_audio_pcm_stats_over_vorbis(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        from tika_spark.analysis.pcm import audio_pcm_stats

        @pandas_udf(BinaryType())
        def wrap(ids: pd.Series) -> pd.Series:
            return pd.Series([vb.ogg_vorbis_fixture(int(i))
                              for i in ids])

        df = spark.range(5).select(
            F.col("id"), wrap(F.col("id")).alias("payload"),
            F.lit("audio/ogg").alias("media_type")).repartition(2)
        rows = {r.id: r for r in audio_pcm_stats(df).collect()}
        for i in range(5):
            r = rows[i]
            assert r.status == "ok"
            assert r.sample_rate == 8000 * (1 + i % 4)
            assert r.n_samples == (1 + i % 3) * 128
            assert r.n_channels == 1 + i % 2
            assert r.rms_micro == 0 and r.peak_micro == 0
