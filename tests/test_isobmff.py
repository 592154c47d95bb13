"""MP4 / ISO-BMFF sample demux tests."""

import numpy as np
import pytest

from tika_spark.analysis import isobmff as b


class TestBoxes:
    def test_largesize_box(self):
        body = b"payload!"
        box = ((1).to_bytes(4, "big") + b"test"
               + (16 + len(body)).to_bytes(8, "big") + body)
        [(typ, s, e)] = list(b.iter_boxes(box, 0, len(box)))
        assert typ == b"test" and box[s:e] == body

    def test_bad_size_raises(self):
        box = (99).to_bytes(4, "big") + b"test" + b"x"
        with pytest.raises(ValueError, match="bad box size"):
            list(b.iter_boxes(box, 0, len(box)))


class TestAsc:
    def test_table_rates(self):
        asc = ((2 << 11) | (4 << 7) | (2 << 3)).to_bytes(2, "big")
        assert b.parse_asc(asc) == (2, 44100, 2)

    def test_escape_rate(self):
        # index 15 → explicit 24-bit rate
        bits = (2 << 35) | (15 << 31) | (22222 << 7) | (1 << 3)
        asc = bits.to_bytes(5, "big")
        assert b.parse_asc(asc) == (2, 22222, 1)


class TestSampleTables:
    def test_multi_chunk_stsc_runs(self):
        # 5 samples over 3 chunks: run A = chunks 1-2 at 2/chunk,
        # run B = chunk 3 at 1/chunk; sizes 10..14; chunk offsets
        # chosen so ranges interleave non-contiguously
        def full(fourcc, body):
            return ((12 + len(body)).to_bytes(4, "big") + fourcc
                    + b"\x00" * 4 + body)
        stsz = full(b"stsz", (0).to_bytes(4, "big")
                    + (5).to_bytes(4, "big")
                    + b"".join((10 + i).to_bytes(4, "big")
                               for i in range(5)))
        stsc = full(b"stsc", (2).to_bytes(4, "big")
                    + (1).to_bytes(4, "big") + (2).to_bytes(4, "big")
                    + (1).to_bytes(4, "big")
                    + (3).to_bytes(4, "big") + (1).to_bytes(4, "big")
                    + (1).to_bytes(4, "big"))
        stco = full(b"stco", (3).to_bytes(4, "big")
                    + (1000).to_bytes(4, "big")
                    + (2000).to_bytes(4, "big")
                    + (3000).to_bytes(4, "big"))
        stbl = stsz + stsc + stco
        got = b._samples_from_stbl(stbl, 0, len(stbl))
        assert got == [(1000, 10), (1010, 11),
                       (2000, 12), (2012, 13), (3000, 14)]

    def test_undercounted_table_raises(self):
        def full(fourcc, body):
            return ((12 + len(body)).to_bytes(4, "big") + fourcc
                    + b"\x00" * 4 + body)
        stsz = full(b"stsz", (8).to_bytes(4, "big")
                    + (4).to_bytes(4, "big"))
        stsc = full(b"stsc", (1).to_bytes(4, "big")
                    + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
                    + (1).to_bytes(4, "big"))
        stco = full(b"stco", (1).to_bytes(4, "big")
                    + (64).to_bytes(4, "big"))
        stbl = stsz + stsc + stco
        with pytest.raises(ValueError, match="fewer samples"):
            b._samples_from_stbl(stbl, 0, len(stbl))

    @staticmethod
    def _oversized_counts() -> bytes:
        """An .m4a whose stsz declares 2^22 one-byte samples and whose
        stsc puts 2^22 samples in its chunk: more than the file holds."""
        m4a = bytearray(b.m4a_fixture(0))
        i = m4a.find(b"stsz") + 8                # after version/flags
        m4a[i:i + 8] = (1).to_bytes(4, "big") + (1 << 22).to_bytes(4, "big")
        i = m4a.find(b"stsc") + 12               # first run's count
        m4a[i + 4:i + 8] = (1 << 22).to_bytes(4, "big")
        return bytes(m4a)

    def test_sample_count_beyond_the_file_raises_before_allocating(self):
        import tracemalloc
        data = self._oversized_counts()
        tracemalloc.start()
        try:
            with pytest.raises(b.Mp4Error, match="more samples"):
                b.mp4_tracks(data)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 1 << 20

    def test_sample_count_beyond_the_file_is_one_row(self):
        import pandas as pd
        from tika_spark.config import ExtractConfig
        from tika_spark.pipeline.stages import process_batch
        out = process_batch(pd.DataFrame({
            "url": ["http://a.example/crafted.m4a"],
            "html": [self._oversized_counts()]}), ExtractConfig())
        assert len(out) == 1
        assert out["mime"][0] == "audio/mp4"
        assert out["status"][0] == "ok"          # metadata best-effort
        assert "compression-type" not in out["metadata"][0]

    def test_flipped_stsc_count_raises_mp4_error(self):
        # bit 0 of the stsc entry count's first byte: 2^24 runs
        cmaf = bytearray(b.video_h264_cmaf_fixture(0))
        cmaf[cmaf.find(b"stsc") + 8] ^= 1
        with pytest.raises(b.Mp4Error, match="truncated stsc"):
            b.mp4_tracks(bytes(cmaf))

    def test_chunk_index_beyond_stco_raises_mp4_error(self):
        m4a = bytearray(b.m4a_fixture(0))
        i = m4a.find(b"stsc") + 12               # first run's chunk
        m4a[i:i + 4] = (7).to_bytes(4, "big")
        with pytest.raises(b.Mp4Error, match="chunk stco does not"):
            b.mp4_tracks(bytes(m4a))


class TestDecode:
    def test_fixture_roundtrip_and_silence(self):
        for d in (0, 1, 2, 3, 7, 10):
            samples, rate = b.decode_mp4_audio(b.m4a_fixture(d))
            assert rate == (44100 if d % 2 == 0 else 48000)
            assert samples.shape == ((1 + d % 4) * 1024, 1 + d % 2)
            assert (samples == 0).all()

    def test_aus_survive_mux_byte_exact(self):
        from tika_spark.analysis import aaccodec as a
        z = np.zeros(1024, dtype=np.int64)
        adts = a.aac_bytes([[z]] * 3, codebook=3, global_gain=111)
        aus, rate = b.adts_to_aus(adts)
        m4a = b.mp4a_bytes(aus, rate_index=4, channels=1)
        got, rate2, nch = b.mp4_audio(m4a)
        assert got == aus and rate2 == rate == 44100 and nch == 1

    def test_errors(self):
        with pytest.raises(ValueError, match="no moov"):
            b.mp4_tracks(b"\x00\x00\x00\x0cftypM4A ")
        m4a = bytearray(b.m4a_fixture(1))
        i = m4a.find(b"esds")
        m4a[i:i + 4] = b"xxxx"                   # drop the esds
        with pytest.raises(ValueError, match="no mp4a audio"):
            b.mp4_audio(bytes(m4a))


class TestPipeline:
    def test_real_decode_routes_m4a(self):
        from tika_spark.analysis.pcm import decode_audio
        samples, rate = decode_audio(b.m4a_fixture(4), "audio/mp4")
        assert rate == 44100 and (samples == 0).all()

    def test_magic_detects_m4a(self):
        from tika_spark.mime.magic import match_magic
        assert match_magic(b.m4a_fixture(1)[:64]) == "audio/mp4"

    def test_audio_pcm_stats_over_m4a(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        from tika_spark.analysis.pcm import audio_pcm_stats

        @pandas_udf(BinaryType())
        def wrap(ids: pd.Series) -> pd.Series:
            return pd.Series([b.m4a_fixture(int(i)) for i in ids])

        df = spark.range(4).select(
            F.col("id"), wrap(F.col("id")).alias("payload"),
            F.lit("audio/mp4").alias("media_type")).repartition(2)
        rows = {r.id: r for r in audio_pcm_stats(df).collect()}
        for i in range(4):
            r = rows[i]
            assert r.status == "ok"
            assert r.n_channels == 1 + i % 2
            assert r.sample_rate == (44100 if i % 2 == 0 else 48000)
            assert r.n_samples == (1 + i % 4) * 1024
            assert r.rms_micro == 0 and r.peak_micro == 0

    def test_extract_metadata_routes_m4a(self, spark):
        from tika_spark import extract
        pages = spark.createDataFrame(
            [("http://a.example/song.m4a", b.m4a_fixture(3))],
            "url string, html binary").repartition(2)
        row = extract(pages, mode="metadata").collect()[0]
        assert row["status"] == "ok"
        md = dict(row["metadata"])
        assert md["Content-Type"] == ["audio/mp4"]
        assert md["compression-type"] == ["mp4a"]
        assert md["xmpDM:audioSampleRate"] == ["48000"]
        assert md["channels"] == ["2"]
