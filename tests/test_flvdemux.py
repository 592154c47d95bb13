"""FLV tag demux + audio decode tests."""

import numpy as np
import pytest

from tika_spark.analysis import flvdemux as f


class TestTags:
    def test_tag_walk_and_backpointers(self):
        flv = f.flv_fixture(3)
        tags = list(f.flv_tags(flv))
        assert all(t == 8 for t, _ts, _b in tags)
        assert [ts for _t, ts, _b in tags] == [0, 26]

    def test_backpointer_mismatch_raises(self):
        flv = bytearray(f.flv_fixture(2))
        flv[9:13] = (99).to_bytes(4, "big")      # first back-pointer
        with pytest.raises(ValueError, match="previous-tag-size"):
            list(f.flv_tags(bytes(flv)))

    def test_not_flv_raises(self):
        with pytest.raises(ValueError, match="not an FLV"):
            list(f.flv_tags(b"MOOV" * 10))

    def test_extended_timestamp_byte(self):
        body = bytes((f.SOUND_MP3 << 4,)) + b"\xff"
        tag = f._tag(8, 0x0500_0000, body)
        flv = (b"FLV\x01\x04" + (9).to_bytes(4, "big")
               + (0).to_bytes(4, "big") + tag
               + len(tag).to_bytes(4, "big"))
        [(_t, ts, _b)] = list(f.flv_tags(flv))
        assert ts == 0x0500_0000


class TestAudio:
    def test_mp3_track_closed_forms(self):
        for d in (0, 2, 4):
            s, rate = f.decode_flv_audio(f.flv_fixture(d))
            assert rate == 44100
            assert s.shape == ((1 + d % 3) * 1152, 1)
            assert (s == 0).all()

    def test_aac_track_closed_forms(self):
        for d in (1, 3, 5, 7):
            s, rate = f.decode_flv_audio(f.flv_fixture(d))
            assert rate == 44100
            assert s.shape == ((1 + d % 3) * 1024,
                               1 + (d // 2) % 2)
            assert (s == 0).all()

    def test_aac_without_asc_raises(self):
        aus = [b"\x00\x00"]
        flv = f.flv_wrap_audio(aus, f.SOUND_AAC,
                               asc=b"\x12\x10")
        # strip the ASC tag: rebuild with only raw-AU tags
        body = bytes((f.SOUND_AAC << 4 | 0x0F,)) + b"\x01" + aus[0]
        tag = f._tag(8, 0, body)
        flv = (b"FLV\x01\x04" + (9).to_bytes(4, "big")
               + (0).to_bytes(4, "big") + tag
               + len(tag).to_bytes(4, "big"))
        with pytest.raises(ValueError, match="no decodable audio"):
            f.flv_audio(flv)

    def test_unsupported_format_raises(self):
        body = bytes((3 << 4,)) + b"\x00" * 8    # linear PCM LE
        tag = f._tag(8, 0, body)
        flv = (b"FLV\x01\x04" + (9).to_bytes(4, "big")
               + (0).to_bytes(4, "big") + tag
               + len(tag).to_bytes(4, "big"))
        with pytest.raises(ValueError, match="sound format"):
            f.flv_audio(flv)


class TestPipeline:
    def test_real_decode_routes_flv(self):
        from tika_spark.analysis.pcm import decode_audio
        s, rate = decode_audio(f.flv_fixture(5), "video/x-flv")
        assert rate == 44100 and (s == 0).all()

    def test_magic_detects_flv(self):
        from tika_spark.mime.magic import match_magic
        assert match_magic(f.flv_fixture(0)[:16]) == "video/x-flv"

    def test_audio_pcm_stats_over_flv(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        from tika_spark.analysis.pcm import audio_pcm_stats

        @pandas_udf(BinaryType())
        def wrap(ids: pd.Series) -> pd.Series:
            return pd.Series([f.flv_fixture(int(i)) for i in ids])

        df = spark.range(6).select(
            F.col("id"), wrap(F.col("id")).alias("payload"),
            F.lit("video/x-flv").alias("media_type")).repartition(2)
        rows = {r.id: r for r in audio_pcm_stats(df).collect()}
        for i in range(6):
            r = rows[i]
            assert r.status == "ok" and r.sample_rate == 44100
            per = 1152 if i % 2 == 0 else 1024
            assert r.n_samples == (1 + i % 3) * per
            assert r.rms_micro == 0
