"""Ogg container demux + FLAC-in-Ogg decode tests."""

import numpy as np
import pytest

from tika_spark.analysis import oggdemux as o


def _fixture_wave(doc_id):
    n = 512 + (doc_id % 4) * 256
    t = np.arange(n, dtype=np.int64)
    amp = 64 + doc_id % 192
    return ((t * amp) % 2048 - 1024).astype(np.int16)


class TestPages:
    def test_crc_known_property(self):
        # a wrapped stream's pages all pass the CRC check the
        # parser enforces; flipping any body byte must fail it
        ogg = o.ogg_wrap([b"hello ogg"])
        assert list(o.ogg_packets(ogg).values()) == [[b"hello ogg"]]
        bad = bytearray(ogg)
        bad[-1] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            o.ogg_packets(bytes(bad))

    def test_packet_lacing_roundtrip(self):
        # exact-255 packets need the explicit 0 lacing terminator;
        # >255 spans lacing entries; >max_page spans pages with the
        # continued-packet flag
        pkts = [b"a" * 10, b"b" * 255, b"c" * 510, b"d" * 9000, b"e"]
        got = o.ogg_packets(o.ogg_wrap(pkts, max_page=4096))
        assert list(got.values()) == [pkts]

    def test_flags_begin_end(self):
        pages = list(o.ogg_pages(o.ogg_wrap([b"x" * 9000])))
        assert pages[0][1] & 0x02                # beginning
        assert pages[-1][1] & 0x04               # end
        assert pages[1][1] & 0x01                # continued packet

    def test_not_ogg(self):
        with pytest.raises(ValueError, match="not an Ogg"):
            o.ogg_packets(b"RIFFxxxx")


class TestInfo:
    def test_vorbis_ident_and_comments(self):
        ident = (b"\x01vorbis" + bytes(4) + bytes([2])
                 + (44100).to_bytes(4, "little") + bytes(12)
                 + b"\x01")
        comment = (b"\x03vorbis" + (3).to_bytes(4, "little")
                   + b"enc" + (2).to_bytes(4, "little")
                   + (11).to_bytes(4, "little") + b"TITLE=hello"
                   + (10).to_bytes(4, "little") + b"artist=someone"[:10])
        info = o.ogg_info(o.ogg_wrap([ident, comment, b"\x05d"]))[0]
        assert info["codec"] == "vorbis"
        assert info["sample_rate"] == 44100 and info["channels"] == 2
        assert info["tags"]["TITLE"] == "hello"

    def test_opus_head(self):
        oh = (b"OpusHead" + bytes([1, 1])
              + (312).to_bytes(2, "little")
              + (48000).to_bytes(4, "little") + bytes(3))
        info = o.ogg_info(o.ogg_wrap([oh]))[0]
        assert info["codec"] == "opus" and info["pre_skip"] == 312


class TestFlacInOgg:
    def test_fixture_exact_pcm(self):
        for d in (0, 1, 2, 3, 5, 7):
            samples, rate = o.decode_ogg_flac(o.ogg_flac_fixture(d))
            wave = _fixture_wave(d)
            assert rate == 8000 * (1 + d % 3)
            assert samples.shape == (len(wave), 1 + d % 2)
            assert (samples[:, 0] == wave).all()
            if d % 2 == 1:
                assert (samples[:, 1] == wave).all()

    def test_md5_self_verification_survives_remux(self):
        # decode_flac verifies STREAMINFO MD5 — the Ogg wrap/unwrap
        # must reproduce the native byte stream exactly
        from tika_spark.analysis.flac import flac_bytes
        wave = _fixture_wave(4)
        native = flac_bytes(wave, rate=16000, mode="fixed2")
        ogg = o.ogg_flac_wrap(native)
        samples, rate = o.decode_ogg_flac(ogg)
        assert rate == 16000 and (samples[:, 0] == wave).all()

    def test_no_flac_stream_raises(self):
        ogg = o.ogg_wrap([b"\x01vorbis" + bytes(23)])
        with pytest.raises(ValueError, match="no FLAC stream"):
            o.decode_ogg_flac(ogg)


class TestPipeline:
    def test_real_decode_routes_ogg_flac(self):
        from tika_spark.analysis.pcm import decode_audio
        samples, rate = decode_audio(o.ogg_flac_fixture(2),
                                     "audio/ogg")
        assert rate == 8000 * 3

    def test_magic_detects_ogg(self):
        from tika_spark.mime.magic import match_magic
        got = match_magic(o.ogg_flac_fixture(0)[:64])
        assert got in ("audio/ogg", "video/ogg", "application/ogg")

    def test_media_meta_packet_walk(self):
        from tika_spark.media import extract_media
        r = extract_media(o.ogg_flac_fixture(1), mime="audio/ogg")
        assert r["metadata"]["audioCompressor"] == ["FLAC"]

    def test_audio_pcm_stats_over_ogg(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        from tika_spark.analysis.pcm import audio_pcm_stats

        @pandas_udf(BinaryType())
        def wrap(ids: pd.Series) -> pd.Series:
            return pd.Series([o.ogg_flac_fixture(int(i))
                              for i in ids])

        df = spark.range(4).select(
            F.col("id"), wrap(F.col("id")).alias("payload"),
            F.lit("audio/ogg").alias("media_type")).repartition(2)
        rows = {r.id: r for r in audio_pcm_stats(df).collect()}
        for i in range(4):
            r = rows[i]
            assert r.status == "ok"
            assert r.sample_rate == 8000 * (1 + i % 3)
            assert r.n_samples == 512 + (i % 4) * 256
            assert r.n_channels == 1 + i % 2

class TestOpusPacketStats:
    def test_toc_walk(self):
        from tika_spark.analysis.oggdemux import (ogg_wrap,
                                                  opus_packet_stats)
        head = (b"OpusHead" + bytes([1, 2])
                + (312).to_bytes(2, "little")
                + (48000).to_bytes(4, "little") + b"\x00\x00\x00")
        tags = (b"OpusTags" + (1).to_bytes(4, "little") + b"v"
                + (0).to_bytes(4, "little"))
        pkts = [head, tags,
                bytes([(1 << 3)]),           # SILK 20 ms, code 0
                bytes([(13 << 3) | 1]),      # hybrid 20 ms x2 frames
                bytes([(16 << 3) | 3, 4]),   # CELT 2.5 ms x4 frames
                bytes([(19 << 3)])]          # CELT 20 ms
        st = opus_packet_stats(ogg_wrap(pkts))
        assert st["n_packets"] == 4
        assert st["duration_ms"] == 20 + 40 + 10 + 20
        assert (st["n_silk"], st["n_hybrid"], st["n_celt"]) == (1, 1, 2)
        assert st["channels"] == 2 and st["pre_skip"] == 312

    def test_requires_opus(self):
        import pytest
        from tika_spark.analysis.oggdemux import (OggError, ogg_wrap,
                                                  opus_packet_stats)
        with pytest.raises(OggError):
            opus_packet_stats(ogg_wrap([b"\x01vorbis" + b"\x00" * 24]))
