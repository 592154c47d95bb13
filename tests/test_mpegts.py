"""MPEG transport stream (ISO/IEC 13818-1 TS) demux tests."""

import numpy as np
import pytest

from tika_spark.analysis import mpegts as t
from tika_spark.analysis import mpegvideo as m


class TestCrc:
    def test_mpeg_crc32_self_verifies(self):
        # appending the CRC makes the whole-section CRC zero — the
        # property the PSI check relies on
        for payload in (b"", b"\x00", bytes(range(32))):
            c = t.crc32_mpeg(payload)
            assert t.crc32_mpeg(payload
                                + c.to_bytes(4, "big")) == 0

    def test_known_vector(self):
        # CRC-32/MPEG-2 of "123456789" is the published check value
        assert t.crc32_mpeg(b"123456789") == 0x0376E6E7


class TestDemux:
    def test_video_roundtrip_matches_ps(self):
        for doc_id in (0, 3, 5, 41):
            ts = t.mpegts_fixture(doc_id)
            assert len(ts) % t.TS_PACKET == 0
            assert all(ts[k] == 0x47
                       for k in range(0, len(ts), t.TS_PACKET))
            es = t.ts_video_es(ts)
            assert es == m.ps_video_es(m.mpeg2_ps_fixture(doc_id))

    def test_decoded_frames_closed_forms(self):
        doc_id = 7
        frames, meta = m.decode_mpeg1(
            t.ts_video_es(t.mpegts_fixture(doc_id)))
        assert meta["mpeg2"] is True
        assert meta["picture_types"] == [1, 3, 2]
        v0 = 16 + doc_id % 224
        assert (frames[0][:, 0:16, 0] == v0).all()

    def test_audio_stream_type_aac(self):
        from tika_spark.analysis import aaccodec as a
        z = np.zeros(1024, dtype=np.int64)
        es = a.aac_bytes([[z]] * 2)
        ts = t.ts_wrap(es, stream_type=0x0F, pid=0x45)
        stype, got = t.ts_audio_es(ts)
        assert stype == 0x0F and got == es
        samples, rate = a.decode_aac(got)
        assert rate == 44100 and samples.shape[0] == 2048
        with pytest.raises(ValueError, match="no video"):
            t.ts_video_es(ts)

    def test_multi_program_streams_map(self):
        es = m.ps_video_es(m.mpeg2_ps_fixture(1))
        ts = t.ts_wrap(es, stream_type=0x02, pid=0x101)
        streams = t.ts_streams(ts)
        assert list(streams) == [0x101]
        assert streams[0x101][0] == 0x02

    def test_errors(self):
        with pytest.raises(ValueError, match="not an MPEG transport"):
            t.ts_streams(b"\x00" * 400)
        ts = bytearray(t.mpegts_fixture(2))
        ts[188] = 0x48                           # kill sync byte
        with pytest.raises(ValueError, match="synchronization"):
            t.ts_streams(bytes(ts))
        ts = bytearray(t.mpegts_fixture(2))
        ts[10] ^= 0xFF                           # corrupt PAT body
        with pytest.raises(ValueError, match="CRC"):
            t.ts_streams(bytes(ts))

    def test_continuity_break_detected(self):
        # long ES → several PES-continuation packets; drop one
        # mid-stream 188-byte slice (not the first PES packet,
        # which holds the header)
        es = m.ps_video_es(m.mpeg2_ps_fixture(2)) * 6
        ts = bytearray(t.ts_wrap(es, stream_type=0x02, pid=0x90))
        assert len(ts) > 188 * 6
        del ts[188 * 4:188 * 5]
        with pytest.raises(ValueError, match="continuity"):
            t.ts_streams(bytes(ts))


class TestPipeline:
    def test_demux_routes_ts(self):
        from tika_spark.analysis.video import _demux
        kind, frames = _demux(t.mpegts_fixture(5))
        assert kind == "raw" and len(frames) == 3

    def test_real_decode_routes_ts(self):
        # the TS video route: first video stream -> MPEG-1 decode
        stype, es = t.ts_video(t.mpegts_fixture(3))
        frames, meta = m.decode_mpeg1(es)
        assert meta["picture_types"] == [1, 3, 2]

    def test_magic_detects_ts(self):
        from tika_spark.mime.magic import match_magic
        assert match_magic(t.mpegts_fixture(1)[:600]) == "video/mp2t"

    def test_extract_metadata_routes_ts(self, spark):
        from tika_spark import extract
        pages = spark.createDataFrame(
            [("http://a.example/seg0.ts", t.mpegts_fixture(3))],
            "url string, html binary").repartition(2)
        row = extract(pages, mode="metadata").collect()[0]
        assert row["status"] == "ok"
        md = dict(row["metadata"])
        assert md["Content-Type"] == ["video/mp2t"]
        assert md["width"] == ["48"] and md["height"] == ["16"]
