"""The media decode stage (analysis/spread.py:decode_stage) under each
of the ten media operators: the row each emits for a decodable
payload, an unsupported type, a truncated payload and a bit-flipped
payload, and that an empty input or empty partitions emit nothing."""

import numpy as np
import pytest

from tika_spark.analysis.audiohash import audio_fingerprint
from tika_spark.analysis.flac import flac_bytes
from tika_spark.analysis.imagehash import image_dhash, image_phash
from tika_spark.analysis.isobmff import video_h264_fixture
from tika_spark.analysis.jpegcodec import jpeg_bytes
from tika_spark.analysis.multimodal import decode_media
from tika_spark.analysis.pcm import audio_features, audio_pcm_stats
from tika_spark.analysis.pixels import (image_decoders, image_pixel_stats,
                                        png_bytes)
from tika_spark.analysis.video import (avi_mjpeg_bytes, mp4_slice_census,
                                       sample_frame_stats, video_fixture)
from tika_spark.analysis.videohash import video_dhash

TYPED = "id long, payload binary, media_type string"
UNTYPED = "id long, payload binary"


def _flip(data: bytes, i: int) -> bytes:
    out = bytearray(data)
    out[i] ^= 1
    return bytes(out)


def _inputs() -> dict:
    """Per input kind: rows 1 decodable, 2 unsupported type (or, for
    the untyped video operators, a still image), 3 truncated, 4
    bit-flipped."""
    png = png_bytes(np.arange(48, dtype=np.uint8).reshape(4, 4, 3) * 5)
    wave = (np.sin(2 * np.pi * np.arange(1024) / 16) * 8000
            ).astype(np.int16)
    flac = flac_bytes(wave, 8000)
    gif = video_fixture(1)
    # a 2-frame MJPEG AVI whose first frame has a flipped SOI bit: the
    # container demuxes, that one frame fails
    jpg = jpeg_bytes(np.full((8, 8, 3), 60, np.uint8))
    avi = avi_mjpeg_bytes([_flip(jpg, 1), jpg], 8, 8)
    mp4 = video_h264_fixture(1)
    return {
        "image": [(1, png, "image/png"), (2, png, "image/svg+xml"),
                  (3, png[:60], "image/png"),
                  (4, _flip(png, 60), "image/png")],
        "audio": [(1, flac, "audio/flac"), (2, flac, "audio/x-unknown"),
                  (3, flac[:len(flac) // 2], "audio/flac"),
                  (4, _flip(flac, len(flac) // 2), "audio/flac")],
        "video": [(1, gif), (2, png), (3, gif[:len(gif) // 2]),
                  (4, avi)],
        "mp4": [(1, mp4), (2, png), (3, mp4[:len(mp4) // 2]),
                (4, _flip(mp4, len(mp4) // 2))],
    }


MEANS = [112500000, 117500000, 122500000]
CASES = {
    "image_pixel_stats": (image_pixel_stats, "image", [
        (1, 4, 4, 3, MEANS, "ok"),
        (2, 0, 0, 0, [], "unsupported"),
        (3, 0, 0, 0, [], "error"),
        (4, 0, 0, 0, [], "error")]),
    "image_phash": (image_phash, "image", [
        (1, 72058693549555872, 4, 4, "ok"),
        (2, 0, 0, 0, "unsupported"),
        (3, 0, 0, 0, "error"),
        (4, 0, 0, 0, "error")]),
    "image_dhash": (image_dhash, "image", [
        (1, 6076574518398440532, 4, 4, "ok"),
        (2, 0, 0, 0, "unsupported"),
        (3, 0, 0, 0, "error"),
        (4, 0, 0, 0, "error")]),
    "audio_pcm_stats": (audio_pcm_stats, "audio", [
        (1, 1, 8000, 1024, 128, 172625, 244141, "ok"),
        (2, 0, 0, 0, 0, 0, 0, "unsupported"),
        (3, 0, 0, 0, 0, 0, 0, "error"),
        (4, 0, 0, 0, 0, 0, 0, "error")]),
    "audio_features": (audio_features, "audio", [
        (1, 1024, 127, 64, 500, 0, "ok"),
        (2, 0, 0, 0, 0, 0, "unsupported"),
        (3, 0, 0, 0, 0, 0, "error"),
        (4, 0, 0, 0, 0, 0, "error")]),
    "audio_fingerprint": (audio_fingerprint, "audio", [
        (1, 0, 4, 16781313, "ok"),
        (1, 1, 4, 16781313, "ok"),
        (1, 2, 4, 16781313, "ok"),
        (2, -1, 0, 0, "unsupported"),
        (3, -1, 0, 0, "error"),
        (4, -1, 0, 0, "error")]),
    "sample_frame_stats": (sample_frame_stats, "video", [
        (1, 0, 4, 17, 8, [11000000] * 3, "ok"),
        (1, 2, 4, 17, 8, [45000000] * 3, "ok"),
        (2, -1, 0, 0, 0, [], "error"),
        (3, -1, 0, 0, 0, [], "error"),
        (4, 0, 2, 0, 0, [], "error")]),
    "video_dhash": (video_dhash, "video", [
        (1, 0, 4, 0, "ok"), (1, 1, 4, 0, "ok"),
        (1, 2, 4, 0, "ok"), (1, 3, 4, 0, "ok"),
        (2, -1, 0, 0, "error"),
        (3, -1, 0, 0, "error"),
        (4, 0, 2, 0, "error"), (4, 1, 2, 0, "ok")]),
    # an unparsable payload yields no census row at all
    "mp4_slice_census": (mp4_slice_census, "mp4", [
        (1, k, "I", 0, None, True, "cavlc", 9) for k in range(3)]),
    # header parse, else the length-derived stand-in; a truncated or
    # flipped PNG past its IHDR still reports the header's dimensions
    "decode_media": (decode_media, "image", [
        (1, "image/png", 120, 4, 4, 0, "ok"),
        (2, "image/svg+xml", 120, 136, 392, 0, "ok"),
        (3, "image/png", 60, 4, 4, 0, "ok"),
        (4, "image/png", 120, 4, 4, 0, "ok")]),
}


def _norm(row) -> tuple:
    return tuple(list(v) if isinstance(v, (list, tuple)) else v
                 for v in row)


@pytest.mark.parametrize("name", sorted(CASES))
def test_operator_rows(spark, name):
    op, kind, expected = CASES[name]
    rows = _inputs()[kind]
    schema = TYPED if len(rows[0]) == 3 else UNTYPED
    # 4 documents over 8 partitions: half the partitions are empty
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8),
                               schema)
    got = sorted((_norm(r) for r in op(df).collect()),
                 key=lambda r: r[:2])
    assert got == [_norm(r) for r in expected]
    empty = op(spark.createDataFrame([], schema))
    assert empty.collect() == []
    assert empty.columns == op(df).columns


IMAGE_TYPES = {
    "image/png", "image/gif", "image/bmp", "image/x-ms-bmp",
    "image/jpeg", "image/tiff", "image/webp", "image/x-icon",
    "image/vnd.microsoft.icon", "image/x-portable-bitmap",
    "image/x-portable-graymap", "image/x-portable-pixmap",
    "image/x-portable-anymap"}


def test_image_operators_decode_one_type_set(spark):
    assert set(image_decoders()) == IMAGE_TYPES
    rows = [(i, b"\x00", t)
            for i, t in enumerate(sorted(IMAGE_TYPES) + ["image/svg+xml"])]
    df = spark.createDataFrame(rows, TYPED)
    for op in (image_pixel_stats, image_phash, image_dhash):
        status = {rows[r["id"]][2]: r["status"] for r in op(df).collect()}
        assert {t for t, s in status.items() if s == "error"} \
            == IMAGE_TYPES, op.__name__
        assert status["image/svg+xml"] == "unsupported"
