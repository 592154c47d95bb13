"""Media metadata for the multimodal column: binary payloads plus
typed metadata.

Images, audio and video ride the same pages table as HTML does -- an
opaque ``binary`` column plus typed metadata columns.
:func:`decode_media` turns each payload into one (n_bytes, width,
height, duration_ms, status) row on the shared media decode stage
(:func:`tika_spark.analysis.spread.decode_stage`: one Arrow pass,
binary never re-shuffled, a corrupt payload becomes an 'error' row):

1. **Header parse.** Image dimensions come from the from-scratch
   header readers of the media parser (:mod:`tika_spark.media`:
   PNG/GIF/BMP/JPEG/TIFF/PSD/WebP/ICO/...); MP3 duration is
   estimated from the first MPEG frame header's bitrate.
2. **Deterministic fake.** Payloads whose type has no header reader
   (e.g. the synthetic ``image/fake``) get metadata derived from the
   payload length, so tests and oracles can pin values.

Full decodes live with the operators that need pixels or samples:
the image table :func:`tika_spark.analysis.pixels.image_decoders`,
the audio table :func:`tika_spark.analysis.pcm.audio_decoders` and
the video demuxer behind :func:`tika_spark.analysis.video.frame_rows`.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

MEDIA_META_SCHEMA = ("id long, media_type string, n_bytes long, "
                     "width int, height int, duration_ms int, "
                     "status string")

# MPEG1 Layer III bitrate table (kbps), index 1-14 (header bits 12-15)
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320)


def _mp3_duration_ms(payload: bytes) -> int:
    """Duration estimate from the first MPEG frame header (CBR
    assumption): bytes * 8 / bitrate."""
    i = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14) \
            | ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        i = 10 + size
    if i + 4 > len(payload):
        return 0
    (hdr,) = struct.unpack_from(">I", payload, i)
    if (hdr >> 21) & 0x7FF != 0x7FF:
        return 0
    bitrate = _MP3_BITRATES[(hdr >> 12) & 0xF] * 1000
    if not bitrate:
        return 0
    return int((len(payload) - i) * 8 * 1000 / bitrate)


def header_decode(payload: bytes, media_type: str) -> dict | None:
    """Tier-1 real header parse; None when the type has no reader."""
    from tika_spark.media import _BY_MIME
    fn = _BY_MIME.get(media_type)
    if fn is not None:
        dims = fn(payload)
        if dims is None:
            raise ValueError(f"corrupt {media_type} header")
        return {"n_bytes": len(payload), "width": int(dims[0]),
                "height": int(dims[1]), "duration_ms": 0}
    if media_type == "audio/mpeg":
        return {"n_bytes": len(payload), "width": 0, "height": 0,
                "duration_ms": _mp3_duration_ms(payload)}
    return None


def fake_decode(payload: bytes, media_type: str) -> dict:
    """Deterministic stand-in for types without a header reader:
    metadata derived purely from payload length, so tests/oracles can
    pin it.

    width  = 16 + n % 624        height = 16 + (n * 7) % 464
    duration_ms = n (audio/video) else 0
    """
    n = len(payload)
    return {
        "n_bytes": n,
        "width": 16 + n % 624,
        "height": 16 + (n * 7) % 464,
        "duration_ms": n if media_type.split("/")[0] in
        ("audio", "video") else 0,
    }


def decode_payload(payload: bytes, media_type: str) -> dict:
    meta = header_decode(payload, media_type)
    if meta is None:
        meta = fake_decode(payload, media_type)
    return meta


def decode_media(df: DataFrame, id_col: str = "id",
                 payload_col: str = "payload",
                 type_col: str = "media_type") -> DataFrame:
    """mapInPandas media-metadata stage: (id, payload, type) -> (id,
    type, n_bytes, width, height, duration_ms, status) per payload.

    Same scale contract as the extraction job: the binary column enters
    Python once per batch and is absent from the output schema; a
    corrupt payload yields a status='error' row, never a task failure.
    """
    from tika_spark.analysis.spread import decode_stage

    def meta(payload: bytes, media_type: str | None):
        m = decode_payload(payload, media_type or "")
        return [(m["n_bytes"], m["width"], m["height"],
                 m["duration_ms"], "ok")]

    return decode_stage(df, MEDIA_META_SCHEMA, meta, (0, 0, 0, 0, "error"),
                        id_col, payload_col, type_col, echo_type=True)
