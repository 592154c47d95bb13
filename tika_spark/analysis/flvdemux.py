"""From-scratch FLV (Flash Video) tag demux with audio decode.

The reference stops at FLV's header flags and onMetaData AMF0 scan
(``video/FLVParser.java``, matched in tika_spark.media._flv_meta);
this module adds the tag layer a real demuxer needs: the 11-byte tag
walk (type / 24-bit size / split timestamp) with previous-tag-size
back-pointer validation, and audio-tag extraction for the two codecs
the from-scratch audio tier can decode — SoundFormat 2 (MP3, tag
bodies concatenate to a Layer III elementary stream) and SoundFormat
10 (AAC, AACPacketType 0 carries the AudioSpecificConfig and type 1
the raw access units, exactly the MP4 ``esds`` arrangement). FLV's
video codecs (Sorenson H.263, VP6, AVC) are outside the shipped
codec set and remain the documented hook.

Scale: per-row work inside mapInPandas, no shuffle. Provenance: the
public Adobe "Video File Format Specification" layout, reproduced
from widely-documented structure; no reference code consulted for
the demux itself.
"""

from __future__ import annotations

from itertools import chain

import numpy as np


class FlvError(ValueError):
    pass


SOUND_MP3 = 2
SOUND_AAC = 10


def flv_tags(data: bytes):
    """Yield (tag_type, timestamp_ms, body) walking the tag chain;
    validates the FLV signature and each previous-tag-size
    back-pointer."""
    data = bytes(data or b"")
    if not data.startswith(b"FLV\x01") or len(data) < 9:
        raise FlvError("not an FLV file")
    hdr = int.from_bytes(data[5:9], "big")
    if hdr < 9:
        raise FlvError("bad FLV header size")
    pos = hdr
    prev = 0
    while pos + 4 <= len(data):
        back = int.from_bytes(data[pos:pos + 4], "big")
        if back != prev:
            raise FlvError("previous-tag-size mismatch")
        pos += 4
        if pos + 11 > len(data):
            break                                # trailing size only
        ttype = data[pos] & 0x1F
        size = int.from_bytes(data[pos + 1:pos + 4], "big")
        ts = (int.from_bytes(data[pos + 4:pos + 7], "big")
              | (data[pos + 7] << 24))
        body = data[pos + 11:pos + 11 + size]
        if len(body) < size:
            raise FlvError("truncated FLV tag")
        yield ttype, ts, body
        prev = 11 + size
        pos += 11 + size


def flv_audio(data: bytes) -> tuple[str, dict]:
    """Collect the audio track: ('mp3', {'es': bytes}) or
    ('aac', {'asc': bytes, 'aus': [bytes]})."""
    fmt = None
    mp3_es = bytearray()
    asc = None
    aus: list[bytes] = []
    for ttype, _ts, body in flv_tags(data):
        if ttype != 8 or not body:
            continue
        sound_format = body[0] >> 4
        if fmt is None:
            fmt = sound_format
        elif sound_format != fmt:
            raise FlvError("mixed audio formats in one FLV")
        if sound_format == SOUND_MP3:
            mp3_es += body[1:]
        elif sound_format == SOUND_AAC:
            if len(body) < 2:
                raise FlvError("truncated AAC audio tag")
            if body[1] == 0:
                asc = body[2:]
            else:
                aus.append(body[2:])
        else:
            raise FlvError(f"sound format {sound_format} is not "
                           "in the shipped codec set")
    if fmt == SOUND_MP3 and mp3_es:
        return "mp3", {"es": bytes(mp3_es)}
    if fmt == SOUND_AAC and asc is not None and aus:
        return "aac", {"asc": asc, "aus": aus}
    raise FlvError("FLV has no decodable audio track")


def decode_flv_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Full FLV audio decode: (int16 samples [n, ch], rate)."""
    kind, track = flv_audio(data)
    if kind == "mp3":
        from tika_spark.analysis.mp3codec import decode_mp3
        return decode_mp3(track["es"])
    from tika_spark.analysis.aaccodec import decode_aac_raw
    from tika_spark.analysis.isobmff import parse_asc
    _aot, rate, _nch = parse_asc(track["asc"])
    return decode_aac_raw(track["aus"], rate)


# ------------------------------------------------------ fixture mux

def _tag(ttype: int, ts: int, body: bytes) -> bytes:
    return (bytes((ttype,)) + len(body).to_bytes(3, "big")
            + (ts & 0xFFFFFF).to_bytes(3, "big")
            + bytes(((ts >> 24) & 0xFF,)) + b"\x00\x00\x00" + body)


def flv_wrap_audio(payloads: list[bytes], fmt: int,
                   asc: bytes | None = None,
                   ms_per_tag: int = 26) -> bytes:
    """Fixture muxer: audio payloads → an FLV with correct
    previous-tag-size chaining. ``fmt`` 2 wraps MP3 frame chunks;
    10 wraps raw AAC access units after an AudioSpecificConfig
    tag (``asc`` required)."""
    flags = bytes((fmt << 4 | 0x0F,))            # 44k/16-bit/stereo
    out = bytearray(b"FLV\x01\x04" + (9).to_bytes(4, "big"))
    tags: list[bytes] = []
    if fmt == SOUND_AAC:
        if asc is None:
            raise FlvError("AAC FLV needs an AudioSpecificConfig")
        tags.append(_tag(8, 0, flags + b"\x00" + asc))
        tags += [_tag(8, (k + 1) * ms_per_tag, flags + b"\x01" + au)
                 for k, au in enumerate(payloads)]
    elif fmt == SOUND_MP3:
        tags = [_tag(8, k * ms_per_tag, flags + p)
                for k, p in enumerate(payloads)]
    else:
        raise FlvError("fixture wraps MP3 or AAC only")
    prev = 0
    for tag in tags:
        out += prev.to_bytes(4, "big")
        out += tag
        prev = len(tag)
    out += prev.to_bytes(4, "big")
    return bytes(out)


def flv_fixture(doc_id: int) -> bytes:
    """Deterministic FLV per document row alternating codecs:
    even doc_ids carry silent MP3 (1 + doc_id % 3 frames, mono,
    44.1 kHz → 1152 samples/frame); odd doc_ids carry silent AAC
    raw blocks (1 + doc_id % 3 frames, 1 + (doc_id // 2) % 2
    channels, 44.1 kHz → 1024 samples/frame). Closed forms follow
    directly."""
    n = 1 + doc_id % 3
    if doc_id % 2 == 0:
        from tika_spark.analysis.mp3codec import mp3_bytes
        z = np.zeros(576, dtype=np.int64)
        es = mp3_bytes([[[z], [z]]] * n, rate=44100, mode="mono")
        # split at frame boundaries: fixed-size CBR frames
        flen = len(es) // n
        chunks = [es[k * flen:(k + 1) * flen] for k in range(n)]
        return flv_wrap_audio(chunks, SOUND_MP3)
    from tika_spark.analysis.aaccodec import aac_bytes
    from tika_spark.analysis.isobmff import adts_to_aus
    nch = 1 + (doc_id // 2) % 2
    z = np.zeros(1024, dtype=np.int64)
    adts = aac_bytes([[z] * nch] * n, rate_index=4,
                     codebook=1 + doc_id % 4)
    aus, _rate = adts_to_aus(adts)
    asc = ((2 << 11) | (4 << 7) | (nch << 3)).to_bytes(2, "big")
    return flv_wrap_audio(aus, SOUND_AAC, asc=asc)


# ------------------------------------------------------- video (AVC)
# FLV VIDEODATA tags (type 9): codec id 7 = AVC, carrying an
# AVCDecoderConfigurationRecord (packet type 0) then length-prefixed
# NALU packets (type 1) — the same wire forms the MP4 avc1 tier
# parses.  Decode goes through the from-scratch H.264 decoder
# (tika_spark.analysis.h264.H264Decoder); Sorenson H.263 and VP6
# remain the documented hook.  Reference parity: video/FLVParser.java
# is metadata-only.

AVC_CODEC = 7


def flv_video(data: bytes) -> tuple[bytes, list[bytes]]:
    """Collect the AVC video track: (avcC record, [NALU payloads])."""
    avcc = None
    payloads: list[bytes] = []
    for ttype, _ts, body in flv_tags(data):
        if ttype != 9 or len(body) < 5:
            continue
        codec = body[0] & 0x0F
        if codec != AVC_CODEC:
            raise FlvError(f"video codec {codec} is not in the "
                           "shipped codec set (AVC only)")
        pkt = body[1]
        if pkt == 0:
            avcc = body[5:]
        elif pkt == 1:
            payloads.append(body[5:])
    if avcc is None or not payloads:
        raise FlvError("FLV has no decodable AVC video track")
    return avcc, payloads


def decode_flv_video(data: bytes) -> list:
    """Full FLV AVC decode -> list of (h, w, 3) RGB frames."""
    from tika_spark.analysis.h264 import H264Decoder, split_avcc
    from tika_spark.analysis.isobmff import parse_avcc
    avcc_rec, payloads = flv_video(bytes(data or b""))
    cfg = parse_avcc(avcc_rec, 0, len(avcc_rec))
    nals = (nal for p in payloads
            for nal in split_avcc(p, cfg["length_size"]))
    return H264Decoder().decode(chain(cfg["sps"] + cfg["pps"], nals),
                                FlvError)


def flv_wrap_video(frames: list, width: int, height: int,
                   qp: int = 28, plan: str = "i16dc") -> bytes:
    """Fixture muxer: (y, u, v) planes -> an FLV with one AVC video
    track (sequence-header tag + one IDR NALU tag per frame)."""
    from tika_spark.analysis.h264 import H264Encoder, _nal
    import numpy as np
    enc = H264Encoder(width, height, qp)
    sps = _nal(7, enc.sps_rbsp())
    pps = _nal(8, enc.pps_rbsp())
    avcc = (bytes((1, 66, 0, 30, 0xFF, 0xE1))
            + len(sps).to_bytes(2, "big") + sps + bytes((1,))
            + len(pps).to_bytes(2, "big") + pps)
    out = bytearray(b"FLV\x01\x01" + (9).to_bytes(4, "big"))
    tags = [_tag(9, 0, bytes((0x17, 0)) + b"\x00\x00\x00" + avcc)]
    for k, (y, u, v) in enumerate(frames):
        nal = _nal(5, enc.encode_frame(np.asarray(y, dtype=np.uint8),
                                       np.asarray(u, dtype=np.uint8),
                                       np.asarray(v, dtype=np.uint8),
                                       plan))
        tags.append(_tag(9, 40 * (k + 1),
                         bytes((0x17, 1)) + b"\x00\x00\x00"
                         + len(nal).to_bytes(4, "big") + nal))
    prev = 0
    for tag in tags:
        out += prev.to_bytes(4, "big")
        out += tag
        prev = len(tag)
    out += prev.to_bytes(4, "big")
    return bytes(out)


def flv_video_fixture(doc_id: int) -> bytes:
    """Deterministic AVC FLV: n = 2 + id%2 solid 16x16 frames,
    Y = (id*23 + 31*k) % 256, neutral chroma, qp=28 I16x16-DC
    (exactly lossless via the LS*MF = 2^17 identity)."""
    import numpy as np
    did = int(doc_id)
    frames = []
    for k in range(2 + did % 2):
        yv = (did * 23 + 31 * k) % 256
        frames.append((np.full((16, 16), yv, np.uint8),
                       np.full((8, 8), 128, np.uint8),
                       np.full((8, 8), 128, np.uint8)))
    return flv_wrap_video(frames, 16, 16, qp=28,
                          plan="i16dc" if did % 2 else "pcm")
