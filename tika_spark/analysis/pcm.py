"""Real PCM decode for the multimodal audio tier, pure numpy: WAV
PCM, the G.711 companded telephony formats (mu-law format 7, A-law
format 6, through the classic 256-entry expansion tables), Sun AU and
AIFF.

The compressed codecs decode in their own modules -- FLAC
(:mod:`tika_spark.analysis.flac`), MPEG audio layers I-III
(:mod:`tika_spark.analysis.mp2codec`), ADTS AAC-LC
(:mod:`tika_spark.analysis.aaccodec`), Vorbis and FLAC-in-Ogg
(:mod:`tika_spark.analysis.oggdemux`), and the M4A, FLV and WebM
containers -- and :func:`audio_decoders` is the one media type ->
decoder table over all of them.  Opus has no decoder: an Ogg Opus
payload raises, which the operators turn into an 'error' row.

Stats are exact micro-units over the normalized [-1, 1) signal:
integer sums of squares are order-independent, so the distributed
outputs are hash-checkable cross-engine.

Scale contract: identical to the image operator -- both run on
:func:`tika_spark.analysis.spread.decode_stage`: per-row CPU work,
no shuffle, binary enters Python once per Arrow batch, corrupt
payloads become status rows.
"""

from __future__ import annotations

import functools
import math
import struct

import numpy as np
from pyspark.sql import DataFrame

PCM_STATS_SCHEMA = ("id long, n_channels int, sample_rate int, "
                    "n_samples long, duration_ms long, rms_micro long, "
                    "peak_micro long, status string")


def _ulaw_table() -> np.ndarray:
    """G.711 μ-law code → 16-bit linear (the classic public-domain
    CCITT reference decode: complement, bias 0x84, segment shift)."""
    out = np.zeros(256, dtype=np.int32)
    for code in range(256):
        u = ~code & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        out[code] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    return out


def _alaw_table() -> np.ndarray:
    """G.711 A-law code → 16-bit linear (XOR 0x55, segment expand)."""
    out = np.zeros(256, dtype=np.int32)
    for code in range(256):
        a = code ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        out[code] = t if (a & 0x80) else -t
    return out


_G711 = {7: _ulaw_table(), 6: _alaw_table()}


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV → (int samples array of shape (n, channels), sample_rate).

    PCM format 1 (8-bit unsigned rebased, 16-bit signed LE) plus the
    G.711 companded formats — 6 (A-law) and 7 (μ-law), expanded to
    16-bit linear through the classic decode tables. Raises
    ValueError otherwise — callers surface a status row.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    samples = None
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos:pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8:pos + 8 + ln]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            samples = body
        pos += 8 + ln + (ln & 1)     # chunks are word-aligned
    if fmt is None or samples is None or len(fmt) < 16:
        raise ValueError("missing fmt/data chunk")
    (audio_fmt, channels, rate, _brate, _align,
     bits) = struct.unpack_from("<HHIIHH", fmt, 0)
    if audio_fmt not in (1, 6, 7) or channels < 1 or rate < 1:
        raise ValueError(f"unsupported WAV (fmt={audio_fmt})")
    if audio_fmt in (6, 7):
        if bits != 8:
            raise ValueError(f"G.711 needs 8-bit codes, got {bits}")
        codes = np.frombuffer(
            samples[:len(samples) // channels * channels],
            dtype=np.uint8)
        arr = _G711[audio_fmt][codes]
        return arr.reshape(-1, channels), int(rate)
    if bits == 16:
        arr = np.frombuffer(
            samples[:len(samples) // (2 * channels) * 2 * channels],
            dtype="<i2").astype(np.int32)
    elif bits == 8:
        arr = np.frombuffer(
            samples[:len(samples) // channels * channels],
            dtype=np.uint8).astype(np.int32) - 128
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    return arr.reshape(-1, channels), int(rate)


def pcm_stats(arr: np.ndarray, rate: int, bits: int = 16) -> dict:
    """Exact micro-unit statistics of the normalized signal.

    rms_micro = round(1e6 · sqrt(mean((s/full_scale)²))) computed
    from the EXACT integer sum of squared samples (int64 — no
    accumulation rounding, so any partitioning of the same samples
    yields the same value); peak_micro likewise from the integer max.
    """
    n = arr.size
    full = float(1 << (bits - 1))
    if n == 0:
        return {"n_samples": 0, "duration_ms": 0, "rms_micro": 0,
                "peak_micro": 0}
    sq = int((arr.astype(np.int64) ** 2).sum())
    rms = math.sqrt(sq / n) / full
    peak = int(np.abs(arr).max()) / full
    frames = arr.shape[0]
    return {
        "n_samples": int(frames),
        "duration_ms": (frames * 1000) // rate,
        "rms_micro": int(math.floor(rms * 1_000_000 + 0.5)),
        "peak_micro": int(math.floor(peak * 1_000_000 + 0.5)),
    }


def wav_bytes(samples: np.ndarray, rate: int) -> bytes:
    """int16 (n[, channels]) array → WAV bytes (PCM16, byte-stable)
    — the deterministic fixture/sink counterpart of
    :func:`decode_wav`."""
    a = np.asarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    channels = a.shape[1]
    body = a.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    payload = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", 4 + len(payload) - 4) + payload


def decode_au(data: bytes) -> tuple[np.ndarray, int]:
    """Sun/NeXT .au (audio/basic) → (int samples (n, ch), rate).

    Encodings: 1 (G.711 μ-law — reuses the expansion table), 2
    (8-bit linear), 3 (16-bit big-endian linear)."""
    if len(data) < 24 or data[:4] != b".snd":
        raise ValueError("not an AU file")
    off, size, enc, rate, channels = struct.unpack_from(">IIIII", data, 4)
    if channels < 1 or rate < 1 or off < 24:
        raise ValueError("bad AU header")
    body = data[off:off + size if size != 0xFFFFFFFF else len(data)]
    if enc == 1:
        arr = _G711[7][np.frombuffer(body, dtype=np.uint8)]
    elif enc == 2:
        arr = np.frombuffer(body, dtype=np.int8).astype(np.int32) * 256
    elif enc == 3:
        arr = np.frombuffer(body[:len(body) // 2 * 2],
                            dtype=">i2").astype(np.int32)
    else:
        raise ValueError(f"unsupported AU encoding {enc}")
    arr = arr[:len(arr) // channels * channels]
    return arr.reshape(-1, channels), int(rate)


def decode_aiff(data: bytes) -> tuple[np.ndarray, int]:
    """AIFF → (int samples (n, ch), rate): COMM (channels, bits,
    80-bit extended sample rate) + SSND big-endian PCM16."""
    if len(data) < 12 or data[:4] != b"FORM" or data[8:12] != b"AIFF":
        raise ValueError("not an AIFF file")
    pos = 12
    comm = ssnd = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (ln,) = struct.unpack_from(">I", data, pos + 4)
        body = data[pos + 8:pos + 8 + ln]
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        pos += 8 + ln + (ln & 1)
    if comm is None or ssnd is None or len(comm) < 18 or len(ssnd) < 8:
        raise ValueError("missing COMM/SSND chunk")
    channels, _nframes, bits = struct.unpack_from(">HIH", comm, 0)
    from tika_spark.media import _ieee754_extended
    rate = int(round(_ieee754_extended(comm[8:18])))
    if bits != 16 or channels < 1 or rate < 1:
        raise ValueError(f"unsupported AIFF ({bits}-bit)")
    (data_off,) = struct.unpack_from(">I", ssnd, 0)
    pcm = ssnd[8 + data_off:]
    arr = np.frombuffer(pcm[:len(pcm) // (2 * channels) * 2 * channels],
                        dtype=">i2").astype(np.int32)
    return arr.reshape(-1, channels), rate


def au_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 array → big-endian .au (encoding 3) fixture bytes."""
    a = np.asarray(samples, dtype=">i2")
    if a.ndim == 1:
        a = a[:, None]
    body = a.tobytes()
    return (b".snd" + struct.pack(">IIIII", 24, len(body), 3, rate,
                                  a.shape[1]) + body)


def aiff_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 array → AIFF fixture bytes (COMM + SSND, PCM16 BE)."""
    a = np.asarray(samples, dtype=">i2")
    if a.ndim == 1:
        a = a[:, None]
    n, channels = a.shape
    # 80-bit extended sample rate
    exp = 16383 + 30
    mant = rate << (63 - 30)
    ext = struct.pack(">HQ", exp, mant)
    comm = struct.pack(">HIH", channels, n, 16) + ext
    ssnd = struct.pack(">II", 0, 0) + a.tobytes()
    body = (b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
    return b"FORM" + struct.pack(">I", len(body)) + body


def wav_bytes_g711(codes: np.ndarray, rate: int,
                   law: str = "ulaw", channels: int = 1) -> bytes:
    """uint8 G.711 code array → WAV bytes with format tag 7 (μ-law)
    or 6 (A-law) — fixture/decoder-coverage counterpart."""
    body = np.asarray(codes, dtype=np.uint8).tobytes()
    tag = 7 if law == "ulaw" else 6
    fmt = struct.pack("<HHIIHH", tag, channels, rate,
                      rate * channels, channels, 8)
    payload = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", len(payload) + 4) + payload


@functools.cache
def audio_decoders() -> dict:
    """The one media type -> decoder table of the audio operators (PCM
    stats, features, fingerprints); each decoder returns
    ``(int16 [n, ch], rate)``.  Built on first use, so importing this
    module does not import every codec."""
    from tika_spark.analysis.aaccodec import decode_aac
    from tika_spark.analysis.ebml import decode_mkv_vorbis
    from tika_spark.analysis.flac import decode_flac
    from tika_spark.analysis.flvdemux import decode_flv_audio
    from tika_spark.analysis.isobmff import decode_mp4_audio
    from tika_spark.analysis.mp2codec import decode_mpeg_audio
    from tika_spark.analysis.oggdemux import decode_ogg_audio
    return {"audio/wav": decode_wav, "audio/x-wav": decode_wav,
            "audio/vnd.wave": decode_wav,
            "audio/flac": decode_flac, "audio/x-flac": decode_flac,
            "audio/basic": decode_au, "audio/x-aiff": decode_aiff,
            # layer sniff: MPEG audio layer I, II or III
            "audio/mpeg": decode_mpeg_audio,
            "audio/mp3": decode_mpeg_audio,
            "audio/x-aac": decode_aac, "audio/aac": decode_aac,
            "audio/mp4": decode_mp4_audio, "audio/x-m4a": decode_mp4_audio,
            "video/x-flv": decode_flv_audio,
            # FLAC-in-Ogg and Vorbis decode; Opus raises (a status row)
            "audio/ogg": decode_ogg_audio,
            "application/ogg": decode_ogg_audio,
            "video/webm": decode_mkv_vorbis,
            "video/x-matroska": decode_mkv_vorbis}


def decode_audio(payload: bytes, media_type: str
                 ) -> tuple[np.ndarray, int]:
    """Decode through :func:`audio_decoders`: (int16 [n, ch], rate);
    ValueError for a type the table lacks."""
    decode = audio_decoders().get(media_type)
    if decode is None:
        raise ValueError(f"no audio decoder for {media_type!r}")
    return decode(payload)


def audio_pcm_stats(df: DataFrame, id_col: str = "id",
                    payload_col: str = "payload",
                    type_col: str = "media_type") -> DataFrame:
    """(id, payload, type) -> channels, rate and exact PCM stats per
    clip through :func:`audio_decoders`; other types are
    'unsupported' rows and corrupt payloads 'error' rows."""
    from tika_spark.analysis.spread import decode_stage

    def stats(payload: bytes, media_type: str | None):
        decode = audio_decoders().get(media_type)
        if decode is None:
            return [(0, 0, 0, 0, 0, 0, "unsupported")]
        arr, rate = decode(payload)
        s = pcm_stats(arr, rate)
        return [(arr.shape[1], rate, s["n_samples"], s["duration_ms"],
                 s["rms_micro"], s["peak_micro"], "ok")]

    return decode_stage(df, PCM_STATS_SCHEMA, stats,
                        (0, 0, 0, 0, 0, 0, "error"), id_col, payload_col,
                        type_col)


FEATURES_SCHEMA = ("id long, n_samples long, zero_crossings long, "
                   "peak_bin long, peak_hz long, sum_amp long, "
                   "status string")


def audio_features(df: DataFrame, id_col: str = "id",
                   payload_col: str = "payload",
                   type_col: str = "media_type",
                   max_fft: int = 1 << 18) -> DataFrame:
    """Decode + integer-robust audio features, distributed — the
    feature-extraction stage a training-data pipeline runs after
    decode (language/music/noise gating, tone detection, corpus
    dedup keys):

      zero_crossings  strict sign changes of channel 0 (exact
                      integer — k whole sine cycles give 2k-1: the
                      2k-th zero falls past the last sample)
      peak_bin        argmax |rfft| bin of channel 0 (first
                      ``max_fft`` samples) — the dominant-frequency
                      bin; integer-robust because argmax only needs
                      the peak to beat the leakage floor, not any
                      particular float value cross-engine
      peak_hz         peak_bin · rate // n_fft
      sum_amp         exact integer sample sum (odd-symmetric
                      signals — any whole number of sine periods —
                      sum to exactly 0; a DC offset shows directly)

    Same scale contract as :func:`audio_pcm_stats`: per-row work in
    mapInPandas, no shuffle, corrupt payloads become status rows.
    """
    from tika_spark.analysis.spread import decode_stage

    def features(payload: bytes, media_type: str | None):
        decode = audio_decoders().get(media_type)
        if decode is None:
            return [(0, 0, 0, 0, 0, "unsupported")]
        arr, rate = decode(payload)
        x = arr[:, 0].astype(np.int64)
        s = np.sign(x)
        nz = s[s != 0]
        zc = int((nz[:-1] * nz[1:] < 0).sum()) if len(nz) > 1 else 0
        head = x[:max_fft].astype(np.float64)
        pk = int(np.argmax(np.abs(np.fft.rfft(head)))) if len(head) else 0
        return [(int(arr.shape[0]), zc, pk,
                 pk * rate // max(len(head), 1), int(x.sum()), "ok")]

    return decode_stage(df, FEATURES_SCHEMA, features,
                        (0, 0, 0, 0, 0, "error"), id_col, payload_col,
                        type_col)
