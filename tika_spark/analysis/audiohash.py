"""Audio near-duplicate fingerprinting: constellation landmarks over
windowed dominant-frequency bins.

The audio twin of :mod:`tika_spark.analysis.videohash`, following
the landmark recipe of large-scale audio matchers (Wang 2003,
"An Industrial-Strength Audio Search Algorithm"): slice the decoded
PCM into fixed windows, take each window's dominant rfft bin, and
hash consecutive bin pairs into landmarks ``(b_t, b_{t+1}, dt=1)``.
Re-encoded or companded copies keep their dominant bins, so two
clips sharing enough landmarks are near-dup candidates even when
byte-level dedup misses them.

Integer-robustness: the per-window feature is an *argmax* bin (the
same contract as :func:`tika_spark.analysis.pcm.audio_features` —
only the peak's rank matters, never a float value), and the landmark
hash is pure integer packing, so fixtures built from whole-period
sines pin every landmark exactly and the DuckDB oracle replays them
in closed form with no FFT at all.

Scale: fingerprinting is per-row ``mapInPandas`` over the audio
column (any codec the PCM tier decodes: WAV/G.711/AU/AIFF, FLAC,
MP3/MP2, AAC, Vorbis/Ogg, M4A, FLV audio), no shuffle; pair mining
is an equi-join on the 8-byte landmark — its own LSH bucket — with
the ``max_bucket`` degenerate cap (silence windows).

Reference parity: none (the reference is metadata-only for audio);
training-pipeline extension.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AUDIO_FP_SCHEMA = ("id long, t int, n_windows int, landmark long, "
                   "status string")


def window_peak_bins(x: np.ndarray, window: int = 256
                     ) -> np.ndarray:
    """Channel-0 samples -> dominant rfft bin (1..window/2-1) per
    complete window."""
    n = (len(x) // window) * window
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    w = x[:n].astype(np.float64).reshape(-1, window)
    mag = np.abs(np.fft.rfft(w, axis=1))
    mag[:, 0] = 0.0                         # ignore DC
    return mag.argmax(axis=1).astype(np.int64)


def landmarks_of(bins: np.ndarray) -> np.ndarray:
    """Consecutive-bin landmarks: (b_t << 20) | (b_{t+1} << 8) | 1
    (dt fixed at 1 window for the adjacent-pair recipe)."""
    if len(bins) < 2:
        return np.zeros(0, dtype=np.int64)
    return (bins[:-1] << 20) | (bins[1:] << 8) | 1


def audio_fingerprint(df: DataFrame, window: int = 256,
                      id_col: str = "id",
                      payload_col: str = "payload",
                      type_col: str = "media_type") -> DataFrame:
    """(id, payload, media_type) -> one row per landmark (windowed
    dominant-bin pair); unsupported types, clips too short for one
    landmark and corrupt payloads yield one status row each."""
    from tika_spark.analysis.pcm import audio_decoders
    from tika_spark.analysis.spread import decode_stage

    def landmarks(payload: bytes, media_type: str | None):
        decode = audio_decoders().get(media_type)
        if decode is None:
            return [(-1, 0, 0, "unsupported")]
        arr, _rate = decode(payload)
        bins = window_peak_bins(arr[:, 0], window)
        lms = landmarks_of(bins)
        n = int(len(bins))
        if len(lms) == 0:
            return [(-1, n, 0, "short")]
        return [(t, n, int(lm), "ok") for t, lm in enumerate(lms)]

    return decode_stage(df, AUDIO_FP_SCHEMA, landmarks,
                        (-1, 0, 0, "error"), id_col, payload_col,
                        type_col)


def audio_neardup_pairs(fingerprints: DataFrame,
                        min_shared: int = 2,
                        max_bucket: int = 64) -> DataFrame:
    """Landmark rows -> (id_a, id_b, shared) clip pairs sharing >=
    ``min_shared`` distinct landmarks; landmarks carried by more
    than ``max_bucket`` clips (silence, test tones) are dropped
    before the pair join."""
    ok = (fingerprints.filter(F.col("status") == "ok")
          .select("id", "landmark").distinct())
    crowded = (ok.groupBy("landmark").count()
               .filter(F.col("count") > max_bucket)
               .select("landmark"))
    slim = ok.join(crowded, "landmark", "left_anti")
    a = slim.alias("a")
    b = slim.alias("b")
    pairs = (a.join(b, (F.col("a.landmark") == F.col("b.landmark"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.col("a.landmark").alias("landmark")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.countDistinct("landmark").alias("shared"))
            .filter(F.col("shared") >= min_shared))


def fixture_bin(o: int) -> int:
    """Closed-form dominant bin of content index ``o``: 3 plus five
    md5-parity bits of md5("o:a") — bins 3..34 (whole periods in a
    256 window), md5-spread so unrelated clips almost never alias
    (a linear formula's short period would crowd landmark buckets
    quadratically).  The SQL oracle replays the same five
    substr(md5(...)) parities."""
    import hashlib
    d = hashlib.md5(f"{o}:a".encode()).hexdigest()
    return 3 + sum((int(d[j], 16) & 1) << j for j in range(5))


def audio_fp_fixture(doc_id: int, window: int = 256) -> bytes:
    """Deterministic WAV: n = 4 + id%2 windows, window w a pure
    whole-period sine at bin fixture_bin(o) with content index
    o = (id//2)*8 + w — even/odd id pairs overlap in 4 windows
    (3 shared landmarks: the trimmed-copy shape)."""
    did = int(doc_id)
    n = 4 + did % 2
    t = np.arange(window)
    segs = []
    for wdx in range(n):
        o = (did // 2) * 8 + wdx
        b = fixture_bin(o)
        segs.append(np.rint(
            8000 * np.sin(2 * np.pi * b * t / window)))
    x = np.concatenate(segs).astype(np.int16)[:, None]
    from tika_spark.analysis.pcm import wav_bytes
    return wav_bytes(x, 8000)
