"""Video near-duplicate fingerprinting: per-frame dHash + shared-
frame pair mining.

The multimodal-dedup complement of the image tier
(:mod:`tika_spark.analysis.imagehash`): every sampled frame of a
video becomes one 64-bit dHash row, and two videos are near-dup
candidates when they share at least ``min_shared`` distinct frame
hashes — re-encodes, trims and re-containered copies keep most frame
hashes even when byte-level dedup misses them.  This is the standard
frame-fingerprint recipe used by large-scale video dedup pipelines;
the perceptual hash itself is the image tier's (resize-to-9x8,
horizontal gradient signs).

Scale design: fingerprinting is per-row ``mapInPandas`` over the
video column (any container the frame tier demuxes — MJPEG/RLE8 AVI,
GIF/APNG, WebM/Matroska VP8 or H.264, MP4, MPEG-1/2, FLV), no
shuffle, text/binary never re-shuffled.  Pair mining is an equi-join
on the 8-byte hash — each hash IS its own LSH bucket — with the same
``max_bucket`` degenerate-content cap as the image tier (a black
frame shared by a million videos must not build a 10^12-row
candidate set); the join carries (id, hash) pairs only.  At 100 TB
the hash table is ~16 bytes x frames — petabyte video reduces to a
joinable few-TB fingerprint table.

Reference parity: none (Tika's video coverage is metadata-only);
this is a training-pipeline extension operator.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VIDEO_DHASH_SCHEMA = ("id long, frame_idx int, n_frames int, "
                      "dhash long, status string")


def video_dhash(df: DataFrame, every: int = 1, id_col: str = "id",
                payload_col: str = "payload") -> DataFrame:
    """(id, payload) -> one row per sampled frame with its 64-bit
    dHash (the per-frame walk of
    :func:`tika_spark.analysis.video.frame_rows`); corrupt containers
    yield status rows, never task failures."""
    from tika_spark.analysis.imagehash import dhash_bits
    from tika_spark.analysis.spread import decode_stage
    from tika_spark.analysis.video import frame_rows

    def dhash(arr):
        return (dhash_bits(arr),)

    return decode_stage(
        df, VIDEO_DHASH_SCHEMA,
        lambda payload: frame_rows(payload, every, dhash, (0,)),
        (-1, 0, 0, "error"), id_col, payload_col)


def video_neardup_pairs(fingerprints: DataFrame, min_shared: int = 2,
                        max_bucket: int = 64) -> DataFrame:
    """Frame-fingerprint rows -> (id_a, id_b, shared) video pairs
    sharing >= ``min_shared`` distinct frame hashes.

    The join key is the hash itself (exact frame-level match);
    ``max_bucket`` drops degenerate hashes shared by more than that
    many videos (solid/black frames) before the pair join, bounding
    the candidate set the way the image tier's banded join does."""
    ok = (fingerprints.filter(F.col("status") == "ok")
          .select("id", "dhash").distinct())
    crowded = (ok.groupBy("dhash").count()
               .filter(F.col("count") > max_bucket).select("dhash"))
    slim = ok.join(crowded, "dhash", "left_anti")
    a = slim.alias("a")
    b = slim.alias("b")
    pairs = (a.join(b, (F.col("a.dhash") == F.col("b.dhash"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.col("a.dhash").alias("dhash")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.countDistinct("dhash").alias("shared"))
            .filter(F.col("shared") >= min_shared))


def frame_bit(o: int, x: int, y: int) -> bool:
    """Deterministic per-cell dHash bit of content index ``o``: the
    parity of the first hex char of md5("o:x:y") — replayable in SQL
    as substr(md5(...), 1, 1) IN ('1','3',…), the same cross-engine
    trick the hashing-trick embedding oracle uses."""
    import hashlib
    d = hashlib.md5(f"{o}:{x}:{y}".encode()).hexdigest()
    return bool(int(d[0], 16) & 1)


def video_dhash_fixture(doc_id: int) -> bytes:
    """Deterministic animated GIF (lossless, identity grayscale
    palette): n = 2 + id%2 frames of 9x8 pixels built so the dHash
    extracts exactly the md5 bit pattern of content index
    o = (id//2)*4 + k (each column steps ±1 from 128 per the bit, so
    no clipping and no resize ambiguity).  Each even/odd id pair
    (2i, 2i+1) overlaps in exactly two content indices — the
    trimmed-copy shape the pair oracle replays; md5 makes accidental
    cross-video hash collisions vanish."""
    from tika_spark.analysis.pixels import gif_anim_bytes
    did = int(doc_id)
    n = 2 + did % 2
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3,
                    axis=1)
    frames = []
    for k in range(n):
        o = (did // 2) * 4 + k
        img = np.empty((8, 9), dtype=np.uint8)
        img[:, 0] = 128
        for y in range(8):
            for x in range(8):
                step = 1 if frame_bit(o, x, y) else -1
                img[y, x + 1] = img[y, x] + step
        frames.append(img)
    return gif_anim_bytes(frames, pal)
