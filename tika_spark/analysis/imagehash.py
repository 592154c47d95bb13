"""Perceptual image hashing + image near-duplicate pairs.

The image-side sibling of the text dedup family (analysis/dedup.py):
a 64-bit difference hash (dHash) per image — decode, deterministic
resize to 9×8 luma, one bit per horizontal gradient sign — and a
banded Hamming self-join that finds near-duplicate images without an
all-pairs comparison.

dHash is the standard perceptual-hash baseline (robust to rescaling
and recompression, cheap to compute); the gradient-sign bits are
pure integer comparisons over the block-average resize, so the hash
is exactly reproducible across engines — the oracle replays it in
SQL for fixtures whose resized luma is a closed form.

Scale design (100 TB image corpus):

- hashing is map-only (`mapInPandas`, binary in, 8-byte hash out);
- the near-dup join follows the SimHash recipe: split the 64-bit
  hash into 8 byte-bands; by pigeonhole, any pair within Hamming
  distance < 8 shares at least one exact band → equi-join on
  (band_idx, band_value) produces the candidate set, exact
  ``bit_count(xor)`` verifies candidates only. ``max_bucket`` caps
  degenerate bands (e.g. millions of flat images hash to 0) exactly
  like the SimHash operator's cap.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

DHASH_SCHEMA = "id long, dhash long, width int, height int, status string"


def dhash_bits(arr: np.ndarray) -> int:
    """64-bit dHash of a decoded (h, w, c) uint8 image: block-average
    resize to 9 columns × 8 rows of luma (integer mean over channels),
    bit (y*8 + x) set iff luma[y, x+1] > luma[y, x]."""
    from tika_spark.analysis.pixels import resize_image
    if arr.ndim == 2:
        arr = arr[:, :, None]
    luma = arr.astype(np.int64).sum(axis=2) // arr.shape[2]
    small = resize_image(luma[:, :, None].astype(np.uint8), 8, 9)[:, :, 0]
    bits = small[:, 1:] > small[:, :-1]          # (8, 8)
    weights = (1 << np.arange(64, dtype=np.uint64)).reshape(8, 8)
    h = int((bits.astype(np.uint64) * weights).sum())
    return h - (1 << 64) if h >= 1 << 63 else h  # signed long


# pHash integer DCT basis: c[k][m] = round(cos(π(2m+1)k/64)·2^20).
# Fixed-point ONCE at table build, then pure int64 arithmetic — the
# oracle inlines this exact table into SQL, so the 2-D DCT, the
# median order statistic, and every bit decision replay bit-exactly
# cross-engine (the repo's integer-micro-unit discipline applied to
# a transform that is normally float-only).
PHASH_SCALE = 1 << 20
PHASH_COS = np.rint(np.cos(
    np.pi * (2 * np.arange(32)[None, :] + 1)
    * np.arange(8)[:, None] / 64.0) * PHASH_SCALE).astype(np.int64)

PHASH_SCHEMA = "id long, phash long, width int, height int, status string"


def phash_bits(arr: np.ndarray) -> int:
    """64-bit DCT perceptual hash of a decoded (h, w, c) uint8 image.

    Block-average resize to 32×32 luma → integer 8×32 DCT basis
    applied on both axes (``C @ X @ C.T``, the 8×8 low-frequency
    block directly) → threshold the 63 non-DC coefficients at their
    median (sorted index 31); bit (8k+l) set iff coefficient (k,l)
    is strictly above the median, DC bit always 0. Robust to
    rescaling/recompression like classic pHash, but exactly
    reproducible on any engine."""
    from tika_spark.analysis.pixels import resize_image
    if arr.ndim == 2:
        arr = arr[:, :, None]
    luma = arr.astype(np.int64).sum(axis=2) // arr.shape[2]
    small = resize_image(luma[:, :, None].astype(np.uint8),
                         32, 32)[:, :, 0].astype(np.int64)
    d = PHASH_COS @ small @ PHASH_COS.T          # 8×8 int64
    vals = d.reshape(64)[1:]
    med = int(np.sort(vals)[31])
    h = 0
    for k in range(8):
        for line in range(8):
            if (k or line) and int(d[k, line]) > med:
                h |= 1 << (8 * k + line)
    return h - (1 << 64) if h >= 1 << 63 else h  # signed long


def _image_hash(df: DataFrame, schema: str, hash_bits, id_col: str,
                payload_col: str, type_col: str) -> DataFrame:
    """(id, payload, type) -> one (hash, width, height, status) row per
    image through the image operators' one decoder table."""
    from tika_spark.analysis.pixels import image_decoders
    from tika_spark.analysis.spread import decode_stage

    def row(payload: bytes, media_type: str | None):
        decode = image_decoders().get(media_type)
        if decode is None:
            return [(0, 0, 0, "unsupported")]
        arr = decode(payload)
        return [(hash_bits(arr), arr.shape[1], arr.shape[0], "ok")]

    return decode_stage(df, schema, row, (0, 0, 0, "error"), id_col,
                        payload_col, type_col)


def image_phash(df: DataFrame, id_col: str = "id",
                payload_col: str = "payload",
                type_col: str = "media_type") -> DataFrame:
    """mapInPandas: (id, payload, type) → 64-bit DCT perceptual hash
    via the real decoders; corrupt/unsupported rows become status
    rows. Near-dup pairs: feed the output to :func:`dhash_pairs`
    with ``hash_col='phash'`` (the banded Hamming join is hash-
    agnostic)."""
    return _image_hash(df, PHASH_SCHEMA, phash_bits, id_col,
                       payload_col, type_col)


def image_dhash(df: DataFrame, id_col: str = "id",
                payload_col: str = "payload",
                type_col: str = "media_type") -> DataFrame:
    """mapInPandas: (id, payload, type) → 64-bit perceptual hash via
    the real decoders; corrupt/unsupported rows become status rows."""
    return _image_hash(df, DHASH_SCHEMA, dhash_bits, id_col,
                       payload_col, type_col)


def dhash_pairs(hashes: DataFrame, max_dist: int = 7,
                id_col: str = "id", hash_col: str = "dhash",
                max_bucket: int = 200) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance over banded
    64-bit hashes: 8 byte-bands → pigeonhole guarantees every pair
    with distance < 8 shares a band; exact ``bit_count(xor)`` runs on
    candidates only. ``max_dist`` must stay < 8 for the guarantee.
    Degenerate bands are capped at ``max_bucket`` rows (cap events
    mean that band's bucket was sampled, as in the SimHash op)."""
    if not 0 <= max_dist < 8:
        raise ValueError("banding guarantees distances < 8 only")
    h = hashes.select(F.col(id_col).alias("id"),
                      F.col(hash_col).alias("dhash"))
    bands = h.select(
        "id", "dhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned("dhash", b * 8)
                     .bitwiseAND(F.lit(255)).alias("val"))
            for b in range(8)])).alias("bv"))
    bands = bands.select("id", "dhash", F.col("bv.band").alias("band"),
                         F.col("bv.val").alias("val"))
    w = F.row_number().over(
        Window.partitionBy("band", "val").orderBy("id"))
    capped = bands.withColumn("rn", w).filter(F.col("rn") <= max_bucket)
    a = capped.select(F.col("band"), F.col("val"),
                      F.col("id").alias("id_a"),
                      F.col("dhash").alias("h_a"))
    b = capped.select(F.col("band"), F.col("val"),
                      F.col("id").alias("id_b"),
                      F.col("dhash").alias("h_b"))
    cand = (a.join(b, ["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "h_a", "h_b").distinct())
    dist = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (cand.withColumn("hamming", dist.cast("int"))
            .filter(F.col("hamming") <= max_dist)
            .select("id_a", "id_b", "hamming"))
