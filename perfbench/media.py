"""vp8_decode inputs: lossy WebP stills and WebM keyframe + P-frame
streams, each with its golden per-frame channel means.

The golden is the per-channel mean of the reconstruction the encoder
returns, not of anything the decoder under test produces.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MEDIA_SCHEMA = ("id long, kind string, payload binary, "
                "golden array<array<bigint>>")

SIDE = 64           # frame width and height: whole 16-px macroblocks
# P-frame motion vectors (eighth-pel, even full-pixel steps)
MOTIONS = ((16, 0), (2, -6), (0, 16))


def _still(rng, i: int):
    from tika_spark.analysis.pixels import channel_means_micro
    from tika_spark.analysis.vp8 import webp_lossy_from_rgb
    img = rng.integers(0, 256, (SIDE, SIDE, 3), dtype=np.uint8)
    raw, expect = webp_lossy_from_rgb(
        img, qindex=(i * 13) % 128, plan=("dc", "rotate", "bpred")[i % 3],
        filter_level=(i * 7) % 64)
    return raw, [channel_means_micro(expect)]


def _stream(rng, i: int):
    from tika_spark.analysis.ebml import mkv_wrap_video
    from tika_spark.analysis.pixels import channel_means_micro
    from tika_spark.analysis.vp8 import encode_vp8_yuv, yuv_to_rgb
    from tika_spark.analysis.vp8inter import encode_vp8_inter_yuv

    def means(y, u, v):
        return channel_means_micro(
            yuv_to_rgb(*(p.astype(np.uint8) for p in (y, u, v))))

    half = SIDE // 2
    y = rng.integers(0, 256, (SIDE, SIDE)).astype(np.int32)
    u = rng.integers(0, 256, (half, half)).astype(np.int32)
    v = rng.integers(0, 256, (half, half)).astype(np.int32)
    kf, recon = encode_vp8_yuv(y, u, v, qindex=(i * 11) % 96, plan="dc")
    frames, golden = [kf], [means(*recon)]
    # SIDE is whole macroblocks, so the reconstruction is the padded
    # reference plane set the interframe encoder expects
    ref = tuple(p.astype(np.int32) for p in recon)
    for mv in MOTIONS:
        src = np.roll(ref[0], (mv[0] // 8, mv[1] // 8), axis=(0, 1))
        p, ref = encode_vp8_inter_yuv(ref, src, ref[1], ref[2], mv=mv,
                                      qindex=(i * 7) % 64)
        frames.append(p)
        golden.append(means(*ref))
    return mkv_wrap_video(frames, SIDE, SIDE), golden


def build_media(batches, seed: int):
    """mapInPandas over ``spark.range``: every fourth id is a stream (so
    each range split builds some), the rest stills; each row is seeded
    by (seed, id)."""
    for pdf in batches:
        rows = []
        for i in pdf["id"].tolist():
            rng = np.random.default_rng((seed, i))
            kind = "stream" if i % 4 == 3 else "still"
            payload, golden = (_still if kind == "still" else _stream)(rng, i)
            rows.append({"id": i, "kind": kind, "payload": payload,
                         "golden": golden})
        yield pd.DataFrame(rows, columns=["id", "kind", "payload", "golden"])
