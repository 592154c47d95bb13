"""Parallelism guard for CPU-heavy maps.

The decode stages (pixel/PCM/frame/census) and the dedup/similarity
signature maps are CPU-per-row-bound projections or ``mapInPandas``
maps with NO shuffle of their own -- the right shape at crawl scale,
where the source table arrives in thousands of splits and the stage
inherits that parallelism for free.  But when the SOURCE is narrower
than the cluster (one small parquet file scans as one split, a
driver-built fixture, a filtered slice), the shuffle-free plan quietly
serializes the whole map on the few input partitions: 500 VP8
inter-frame decodes on ONE core took 12.7 s, 1.8 s after spreading.

``spread_for_decode`` repartitions (by the given key columns, else
round-robin) ONLY when the input has fewer partitions than the default
parallelism, so the common crawl-scale path stays exchange-free while
narrow inputs fan out.  The byte cost of the exchange is bounded by the
columns the map was going to move into Python anyway; the CPU per row
is the dominant term by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_for_decode(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a narrow input of a CPU-heavy map up to cluster
    parallelism; no-op (and no exchange) when the source already has
    enough splits."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        have = df.rdd.getNumPartitions()
    except Exception:
        return df
    if have >= target or target <= 1:
        return df
    return df.repartition(target, *key_cols) if key_cols \
        else df.repartition(target)
