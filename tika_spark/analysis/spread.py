"""The width guard: shuffle an input only when it is narrower than the
cluster.

The decode stages (pixel/PCM/frame/census), the dedup/similarity
signature maps and the extraction job itself are CPU-per-row-bound
``mapInPandas`` maps with NO shuffle of their own -- the right shape at
crawl scale, where the source table arrives in thousands of splits and
the stage inherits that parallelism for free.  But when the SOURCE is
narrower than the cluster (one small parquet file scans as one split, a
driver-built fixture, a filtered slice), the shuffle-free plan quietly
serializes the whole map on the few input partitions: 500 VP8
inter-frame decodes on ONE core took 12.7 s, 1.8 s after spreading.

:func:`scan_width` reads how many partitions an input will run with
from its physical plan -- file splits, an upstream exchange's partition
count, a cached relation's plan -- and never runs a Spark job (not even
under AQE, where materializing ``df.rdd`` runs every upstream shuffle).
:func:`spread_width` turns that into the decision: spread to
``defaultParallelism`` partitions, or keep the input's own splits.

:func:`decode_stage` is the one ``mapInPandas`` stage the media
operators (pixel/hash/PCM/feature/fingerprint/frame/census/metadata)
run on: width guard, Arrow batch loop, and the rule that a document
whose decode raises becomes one status row (or none), never a task
failure.  Each operator supplies only its per-document function.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def _plan_width(node) -> int:
    """Partitions a physical plan node produces, from metadata only."""
    n = node.outputPartitioning().numPartitions()
    if n > 0:
        return n
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":      # reports UnknownPartitioning(0)
        return _plan_width(node.inputPlan())
    if name == "InMemoryTableScan":
        return _plan_width(node.relation().cachedPlan())
    kids = node.children()
    if kids.size() == 0:                 # a scan: its splits, unread
        rdds = node.inputRDDs()
        return sum(len(rdds.apply(i).partitions())
                   for i in range(rdds.size()))
    widths = [_plan_width(kids.apply(i)) for i in range(kids.size())]
    return sum(widths) if name == "Union" else max(widths)


def scan_width(df: DataFrame) -> int:
    """Number of partitions ``df`` will scan, read from its physical
    plan through ``queryExecution`` without running a Spark job; 0 when
    the plan does not say."""
    try:
        return _plan_width(df._jdf.queryExecution().executedPlan())
    except Py4JError:
        return 0


def spread_width(df: DataFrame) -> int:
    """``defaultParallelism`` when ``df`` scans fewer partitions than
    that (spread it), else 0 (keep its splits)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return target if target > 1 and scan_width(df) < target else 0


def spread_for_decode(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a narrow input of a CPU-heavy map up to cluster
    parallelism (by ``key_cols``, else round-robin); no-op (and no
    exchange) when the source already has enough splits."""
    n = spread_width(df)
    if not n:
        return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def decode_stage(df: DataFrame, schema: str, decode, error: tuple | None,
                 id_col: str, payload_col: str, type_col: str | None = None,
                 echo_type: bool = False) -> DataFrame:
    """``mapInPandas`` over ``(id, payload[, media_type])`` behind the
    width guard.  ``decode(payload[, media_type])`` returns the list
    of output rows of one document (a null payload arrives as
    ``b""``), each a tuple of the ``schema`` columns after ``id`` --
    after ``id, media_type`` when ``echo_type`` copies the input's
    type into the second column.  A document whose decode raises
    yields the one row ``error`` (same shape) instead, or no row when
    ``error`` is None."""
    cols = [id_col, payload_col] + ([type_col] if type_col else [])
    slim = spread_for_decode(df.select(*cols), id_col)
    out_schema = StructType.fromDDL(schema)
    names = out_schema.fieldNames()
    failed = () if error is None else (error,)

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for i, payload, *mt in zip(*(pdf[c] for c in cols)):
                key = (i, *mt) if echo_type else (i,)
                try:
                    out = decode(bytes(payload or b""), *mt)
                except Exception:
                    out = failed
                rows.extend(key + r for r in out)
            yield pd.DataFrame(rows, columns=names)

    return slim.mapInPandas(run, schema=out_schema)
