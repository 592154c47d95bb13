"""The staged extraction DataFrame job (the library entry point).

Scale design (SURVEY.md §4 O9-O12, judged at 100TB):

- **One pass over the binary column.** detect+parse+classify run in a
  single ``mapInArrow``; the multi-MB ``html`` column crosses into
  Python exactly once, as Arrow record batches with no pandas
  conversion either way, and does NOT appear in the output schema, so
  no downstream stage or shuffle ever carries page bytes.
- **Skew defusal only where skew can exist.** A scan at least as wide
  as the cluster (``defaultParallelism`` partitions or more, read from
  the plan by :func:`~tika_spark.analysis.spread.spread_width`) goes
  straight into the parse stage: file splits are byte-bounded
  (``spark.sql.files.maxPartitionBytes``), so no task reads more than
  one split however the page sizes fall, and ``max_input_bytes`` bounds
  the parse of any one page, so a giant costs one capped parse in the
  task that holds it while every other core has splits of its own.
  Shuffling the binary column there would move every page byte to
  buy nothing. A NARROWER input (one file, a driver-built fixture, a
  filtered slice) is repartitioned by ``(size_bucket, crc32(url))``
  to ``defaultParallelism`` tasks, so giant pages spread uniformly
  instead of serializing one straggler partition, then sorted by
  bucket within partitions so each Arrow batch is size-homogeneous.
- **Bounded batches.** Callers should keep
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` moderate (<=1024);
  with bucket-homogeneous batches, peak batch memory is bounded by
  bucket ceiling x batch size.
- **Catalyst-friendly glue.** Everything outside the UDF is plain
  DataFrame code: filters on input columns (e.g. a ``warc_ts`` range)
  push down to the source scan; the lineage aggregation is a stock
  groupBy over the (binary-free) output.
"""

from __future__ import annotations

import dataclasses

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tika_spark.analysis.spread import spread_width
from tika_spark.config import (MAX_EMBED_DEPTH, SIZE_BUCKET_BOUNDS,
                               ExtractConfig)
from tika_spark.pipeline.stages import (EXTRACT_SCHEMA, GUARD_STATUSES,
                                        make_extract_fn)


# size_bucket = index of the first bound >= len(html), as SQL text: one
# JVM call, where a chain of F.when Columns costs a py4j round trip per
# operation
_SIZE_BUCKET_SQL = "CASE {} ELSE {} END".format(
    " ".join(f"WHEN length(html) <= {b} THEN {i}"
             for i, b in enumerate(SIZE_BUCKET_BOUNDS)),
    len(SIZE_BUCKET_BOUNDS))


def with_size_bucket(df: DataFrame) -> DataFrame:
    """Add ``size_bucket`` = index of the first bound >= len(html)."""
    return df.withColumn("size_bucket", F.expr(_SIZE_BUCKET_SQL))


def _count_status(statuses) -> Column:
    return F.sum(F.when(F.col("status").isin(*statuses), 1).otherwise(0))


def status_rollup(where: str | None = None) -> list[Column]:
    """The n_rows/n_err/n_bytes/n_chars aggregation over extract()
    output, shared by :func:`lineage_manifest` and the checkpoint
    per-bucket stats. With ``where`` (a SQL predicate), only the rows
    it holds for are counted (the sums are null when there are none).

    Each aggregate is parsed from SQL text: one JVM call per column,
    where composing it from Column operations costs a py4j round trip
    per operation (~60 ms per call of this function on a 4-vCPU host),
    and the checkpoint wave loop builds it once per bucket."""
    def only(e: str) -> str:
        return e if where is None else f"IF({where}, {e}, NULL)"
    is_err = "IF(status = 'error', 1, 0)"
    return [F.expr(f"count({only('1')}) AS n_rows"),
            F.expr(f"sum({only(is_err)}) AS n_err"),
            F.expr(f"sum({only('n_bytes')}) AS n_bytes"),
            F.expr(f"sum({only('n_chars')}) AS n_chars")]


def extract(df: DataFrame, mode: str | None = None,
            config: ExtractConfig | None = None,
            repartition: int | None = None) -> DataFrame:
    """Run the full extraction pipeline over a pages DataFrame.

    Input columns: url, html (binary); optional warc_ts, declared_type.
    Output: url, warc_ts, mime, charset, lang, lang_distance, title,
    text, spans, links, metadata, status, error, children, n_bytes,
    n_chars, part_id, batch_ms  (NO html — the binary never leaves the
    stage; ``children`` carries archive members for the F1 recursion
    and is empty for non-container rows).

    ``mode`` overrides ``config.mode`` when given; with neither, the
    mode is 'text'.

    ``repartition``: number of partitions for the skew-defusing
    (size_bucket, crc32(url)) shuffle. ``None`` (the default) shuffles
    to defaultParallelism only when the input scans fewer partitions
    than that, decided from plan metadata without running a job; a
    wide scan is scan → mapInArrow with zero exchanges (see the module
    docstring for why its byte-bounded splits and ``max_input_bytes``
    need no shuffle). ``n > 0`` always shuffles to ``n`` partitions.
    ``0`` never shuffles and trusts the input partitioning — for a
    source table already written bucketed by content size.
    """
    if config is None:
        config = ExtractConfig(mode=mode or "text")
    elif mode:
        config = dataclasses.replace(config, mode=mode)

    cols = [c for c in ("url", "warc_ts", "html", "declared_type")
            if c in df.columns]
    slim = df.select(*cols)  # column pruning before the python stage

    if repartition is None:
        repartition = spread_width(slim)
    if repartition == 0:
        arranged = slim
    else:
        # spread giants uniformly, then make batches size-homogeneous
        arranged = (with_size_bucket(slim)
                    .repartition(repartition, F.col("size_bucket"),
                                 F.crc32("url"))
                    .sortWithinPartitions("size_bucket")
                    .drop("size_bucket"))
    return arranged.mapInArrow(make_extract_fn(config),
                               schema=EXTRACT_SCHEMA)


def extract_recursive(df: DataFrame, mode: str | None = None,
                      config: ExtractConfig | None = None,
                      max_depth: int = MAX_EMBED_DEPTH,
                      repartition: int | None = None) -> DataFrame:
    """Extraction with embedded-document recursion (SURVEY.md §2 F1,
    §3.4): archive members surfaced in ``children`` are exploded into
    new rows (url = ``parent!/name``) that re-enter the same
    detect → route → parse job, iterating to a driver-side fixpoint.

    Depth is bounded by MAX_EMBED_DEPTH, mirroring the reference's
    package-nesting guard (sax/SecureContentHandler.java:80 — depth 10);
    members still unexpanded at the bound are dropped (their parent row
    keeps the entry-name text). Output = extract() schema minus
    ``children``, plus ``depth``.

    The per-level ``isEmpty()`` is the deliberate driver-side fixpoint
    check (no recursion inside a UDF); levels after the first are tiny
    (only container members), so the extra jobs are cheap.
    ``repartition`` governs level 0 exactly as in :func:`extract`. Every
    member level (depth 1 and deeper) shuffles by size bucket to
    ``repartition or defaultParallelism`` partitions whatever the
    input's width: members are a new population the input layout says
    nothing about, and the exchange keeps a zip full of giant members
    from skewing one task.

    Each level is **persisted (MEMORY_AND_DISK) before the fixpoint
    probe** so the expensive mapInArrow parse runs exactly once per
    level: without it, every ``isEmpty()`` and the final union write
    would re-execute all ancestor levels (O(depth^2) re-parsing on
    nested archives). Persisted levels are released once the output is
    materialized via ``.unpersist()`` — callers that need the result
    lazily can keep the returned plan; it reads the cached blocks.
    """
    from pyspark import StorageLevel

    persisted: list[DataFrame] = []
    out = extract(df, mode=mode, config=config, repartition=repartition)
    member_parts = (repartition
                    or df.sparkSession.sparkContext.defaultParallelism)
    level = (out.withColumn("depth", F.lit(0))
             .persist(StorageLevel.MEMORY_AND_DISK))
    persisted.append(level)
    results = level.drop("children")
    for depth in range(1, max_depth + 1):
        frontier = level.filter(F.size("children") > 0)
        children = (frontier
                    .select("url", F.explode("children").alias("c"))
                    .select(F.concat(F.col("url"), F.lit("!/"),
                                     F.col("c.name")).alias("url"),
                            F.col("c.data").alias("html")))
        if children.isEmpty():
            break
        out = extract(children, mode=mode, config=config,
                      repartition=member_parts)
        level = (out.withColumn("depth", F.lit(depth))
                 .persist(StorageLevel.MEMORY_AND_DISK))
        persisted.append(level)
        results = results.unionByName(level.drop("children"))
    # Materialize the union off the cached levels, then drop the cache:
    # the localCheckpoint keeps the result available without re-running
    # any parse stage, and releases executor storage for the parent job.
    results = results.localCheckpoint(eager=True)
    for lv in persisted:
        lv.unpersist()
    return results


def lineage_manifest(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage rows from an extract() output
    (O12: bucket accounting for checkpoint/resume + metrics).
    ``n_capped`` counts rows an input or output cap cut."""
    return (extracted
            .groupBy("part_id")
            .agg(*status_rollup(),
                 _count_status(["no_parser"]).alias("n_no_parser"),
                 _count_status(GUARD_STATUSES).alias("n_capped"),
                 F.min("url").alias("min_url"),
                 F.max("url").alias("max_url"),
                 F.max("batch_ms").alias("max_batch_ms")))
