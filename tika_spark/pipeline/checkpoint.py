"""Checkpointed, idempotently-resumable extraction runs (O12).

The reference processes one document per call and leans on the caller
to re-drive failures (tika-app's batch mode re-queues failed files;
tika-batch/FileResourceCrawler re-crawls un-consumed resources). At
10^12-document scale the analog is a *manifest-committed* run: the
crawl table is carved into deterministic URL-hash bucket ranges, each
wave of buckets is extracted and written as its own output partition,
and a manifest row per bucket is committed only AFTER that bucket's
data lands. A driver that dies mid-run resumes by diffing the manifest
against the bucket universe — completed buckets are never re-parsed,
half-written buckets are overwritten (dynamic partition overwrite), so
the resume is idempotent and the output never holds duplicate rows.

Scale design:

- **Bucket assignment is a pure column expression** over the URL
  (md5-prefix → int), so it is engine-portable, stable across runs,
  and — when the lakehouse table is partitioned/bucketed by the same
  expression, the recommended Iceberg layout — the per-wave filter
  becomes partition PRUNING at the scan instead of a row filter.
- **Commit granularity is the wave** (``wave_size`` buckets). Larger
  waves amortize job-launch overhead; smaller waves bound the work
  lost to a crash. The input is re-scanned once per wave, which at
  crawl scale is partition-pruned I/O, not a full pass.
- **The manifest is data, not driver state.** One parquet row per
  completed bucket (rows/errors/chars/bytes + wall time), appended
  after the wave's data write and probed through Spark's file-system
  layer — NOT ``os.path`` — so HDFS/S3-style ``out_dir`` URIs resume
  correctly. Any driver anywhere can pick the run up; nothing lives
  in memory.
- **No binary in the output.** The persisted schema is the extract()
  output minus ``children`` — page bytes cross into Python once inside
  extract() and are never written back.
- **Embedded-document recursion buckets children with their parent.**
  A child row (url = ``parent!/name``) is written into the PARENT
  url's bucket partition; otherwise a later wave's dynamic overwrite
  of the child's own hash bucket would clobber rows committed earlier.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from tika_spark.config import ExtractConfig
from tika_spark.pipeline.job import (extract, extract_recursive,
                                     status_rollup)

BUCKET_COL = "ckpt_bucket"

MANIFEST_SCHEMA = ("ckpt_bucket int, n_rows long, n_err long, "
                   "n_bytes long, n_chars long, wall_ms double")


def md5_bucket_fn(n_buckets: int) -> Callable[[Column], Column]:
    """Deterministic bucket id from the first 8 hex chars of md5(col).

    Content-independent (a page's bytes may differ between snapshots;
    its bucket must not) and uniform. ``conv`` parses the hex prefix
    JVM-side — no Python involved.
    """
    def fn(col: Column) -> Column:
        return F.pmod(F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
                      .cast("long"), F.lit(n_buckets)).cast("int")
    return fn


def manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed-bucket manifest (empty DataFrame when none).

    Probed through Spark (NOT ``os.path``) so object-store URIs work —
    a local-only probe would silently read as empty and re-run the
    whole table.
    """
    try:
        return spark.read.parquet(f"{out_dir}/manifest")
    except AnalysisException:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def done_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Bucket ids already committed (empty set on a fresh out_dir)."""
    return {r[0] for r in
            manifest(spark, out_dir).select(BUCKET_COL).collect()}


def load_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back the committed extraction output (all buckets)."""
    return spark.read.parquet(f"{out_dir}/data")


def run_checkpointed(pages: DataFrame, out_dir: str,
                     n_buckets: int = 64, wave_size: int = 16,
                     mode: str | None = None,
                     config: ExtractConfig | None = None,
                     repartition: int | None = None,
                     max_waves: int | None = None,
                     bucket_fn: Callable[[Column], Column] | None = None,
                     recursive: bool = False,
                     verbose: bool = False) -> dict:
    """Run (or resume) a checkpointed extraction over ``pages``.

    Reads the manifest, processes only missing buckets in waves of
    ``wave_size``, writes each wave's output under
    ``out_dir/data/ckpt_bucket=<b>/`` with dynamic partition overwrite
    (a retried half-written bucket is replaced, never duplicated),
    then commits the wave's manifest rows. ``max_waves`` bounds this
    invocation (time-boxed operation / crash simulation in tests);
    the next call continues where it stopped.

    ``bucket_fn`` maps a URL column to its int bucket id (default:
    md5-prefix). ``recursive`` explodes archive/mail members into
    child rows via :func:`extract_recursive`; children are bucketed by
    their parent url (see module docstring).

    If ``pages`` already carries a ``ckpt_bucket`` column (a table
    written partitioned by it — the recommended layout), the wave
    filter uses the column and the scan partition-prunes. The
    materialized values MUST equal ``bucket_fn(url)`` (produce the
    column with :func:`md5_bucket_fn`): the output/manifest side
    recomputes the bucket through ``bucket_fn``, so a divergent
    column would commit buckets the input filter never selected.

    Returns a summary dict: buckets already committed, buckets
    processed now, waves run, rows written, wall seconds, docs/sec.
    """
    spark = pages.sparkSession
    if bucket_fn is None:
        bucket_fn = md5_bucket_fn(n_buckets)

    done = done_buckets(spark, out_dir)
    todo = sorted(set(range(n_buckets)) - done)
    waves = [todo[i:i + wave_size]
             for i in range(0, len(todo), wave_size)]
    if max_waves is not None:
        waves = waves[:max_waves]

    t_start = time.time()
    rows_written = 0
    # When the input table materializes the bucket column (the
    # recommended layout: write the crawl table partitioned/bucketed
    # by ckpt_bucket), filter on the COLUMN — Catalyst pushes it to
    # the scan as a partition filter and each wave reads only its own
    # partitions. Otherwise the bucket is computed per row (a cheap
    # md5 over the url, still evaluated before the parse stage).
    has_col = BUCKET_COL in pages.columns
    for wave in waves:
        t0 = time.time()
        ids = [int(b) for b in wave]
        wave_pages = pages.filter(
            F.col(BUCKET_COL).isin(ids) if has_col
            else bucket_fn(F.col("url")).isin(ids))
        if has_col:
            wave_pages = wave_pages.drop(BUCKET_COL)
        if recursive:
            out = extract_recursive(wave_pages, mode=mode, config=config,
                                    repartition=repartition)
        else:
            out = extract(wave_pages, mode=mode, config=config,
                          repartition=repartition).drop("children")
        # children (url = "parent!/name") bucket by their PARENT url
        root_url = F.substring_index(F.col("url"), "!/", 1)
        out = out.withColumn(BUCKET_COL, bucket_fn(root_url))
        # data first ...
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(f"{out_dir}/data"))
        # ... manifest commit second: a crash between the two writes
        # leaves the bucket un-manifested and it is simply redone.
        # Stats come from the written snapshot, so the manifest
        # reflects durable state, not in-flight counts.
        committed = spark.read.parquet(f"{out_dir}/data").filter(
            F.col(BUCKET_COL).isin(ids))
        stats = {r[BUCKET_COL]: r for r in
                 (committed.groupBy(BUCKET_COL)
                  .agg(*status_rollup()).collect())}
        wall_ms = (time.time() - t0) * 1000
        # a wave bucket with zero input rows still needs a manifest
        # row, or every future resume would re-scan it forever
        rows = [(b,
                 int(stats[b]["n_rows"]) if b in stats else 0,
                 int(stats[b]["n_err"]) if b in stats else 0,
                 int(stats[b]["n_bytes"]) if b in stats else 0,
                 int(stats[b]["n_chars"]) if b in stats else 0,
                 wall_ms)
                for b in ids]
        rows_written += sum(r[1] for r in rows)
        (spark.createDataFrame(rows, MANIFEST_SCHEMA)
         .coalesce(1).write.mode("append")
         .parquet(f"{out_dir}/manifest"))
        if verbose:
            print(f"[checkpoint] buckets {ids} done in {wall_ms:.0f} ms")

    wall = time.time() - t_start
    n_processed = sum(len(w) for w in waves)
    return {"buckets_total": n_buckets,
            "buckets_done_before": len(done),
            "buckets_resumed_from": len(done),
            "buckets_processed": n_processed,
            "waves": len(waves),
            "rows_processed": rows_written,
            "rows_written": rows_written,
            "wall_sec": wall,
            "docs_per_sec": rows_written / wall if wall > 0 else None,
            "complete": len(done) + n_processed == n_buckets}


# ------------------------------------------- snapshot-table variant


def table_done_buckets(table) -> set[int]:
    """Bucket ids committed in ANY snapshot's wave summary."""
    done: set[int] = set()
    for s in table.snapshots():
        done.update(int(b) for b in s["summary"].get("buckets", []))
    return done


def run_checkpointed_table(pages: DataFrame, table_root: str,
                           n_buckets: int = 64, wave_size: int = 16,
                           mode: str | None = None,
                           config: ExtractConfig | None = None,
                           repartition: int | None = None,
                           max_waves: int | None = None,
                           bucket_fn: Callable[[Column], Column]
                           | None = None,
                           recursive: bool = False,
                           verbose: bool = False) -> dict:
    """The snapshot-table form of :func:`run_checkpointed` — the
    north-star layout, where checkpoint manifests ARE table commits.

    Each wave stages its output files into a
    :class:`~tika_spark.pipeline.table.SnapshotTable` and commits ONE
    atomic snapshot whose summary records the wave's bucket ids and
    stats. Strictly stronger crash semantics than the directory
    variant: a crash mid-wave leaves only invisible orphan files
    (vacuum fodder) — never a half-written bucket partition — so the
    retry needs no dynamic-partition overwrite, readers at any moment
    see a complete prefix of waves, and resume is exactly the diff
    between the bucket universe and the committed snapshots' wave
    summaries. Per-file lineage (rows/bytes) rides each snapshot
    manifest; per-bucket stats ride its summary.
    """
    from tika_spark.pipeline.table import SnapshotTable
    spark = pages.sparkSession
    if bucket_fn is None:
        bucket_fn = md5_bucket_fn(n_buckets)
    try:
        table = SnapshotTable.load(spark, table_root)
    except ValueError:
        table = SnapshotTable.create(spark, table_root)

    done = table_done_buckets(table)
    todo = sorted(set(range(n_buckets)) - done)
    waves = [todo[i:i + wave_size]
             for i in range(0, len(todo), wave_size)]
    if max_waves is not None:
        waves = waves[:max_waves]

    t_start = time.time()
    rows_written = 0
    has_col = BUCKET_COL in pages.columns
    for wave in waves:
        t0 = time.time()
        ids = [int(b) for b in wave]
        wave_pages = pages.filter(
            F.col(BUCKET_COL).isin(ids) if has_col
            else bucket_fn(F.col("url")).isin(ids))
        if has_col:
            wave_pages = wave_pages.drop(BUCKET_COL)
        if recursive:
            out = extract_recursive(wave_pages, mode=mode,
                                    config=config,
                                    repartition=repartition)
        else:
            out = extract(wave_pages, mode=mode, config=config,
                          repartition=repartition).drop("children")
        root_url = F.substring_index(F.col("url"), "!/", 1)
        out = out.withColumn(BUCKET_COL, bucket_fn(root_url))
        # stage (invisible), read the STAGED files for durable
        # stats, then the snapshot commit publishes data + manifest
        # + wave summary in one atomic rename
        entries = table.stage(out)
        stats = {"buckets": ids, "n_rows": 0, "n_err": 0,
                 "n_bytes": 0, "n_chars": 0}
        if entries:
            staged = spark.read.parquet(
                *[table.root + "/" + e["path"] for e in entries])
            r = staged.agg(*status_rollup()).collect()[0]
            stats.update(n_rows=int(r["n_rows"] or 0),
                         n_err=int(r["n_err"] or 0),
                         n_bytes=int(r["n_bytes"] or 0),
                         n_chars=int(r["n_chars"] or 0))
        stats["wall_ms"] = (time.time() - t0) * 1000
        table.commit_staged(entries, out.schema.json(), "append",
                            summary=stats)
        rows_written += stats["n_rows"]
        if verbose:
            print(f"[checkpoint/table] buckets {ids} committed in "
                  f"{stats['wall_ms']:.0f} ms")

    wall = time.time() - t_start
    n_processed = sum(len(w) for w in waves)
    return {"buckets_total": n_buckets,
            "buckets_done_before": len(done),
            "buckets_processed": n_processed,
            "waves": len(waves),
            "rows_written": rows_written,
            "wall_sec": wall,
            "docs_per_sec": rows_written / wall if wall > 0 else None,
            "complete": len(done) + n_processed == n_buckets}
