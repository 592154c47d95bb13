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
- **One width decision per run.** Whether a wave's pages are shuffled
  before the parse (see :func:`~tika_spark.pipeline.job.extract`) is
  read from the input's plan once per run: a row filter leaves every
  wave on the input's own splits, so a scan at least as wide as the
  cluster writes each wave with no exchange at all. An input carrying
  ``ckpt_bucket`` is partition-pruned to different splits per wave,
  so there each wave decides for itself. The wave filter and the
  output bucket Column are built once per run, a wave's output is one
  ``select``, and bucket ids enter the plan as array literals, so every
  wave after the first reuses its generated code.
- **Stats are observed on the write, not read back.** The wave's
  output carries a ``DataFrame.observe`` of the ``status_rollup``
  fields per wave bucket, so the one data write also yields every
  manifest number. Metrics of failed or retried task attempts are
  dropped by Spark, so a retried task counts its rows once.
- **The manifest is data, not driver state.** One parquet row per
  completed bucket (rows/errors/chars/bytes + wall time), built from
  JVM literals and appended after the wave's data write, partitioned
  by ``ckpt_bucket``. Resume planning is one listing of
  ``manifest/ckpt_bucket=*`` through the Hadoop file system — NOT
  ``os.path`` — so HDFS/S3-style ``out_dir`` URIs resume correctly.
  Any driver anywhere can pick the run up; nothing lives in memory.
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
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from tika_spark.analysis.spread import spread_width
from tika_spark.config import ExtractConfig
from tika_spark.pipeline.compact import _fs_for
from tika_spark.pipeline.job import (extract, extract_recursive,
                                     status_rollup)
from tika_spark.pipeline.stages import OUTPUT_COLUMNS

BUCKET_COL = "ckpt_bucket"

MANIFEST_SCHEMA = ("ckpt_bucket int, n_rows long, n_err long, "
                   "n_bytes long, n_chars long, wall_ms double")
MANIFEST_COLS = [f.split()[0] for f in MANIFEST_SCHEMA.split(", ")]
STATS = MANIFEST_COLS[1:5]          # the status_rollup fields


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
    """The committed-bucket manifest, columns in ``MANIFEST_SCHEMA``
    order (empty DataFrame when none).

    Existence comes from the :func:`done_buckets` listing, so a fresh
    ``out_dir`` costs no failed Spark read.
    """
    if not done_buckets(spark, out_dir):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return (spark.read.schema(MANIFEST_SCHEMA)
            .parquet(f"{out_dir}/manifest").select(*MANIFEST_COLS))


def done_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Bucket ids already committed (empty set on a fresh out_dir).

    One glob listing of ``manifest/ckpt_bucket=*/`` through the Hadoop
    file system (NOT ``os.path``: a local-only probe of an object-store
    URI would read as empty and re-run the whole table). A bucket is
    done when its directory holds a parquet file; ``_``- and
    ``.``-prefixed files never count, and neither does anything under
    ``_temporary/`` (a torn append). Part files directly under
    ``manifest/`` are an unpartitioned manifest and raise
    ``ValueError``.
    """
    fs, pattern, _ = _fs_for(spark, f"{out_dir}/manifest/"
                             f"{{*.parquet,{BUCKET_COL}=*/*.parquet}}")
    done: set[int] = set()
    for st in fs.globStatus(pattern) or []:
        *_, parent, name = st.getPath().toString().split("/")
        if name.startswith(("_", ".")):
            continue
        if not parent.startswith(BUCKET_COL + "="):
            raise ValueError(
                f"{out_dir}/manifest holds unpartitioned part files "
                f"({name}); it predates the {BUCKET_COL}-partitioned "
                f"manifest — rewrite it partitioned by {BUCKET_COL} "
                "or start a fresh output directory")
        done.add(int(parent.split("=", 1)[1]))
    return done


def load_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back the committed extraction output (all buckets)."""
    return spark.read.parquet(f"{out_dir}/data")


class _DirCommit:
    """Directory backend: dynamic-overwrite bucket partitions under
    ``out_dir/data``, then one manifest row per bucket appended under
    ``out_dir/manifest`` — data first, so a crash between the two
    leaves the bucket un-manifested and it is simply redone."""

    label = "[checkpoint] buckets {} done in {:.0f} ms"

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark, self.out_dir = spark, out_dir
        self.done = done_buckets(spark, out_dir)

    def write(self, out: DataFrame) -> None:
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL).parquet(f"{self.out_dir}/data"))

    def commit(self, stats: dict[int, dict], wall_ms: float) -> None:
        # SQL literals: one parse, not a py4j round trip per F.lit
        rows = ", ".join(
            f"named_struct('{BUCKET_COL}', {b}, "
            + "".join(f"'{k}', {s[k]}L, " for k in STATS)
            + f"'wall_ms', CAST({wall_ms!r} AS DOUBLE))"
            for b, s in stats.items())
        (self.spark.range(1, numPartitions=1)
         .selectExpr(f"inline(array({rows}))")
         .write.mode("append").partitionBy(BUCKET_COL)
         .parquet(f"{self.out_dir}/manifest"))


class _TableCommit:
    """Snapshot-table backend: stage the wave's files (invisible),
    then ONE atomic snapshot commit publishes them with the wave's
    bucket ids and stats in its summary."""

    label = "[checkpoint/table] buckets {} committed in {:.0f} ms"

    def __init__(self, spark: SparkSession, table_root: str):
        from tika_spark.pipeline.table import SnapshotTable
        try:
            self.table = SnapshotTable.load(spark, table_root)
        except ValueError:
            self.table = SnapshotTable.create(spark, table_root)
        self.done = table_done_buckets(self.table)

    def write(self, out: DataFrame) -> None:
        self.entries, self.schema = self.table.stage(out), out.schema

    def commit(self, stats: dict[int, dict], wall_ms: float) -> None:
        summary = {"buckets": list(stats),
                   **{k: sum(s[k] for s in stats.values())
                      for k in STATS},
                   "wall_ms": wall_ms}
        self.table.commit_staged(self.entries, self.schema.json(),
                                 "append", summary=summary)


def _run_waves(pages: DataFrame, backend, n_buckets: int,
               wave_size: int, mode: str | None,
               config: ExtractConfig | None, repartition: int | None,
               max_waves: int | None,
               bucket_fn: Callable[[Column], Column] | None,
               recursive: bool, verbose: bool) -> dict:
    """The wave loop behind both public runners: per wave, one
    observed data write, then one manifest commit by ``backend``."""
    if bucket_fn is None:
        bucket_fn = md5_bucket_fn(n_buckets)
    done = backend.done
    todo = sorted(set(range(n_buckets)) - done)
    waves = [todo[i:i + wave_size]
             for i in range(0, len(todo), wave_size)][:max_waves]

    t_start = time.time()
    rows_written = 0
    # When the input table materializes the bucket column (the
    # recommended layout: write the crawl table partitioned/bucketed
    # by ckpt_bucket), filter on the COLUMN — Catalyst pushes it to
    # the scan as a partition filter and each wave reads only its own
    # partitions, so its width is judged per wave (extract's default).
    # Otherwise the bucket is computed per row (a cheap md5 over the
    # url, still evaluated before the parse stage); a row filter keeps
    # every wave on the same splits, so the width guard runs once.
    has_col = BUCKET_COL in pages.columns
    in_wave = F.col(BUCKET_COL) if has_col else bucket_fn(F.col("url"))
    if repartition is None and not has_col and waves:
        repartition = spread_width(pages)
    # children (url = "parent!/name") bucket by their PARENT url
    out_cols = [*(c for c in OUTPUT_COLUMNS if c != "children"),
                *(["depth"] if recursive else []),
                bucket_fn(F.substring_index(F.col("url"), "!/", 1))
                .alias(BUCKET_COL)]
    run_extract = extract_recursive if recursive else extract
    for wave in waves:
        t0 = time.time()
        ids = [int(b) for b in wave]
        # bucket ids enter each plan as ARRAY literals, which generated
        # code reads by reference: every wave reuses the compiled code,
        # where an int literal is inlined into the source and costs a
        # fresh Janino compile per bucket
        out = run_extract(pages.filter(F.array_contains(F.lit(ids),
                                                        in_wave)),
                          mode=mode, config=config,
                          repartition=repartition).select(*out_cols)
        # the write itself yields every bucket's stats; a wave bucket
        # with zero rows still gets its (all-zero) manifest row, or
        # every future resume would re-scan it forever
        obs = Observation()
        backend.write(out.observe(obs, *[
            c.alias(f"{c_name}_{b}") for b in ids
            for c_name, c in zip(STATS, status_rollup(
                f"array_contains(array({b}), {BUCKET_COL})"))]))
        got = obs.get
        stats = {b: {k: int(got[f"{k}_{b}"] or 0) for k in STATS}
                 for b in ids}
        wall_ms = (time.time() - t0) * 1000
        backend.commit(stats, wall_ms)
        rows_written += sum(s["n_rows"] for s in stats.values())
        if verbose:
            print(backend.label.format(ids, wall_ms))

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
    then commits the wave's manifest rows under
    ``out_dir/manifest/ckpt_bucket=<b>/``. ``max_waves`` bounds this
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
    return _run_waves(pages, _DirCommit(pages.sparkSession, out_dir),
                      n_buckets, wave_size, mode, config, repartition,
                      max_waves, bucket_fn, recursive, verbose)


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
    manifest; the wave's observed stats ride its summary.
    """
    return _run_waves(pages,
                      _TableCommit(pages.sparkSession, table_root),
                      n_buckets, wave_size, mode, config, repartition,
                      max_waves, bucket_fn, recursive, verbose)
