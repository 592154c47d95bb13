"""Small-file compaction for parquet table directories.

Lakehouse hygiene (no reference counterpart — H6's operational
sibling): a long-running extraction fleet writing per-bucket commits
accumulates small parquet files, and at 100 TB the scan-planning and
footer-read overhead of 10^6 small files dominates job startup.
``compact()`` rewrites a directory to ~``target_bytes`` files.

Semantics:
- sizes come from the table's own FileSystem via the Hadoop API
  (works for file://, hdfs://, s3a:// alike — never the local ``os``
  module, the same lesson as streaming/ingest.py's index probe);
- the rewrite lands in ``<dir>__compacting`` first and swaps in with
  two renames (path → ``<dir>__old``, then tmp → path). The swap is
  NOT atomic: a crash between the two renames leaves NO directory at
  the table path (both ``__old`` — the original — and
  ``__compacting`` — the verified rewrite — still exist), and a
  concurrent reader during that instant sees a missing path. That
  window is recoverable, not silent: ``recover()`` (called at the
  top of every ``compact()``) re-installs the verified rewrite if
  present, else restores the original, so the table reappears on the
  next compaction attempt — or on an explicit ``recover()`` call
  from a startup hook;
- row order is not preserved (parquet directories are unordered
  sets); row COUNT is verified before the swap and the rewrite is
  abandoned on mismatch.

Scale: one shuffle (`repartition(n)`) sized off the real byte total;
for layout-sensitive tables pass ``partition_cols`` to keep
hive-partitioning, compacting within each partition.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def _fs_for(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for ``path`` via the Hadoop API."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def dir_stats(spark: SparkSession, path: str) -> dict:
    """(n_files, total_bytes) of the data files under ``path``."""
    fs, hpath, jvm = _fs_for(spark, path)
    n_files = 0
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, checksums, hidden
        n_files += 1
        total += st.getLen()
    return {"n_files": n_files, "total_bytes": total}


def recover(spark: SparkSession, path: str) -> str:
    """Heal a crash that hit compact()'s two-rename window.

    States and actions (tmp = ``<path>__compacting`` is only ever a
    COMPLETE, row-count-verified rewrite by the time the swap runs):

    - path exists → nothing to do ("ok"); stale tmp/old are swept.
    - path missing, tmp exists → install tmp ("installed_rewrite").
    - path missing, only old exists → restore old ("restored_old").
    - none exist → "missing" (table never existed here).
    """
    fs, hpath, jvm = _fs_for(spark, path)
    p_tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/")
                                          + "__compacting")
    p_old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    if fs.exists(hpath):
        # a leftover tmp here is an *unverified* aborted rewrite
        # (verification failure leaves it for inspection) — sweep old
        # only, which is always a superseded original
        if fs.exists(p_old):
            fs.delete(p_old, True)
        return "ok"
    if fs.exists(p_tmp):
        if not fs.rename(p_tmp, hpath):
            raise RuntimeError(f"recover: cannot install {p_tmp}")
        if fs.exists(p_old):
            fs.delete(p_old, True)
        return "installed_rewrite"
    if fs.exists(p_old):
        if not fs.rename(p_old, hpath):
            raise RuntimeError(f"recover: cannot restore {p_old}")
        return "restored_old"
    return "missing"


def compact(spark: SparkSession, path: str,
            target_bytes: int = 256 * 1024 * 1024,
            partition_cols: list[str] | None = None) -> dict:
    """Rewrite ``path`` into ceil(total/target) files (per hive
    partition when ``partition_cols`` given). Returns before/after
    stats. No-op (stats only) when already at or under the target
    file count. Starts by healing any crashed prior swap (see
    ``recover``)."""
    recover(spark, path)
    before = dir_stats(spark, path)
    n_out = max(1, math.ceil(before["total_bytes"] / target_bytes))
    if before["n_files"] <= n_out:
        return {**before, "after_files": before["n_files"],
                "compacted": False}

    df = spark.read.parquet(path)
    n_rows = df.count()
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    w = (df.repartition(n_out, *partition_cols) if partition_cols
         else df.repartition(n_out)).write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)

    if spark.read.parquet(tmp).count() != n_rows:
        raise RuntimeError(f"compaction row-count mismatch for {path}; "
                           f"rewrite left at {tmp}")
    fs, hpath, jvm = _fs_for(spark, path)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_old = jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(p_old):
        fs.delete(p_old, True)
    if not fs.rename(hpath, p_old):
        raise RuntimeError(f"compaction swap failed renaming {path}")
    if not fs.rename(p_tmp, hpath):
        # roll back so the table never disappears
        fs.rename(p_old, hpath)
        raise RuntimeError(f"compaction swap failed installing {tmp}")
    fs.delete(p_old, True)
    after = dir_stats(spark, path)
    return {**before, "after_files": after["n_files"],
            "n_rows": n_rows, "compacted": True}


def main(argv=None):
    import argparse
    import json
    import os
    p = argparse.ArgumentParser(
        description="Compact a parquet directory's small files")
    p.add_argument("path")
    p.add_argument("--target-mb", type=int, default=256)
    p.add_argument("--partition-col", action="append", default=None)
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = p.parse_args(argv)
    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("tika-spark-compact")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .getOrCreate())
    try:
        print(json.dumps(compact(
            spark, args.path, target_bytes=args.target_mb * 1024 * 1024,
            partition_cols=args.partition_col)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
