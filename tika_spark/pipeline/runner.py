"""Batch extraction driver (the spark-submit entry point, H4/O12).

    python -m tika_spark.pipeline.runner \
        --input /path/pages.parquet --output /path/out \
        --mode text-main --buckets 16 [--group-size 4] [--cpus 8]

A thin CLI over :mod:`tika_spark.pipeline.checkpoint`: rows are
assigned a deterministic md5-prefix bucket, buckets are processed in
groups, each group written once with dynamic partition overwrite (the
parquet stand-in for Iceberg's overwrite-by-partition commit — the
production target). The per-bucket stats are observed on that write,
and the group is then acknowledged with one manifest row per bucket
under ``<output>/manifest/ckpt_bucket=<b>/``. On restart, one listing
of the manifest finds the committed buckets, which are skipped via a
pushed-down filter, so a killed run resumes idempotently:
deterministic bucketing + pure per-row extraction + per-partition
overwrite => byte-identical final snapshot regardless of kill/resume
history (tested in tests/test_checkpoint.py,
tests/test_checkpoint_chaos.py and
tests/test_pipeline.py::test_resume_after_kill).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession

from tika_spark.config import MODES, ExtractConfig
from tika_spark.pipeline.checkpoint import run_checkpointed


def _read_pages(spark: SparkSession, input_path: str,
                input_format: str):
    """Pages DataFrame (url, html, ...) from any of the three ingest
    shapes: a pages parquet table, a directory of raw files
    (tika-app's batch-a-directory analog — one row per file,
    url = path), or Common-Crawl .warc.gz segments."""
    if input_format == "files":
        from pyspark.sql import functions as F
        return (spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true").load(input_path)
                .select(F.col("path").alias("url"),
                        F.col("content").alias("html")))
    if input_format == "warc":
        from tika_spark.sources.warc import read_warc
        return read_warc(spark, input_path)
    return spark.read.parquet(input_path)


def run(spark: SparkSession, input_path: str, output: str,
        mode: str | None = None,
        n_buckets: int = 16, group_size: int = 4,
        config: ExtractConfig | None = None, verbose: bool = True,
        recursive: bool = False, max_groups: int | None = None,
        input_format: str = "parquet") -> dict:
    """Execute (or resume) the batch extraction. Returns run metrics."""
    pages = _read_pages(spark, input_path, input_format)
    metrics = run_checkpointed(pages, output, n_buckets=n_buckets,
                               wave_size=group_size, mode=mode,
                               config=config, recursive=recursive,
                               max_waves=max_groups, verbose=verbose)
    if verbose:
        print("[runner]", json.dumps(metrics))
    return metrics


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", default="text", choices=MODES)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--group-size", type=int, default=4)
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    p.add_argument("--recursive", action="store_true",
                   help="explode archive/mail members into child rows "
                        "(embedded-document recursion, depth <= 10)")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "files", "warc"],
                   help="pages parquet table | directory of raw "
                        "files (url = path) | .warc.gz segments")
    args = p.parse_args(argv)

    spark = (SparkSession.builder
             .master(f"local[{args.cpus}]")
             .appName("tika-spark-extract")
             .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    try:
        run(spark, args.input, args.output, args.mode,
            args.buckets, args.group_size, recursive=args.recursive,
            input_format=args.input_format)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
