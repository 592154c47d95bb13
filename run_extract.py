"""Cluster driver script for spark-submit (the README example).

    zip -r tika_spark.zip tika_spark
    spark-submit --py-files tika_spark.zip \
        --conf spark.sql.files.maxPartitionBytes=64m \
        run_extract.py --input s3://crawl/pages --output s3://crawl/text \
        --mode text-main

Unlike ``python -m tika_spark.pipeline.runner`` (which builds its own
local[N] session), this script uses whatever session spark-submit
provides — cluster master, executor sizing, and S3 filesystem conf
all come from submit-time conf. Input is a parquet pages table
(runner.run reads with ``spark.read.parquet``; an Iceberg table must
be exported/read through its catalog first, not pointed at by
directory — raw data files include stale snapshots) or raw
Common-Crawl ``.warc.gz`` globs (--format warc). Checkpoint/lineage
resume semantics are runner.run's: re-running after a failure
processes only the pending buckets.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from tika_spark.config import MODES


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="pages table path, or a .warc.gz glob with "
                        "--format warc")
    p.add_argument("--output", required=True)
    p.add_argument("--mode", default="text-main", choices=MODES)
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "warc"])
    p.add_argument("--buckets", type=int, default=256,
                   help="checkpoint/resume granularity (pending-bucket "
                        "groups are the unit of idempotent retry)")
    p.add_argument("--group-size", type=int, default=8)
    p.add_argument("--recursive", action="store_true")
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName("tika-spark-extract") \
        .getOrCreate()

    from tika_spark.pipeline.runner import run

    input_path = args.input
    if args.format == "warc":
        # materialize the pages table once (ingest is file-granular);
        # sorting by size bucket inside each task makes the staged
        # files size-homogeneous, so the extraction read gets
        # byte-balanced splits without a further shuffle
        from tika_spark.pipeline.job import with_size_bucket
        from tika_spark.sources.warc import read_warc
        staged = args.output.rstrip("/") + ".pages"
        (with_size_bucket(read_warc(spark, args.input))
         .sortWithinPartitions("size_bucket").drop("size_bucket")
         .write.mode("overwrite").parquet(staged))
        input_path = staged

    run(spark, input_path, args.output, args.mode,
        n_buckets=args.buckets, group_size=args.group_size,
        recursive=args.recursive)


if __name__ == "__main__":
    main()
