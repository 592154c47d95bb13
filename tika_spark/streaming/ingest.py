"""Streaming ingestion: continuous extraction over an arriving crawl.

The reference is strictly batch per-document (SURVEY.md §2.I — no
streaming operators exist in Tika); this module is the Spark-native
widening: the same staged extraction job run incrementally as new page
files land, with exactly-once progress tracked by the Structured
Streaming checkpoint (offsets + file index), complementing the batch
runner's bucket manifests (pipeline/runner.py).

Design:
- file source (`readStream.parquet`) with `maxFilesPerTrigger` as the
  ingestion rate limiter — each micro-batch is a bounded slice of
  pages, so executor memory is insensitive to backlog size;
- `foreachBatch` applies the identical ``extract()`` DataFrame job —
  one code path for batch and streaming (no semantic drift);
- one parquet hive partition per micro-batch (``batch_id=N``), written
  in overwrite mode, so a replayed batch replaces its own rows;
- no watermarks/stateful ops needed: extraction is per-row pure, so
  the checkpoint plus the idempotent batch write is exactly-once.

``trigger_available_now=True`` drains the current backlog and stops —
the batch-catchup mode (and what the tests use).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from tika_spark.config import ExtractConfig
from tika_spark.pipeline.job import extract


def extract_stream(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, mode: str | None = None,
                   schema: str = ("url string, warc_ts timestamp, "
                                  "html binary"),
                   max_files_per_trigger: int = 16,
                   config: ExtractConfig | None = None,
                   trigger_available_now: bool = False):
    """Start (and return) the streaming query. Caller owns lifecycle
    (``.awaitTermination()`` / ``.stop()``).

    Exactly-once: the checkpoint tracks file offsets and each
    micro-batch overwrites ``output_dir/batch_id=N``, so a batch
    replayed after a crash (its offsets logged, its commit not)
    rewrites the same rows; reading ``output_dir`` yields ``batch_id``
    as a partition column."""
    pages = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .parquet(input_dir))

    def process(batch_df, batch_id: int):
        # one hive partition per batch, overwritten: a batch replayed
        # after a crash rewrites its own rows instead of appending them
        # twice (the same rule as curate_stream's sinks)
        out = extract(batch_df, mode=mode, config=config)
        out.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}"))

    writer = (pages.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curate_stream(spark: SparkSession, input_dir: str, output_dir: str,
                  index_dir: str, checkpoint_dir: str,
                  mode: str | None = None,
                  schema: str = ("url string, warc_ts timestamp, "
                                 "html binary"),
                  max_files_per_trigger: int = 16,
                  config: ExtractConfig | None = None,
                  trigger_available_now: bool = False):
    """The incremental crawl-to-corpus pipeline in one streaming
    query: extract → PII scrub → exact dedup against everything ever
    admitted → append. Per micro-batch (foreachBatch):

      1. the identical batch ``extract()`` job (one code path);
      2. FineWeb-style PII scrub over the extracted text;
      3. fingerprint, then ``snapshot_delta_dedup`` against the
         persistent fingerprint index at ``index_dir`` — documents
         whose normalized text ever appeared in ANY prior batch (or
         earlier in this one) are dropped;
      4. survivors append to ``output_dir``; their fingerprints
         append to the index.

    The index holds (fp_64, fp_md5) only — 24 bytes per admitted doc,
    ~24 GB per 10^9 docs: broadcast- or shuffle-joinable forever,
    which is why recurring crawls never re-read old text (the same
    contract as the batch ``snapshot_delta_dedup``).

    Exactly-once: the streaming checkpoint tracks file offsets, and
    BOTH sinks write per-batch hive partitions
    (``.../batch_id=N/``, mode overwrite), so a replayed batch
    rewrites its own two directories with identical content instead
    of appending twice. The dedup for batch N reads the index
    EXCLUDING partition N — a replay therefore sees exactly the index
    state the original attempt saw, whether the crash hit before,
    between, or after the two writes.
    """

    from tika_spark.analysis.curation import (pii_scrub,
                                              snapshot_delta_dedup)

    pages = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .parquet(input_dir))

    def process(batch_df, batch_id: int):
        out = extract(batch_df, mode=mode, config=config)
        # persist the extraction output: it feeds both the dedup
        # (via fingerprints) and the kept-rows join — without the
        # cache the Python extract stage would run twice per batch
        scrubbed = (pii_scrub(out.filter(F.col("status") == "ok"),
                              text_col="text")
                    .drop("text")
                    .withColumnRenamed("text_scrubbed", "text")
                    .persist())
        try:
            # probe the index through Spark, not the local os module:
            # with an HDFS/S3 index_dir a local isdir() always says
            # "empty", silently disabling cross-batch dedup
            try:
                # exclude this batch's own partition: a replayed
                # batch must see the index as the original attempt
                # did, or it would dedup against itself
                seen = (spark.read.parquet(index_dir)
                        .filter(F.col("batch_id") != batch_id)
                        .select("fp_64", "fp_md5"))
                seen.schema  # force analysis so a missing path
                # surfaces here, not inside the join
            except Exception as exc:  # AnalysisException: PATH_NOT_FOUND
                if "PATH_NOT_FOUND" not in str(exc) \
                        and "Path does not exist" not in str(exc) \
                        and "Unable to infer schema" not in str(exc):
                    raise
                seen = spark.createDataFrame(
                    [], "fp_64 long, fp_md5 string")
            # survivors: (url, fp_64, fp_md5) — new against the whole
            # admitted corpus AND first-per-fingerprint in the batch
            fresh = snapshot_delta_dedup(scrubbed, seen, id_col="url",
                                         text_col="text").persist()
            kept = scrubbed.join(fresh.select("url"), "url")
            kept.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"batch_id={batch_id}"))
            (fresh.select("fp_64", "fp_md5")
                  .write.mode("overwrite").parquet(
                      os.path.join(index_dir, f"batch_id={batch_id}")))
            fresh.unpersist()
        finally:
            scrubbed.unpersist()

    writer = (pages.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
