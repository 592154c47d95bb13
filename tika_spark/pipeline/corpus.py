"""One-call batch corpus build: the end-to-end composition.

``build_corpus`` chains the pipeline a training-corpus job actually
runs — extraction (detect → route → parse), token gating, exact
dedup with keep-first election, and deterministic split assignment —
into one DataFrame expression, so "crawl table in, training corpus
out" is a single call (the batch sibling of
streaming/ingest.curate_stream).

Every stage is an operator that already exists and is oracle-checked
on its own (pipeline/job.extract, textstats.token_count,
textstats.assign_splits); this module contributes the composition
and its plan shape:

- extraction and gating ride the mapInArrow scan stage (no
  exchange beyond extract()'s own size-bucket repartition);
- dedup keep-first is ONE hash shuffle on the 16-byte text
  fingerprint (row_number window, first by url — retry-stable);
- split assignment is a zero-shuffle md5-band projection.

So the whole build is the extract job plus exactly one extra
exchange — the shape that survives a 100 TB input.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

DEFAULT_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def build_corpus(pages: DataFrame, mode: str | None = None,
                 min_words: int = 20, max_words: int = 100_000,
                 fractions: dict[str, float] | None = None,
                 salt: str = "") -> DataFrame:
    """pages (url, html, ...) → deduplicated, split-assigned corpus
    rows (url, title, n_tokens, fingerprint, split, text).

    Gates: extraction status 'ok', non-empty text, ``min_words <=
    n_tokens <= max_words``. Dedup: exact by md5(text), keeping the
    lexicographically first url (deterministic under retries).
    Splits: md5-band assignment keyed on url (salt re-rolls).
    """
    from tika_spark.analysis.textstats import assign_splits, token_count
    from tika_spark.pipeline.job import extract

    ex = extract(pages, mode=mode)
    gated = (ex.filter((F.col("status") == "ok")
                       & (F.length("text") > 0))
             .withColumn("n_tokens",
                         token_count(F.col("text")).cast("long"))
             .filter((F.col("n_tokens") >= min_words)
                     & (F.col("n_tokens") <= max_words))
             .withColumn("fingerprint", F.md5("text")))
    w = Window.partitionBy("fingerprint").orderBy(F.asc("url"))
    deduped = (gated.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == 1).drop("__rn"))
    out = assign_splits(deduped, fractions or DEFAULT_SPLITS,
                        key_col="url", salt=salt)
    return out.select("url", "title", "n_tokens", "fingerprint",
                      "split", "text")


def main(argv=None):
    """spark-submit surface: pages parquet in, corpus parquet out.

        python -m tika_spark.pipeline.corpus \
            --input /data/pages.parquet --output /data/corpus \
            [--mode text] [--min-words 20] [--max-words 100000]
            [--salt r1] [--cpus 8]
    """
    import argparse
    import json
    import os

    from pyspark.sql import SparkSession
    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", default="text",
                   choices=["text", "text-main", "text-main-justext",
                            "text-main-readability"])
    p.add_argument("--min-words", type=int, default=20)
    p.add_argument("--max-words", type=int, default=100_000)
    p.add_argument("--salt", default="")
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = p.parse_args(argv)
    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("tika-spark-corpus-build")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .getOrCreate())
    try:
        out = build_corpus(spark.read.parquet(args.input),
                           mode=args.mode, min_words=args.min_words,
                           max_words=args.max_words, salt=args.salt)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        splits = {r["split"]: r["n"] for r in
                  spark.read.parquet(args.output)
                  .groupBy("split").agg(F.count("*").alias("n"))
                  .collect()}
        print(json.dumps({"rows": n, "splits": splits,
                          "output": args.output}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
