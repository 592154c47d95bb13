"""tika_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of Apache Tika
(reference: tballison/tika) as a staged Spark DataFrame job:

    detect (MIME sniff) -> parse (per-format) -> block-classify
        (boilerplate) -> emit text + spans + metadata

All per-document logic runs inside Arrow-batched UDFs, never per-row
Python UDFs: the extraction stage is one ``mapInArrow`` whose worker
never imports pandas, and the corpus and media operators are pandas
UDFs or ``mapInPandas``. All relational glue (routing, repartitioning,
aggregation, resume anti-joins) is plain Catalyst-optimizable
DataFrame code.

Public API:
    extract(df, mode=...)          -- the staged extraction job
    tika_spark.pipeline.runner     -- checkpoint/resume batch driver
    tika_spark.analysis            -- corpus ops (dedup, ANN, curation)
    tika_spark.analysis.runner     -- corpus-op batch driver
"""

from tika_spark import _zipcache

__version__ = "0.1.0"

# every UDF's pickled closure imports this package in the Python worker,
# so the worker's later task starts skip re-reading unchanged archives
_zipcache.install()


def __getattr__(name):
    # lazy: keep `import tika_spark.mime` usable without a SparkSession
    if name == "extract":
        from tika_spark.pipeline.job import extract
        return extract
    raise AttributeError(name)
