"""The checkpoint manifest (pipeline/checkpoint.py): stats observed on
the data write, one bucket-partitioned manifest row per bucket, resume
planning from one file-system listing.

Pins that the observed stats equal the committed data (also under task
retry), that the directory and snapshot-table runners commit the same
stats, that torn or pre-partitioning manifests never pass for done
buckets, and the manifest's column order.
"""

import glob
import os
import re
import shutil

import pyspark.sql.functions as F
import pytest

from tika_spark.fixtures.pages import generate_pages_df
from tika_spark.pipeline import checkpoint as ck
from tika_spark.pipeline.job import status_rollup
from tika_spark.pipeline.table import SnapshotTable

STATS = ["n_rows", "n_err", "n_bytes", "n_chars"]


def _data_stats(df) -> dict:
    """{bucket: {stat: value}} from the committed data itself."""
    return {r["ckpt_bucket"]: {k: int(r[k] or 0) for k in STATS}
            for r in df.groupBy("ckpt_bucket").agg(*status_rollup())
            .collect()}


def _manifest_stats(m) -> dict:
    return {r["ckpt_bucket"]: {k: r[k] for k in STATS}
            for r in m.collect()}


_RETRY_SCRIPT = r"""
import os, sys
sys.path.insert(0, __REPO__)
from pyspark.sql import SparkSession
import pyspark.sql.functions as F
from tika_spark.pipeline import checkpoint as ck
from tika_spark.pipeline.job import status_rollup

# local[N, maxFailures] enables task retry, which plain local[N]
# (maxFailures=1) does not: needs its own SparkContext.
s = (SparkSession.builder.master("local[2, 2]")
     .appName("observe-retry-test")
     .config("spark.sql.shuffle.partitions", "2")
     .config("spark.ui.enabled", "false").getOrCreate())
s.sparkContext.setLogLevel("ERROR")
marker_dir, out = sys.argv[1], sys.argv[2]
pages = s.range(24).select(
    F.concat(F.lit("http://t/p"), F.col("id")).alias("url"),
    F.encode(F.concat(F.lit("<html><body><p>b"),
                      F.col("id").cast("string"),
                      F.lit("</p></body></html>")), "UTF-8")
    .alias("html")).repartition(2)

def fail_once(batches):
    from pyspark import TaskContext
    ctx = TaskContext.get()
    batches = list(batches)       # every row went through observe
    marker = os.path.join(marker_dir,
                          "s%d_p%d" % (ctx.stageId(), ctx.partitionId()))
    if not os.path.exists(marker):
        open(marker, "w").close()
        raise RuntimeError("injected failure after observe")
    yield from batches

# every observed DataFrame the runner writes dies once per task
# AFTER its rows were observed, in the same task as the write
DataFrame = type(pages)
observe = DataFrame.observe
def observe_then_fail(self, obs, *exprs):
    observed = observe(self, obs, *exprs)
    return observed.mapInArrow(fail_once, schema=observed.schema)
DataFrame.observe = observe_then_fail

summary = ck.run_checkpointed(pages, out, n_buckets=4, wave_size=2,
                              mode="text")
DataFrame.observe = observe
assert summary["complete"] and summary["rows_written"] == 24, summary
data = ck.load_extracted(s, out)
want = {r["ckpt_bucket"]: [int(r[k] or 0) for k in
                           ("n_rows", "n_err", "n_bytes", "n_chars")]
        for r in data.groupBy("ckpt_bucket").agg(*status_rollup())
        .collect()}
got = {r["ckpt_bucket"]: [r["n_rows"], r["n_err"], r["n_bytes"],
                          r["n_chars"]]
       for r in ck.manifest(s, out).collect()}
assert sorted(got) == [0, 1, 2, 3], got
assert got == {b: want.get(b, [0, 0, 0, 0]) for b in got}, (got, want)
assert data.count() == 24
print("RETRIES", len(os.listdir(marker_dir)))
s.stop()
print("OBSERVE-RETRY-OK")
"""


def test_observed_stats_exact_under_task_retry(tmp_path):
    """A write task killed after its rows were observed is retried by
    the scheduler; the manifest counts each row once, exactly as the
    committed data's own groupBy does. Runs in a subprocess because
    local[2,2] needs its own SparkContext."""
    import subprocess
    import sys

    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         _RETRY_SCRIPT.replace("__REPO__", repr(repo)), marker_dir,
         str(tmp_path / "out")],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "OBSERVE-RETRY-OK" in proc.stdout
    retries = int(proc.stdout.split("RETRIES", 1)[1].split()[0])
    assert retries >= 2       # at least one failed task per wave


def test_dir_and_table_commit_the_same_stats(spark, tmp_path):
    """Same pages, same waves: each snapshot's wave summary equals the
    sum of the directory manifest rows of that wave's buckets."""
    pages = generate_pages_df(spark, 60, partitions=2)
    out, root = str(tmp_path / "dir"), str(tmp_path / "tab")
    for run, dest in ((ck.run_checkpointed, out),
                      (ck.run_checkpointed_table, root)):
        run(pages, dest, n_buckets=6, wave_size=2, mode="text",
            max_waves=1)
        assert run(pages, dest, n_buckets=6, wave_size=2,
                   mode="text")["complete"]

    per_bucket = _manifest_stats(ck.manifest(spark, out))
    assert sorted(per_bucket) == list(range(6))
    assert per_bucket == {
        b: _data_stats(ck.load_extracted(spark, out)).get(
            b, dict.fromkeys(STATS, 0)) for b in range(6)}
    waves = [s["summary"] for s in
             SnapshotTable.load(spark, root).snapshots()
             if "buckets" in s["summary"]]
    assert [w["buckets"] for w in waves] == [[0, 1], [2, 3], [4, 5]]
    for w in waves:
        for k in STATS:
            assert w[k] == sum(per_bucket[b][k] for b in w["buckets"]), k
    assert sum(w["n_rows"] for w in waves) == 60


def test_torn_manifest_entries_do_not_mark_buckets_done(spark, tmp_path):
    pages = generate_pages_df(spark, 30, partitions=2)
    out = str(tmp_path / "ckpt")
    ck.run_checkpointed(pages, out, n_buckets=6, wave_size=2,
                        mode="text", max_waves=1)
    assert ck.done_buckets(spark, out) == {0, 1}

    # a killed append's task output, a bucket directory whose part
    # file never landed, one holding only a checksum
    part = glob.glob(f"{out}/manifest/ckpt_bucket=0/*.parquet")[0]
    tmp = (f"{out}/manifest/_temporary/0/_temporary/attempt_0/"
           "ckpt_bucket=2")
    os.makedirs(tmp)
    shutil.copy(part, tmp)
    os.makedirs(f"{out}/manifest/ckpt_bucket=3")
    os.makedirs(f"{out}/manifest/ckpt_bucket=4")
    open(f"{out}/manifest/ckpt_bucket=4/.part-0.parquet.crc", "w").close()
    assert ck.done_buckets(spark, out) == {0, 1}
    assert sorted(r[0] for r in ck.manifest(spark, out).collect()) \
        == [0, 1]

    s = ck.run_checkpointed(pages, out, n_buckets=6, wave_size=2,
                            mode="text")
    assert s["buckets_done_before"] == 2 and s["complete"]
    assert sorted(r[0] for r in ck.manifest(spark, out).collect()) \
        == list(range(6))
    assert ck.load_extracted(spark, out).count() == 30


def test_unpartitioned_manifest_raises(spark, tmp_path):
    """A manifest of flat part files (the layout before the manifest
    was partitioned by bucket) is refused by name, never silently
    re-run and never handed to Spark's partition discovery."""
    out = str(tmp_path / "ckpt")
    (spark.createDataFrame([(0, 5, 0, 50, 40, 1.0)], ck.MANIFEST_SCHEMA)
     .write.parquet(f"{out}/manifest"))
    pages = generate_pages_df(spark, 10, partitions=2)
    for call in (lambda: ck.done_buckets(spark, out),
                 lambda: ck.manifest(spark, out),
                 lambda: ck.run_checkpointed(pages, out, n_buckets=2)):
        with pytest.raises(ValueError, match=re.escape(f"{out}/manifest")):
            call()
    assert not os.path.exists(f"{out}/data")


def test_manifest_columns_in_schema_order(spark, tmp_path, monkeypatch):
    want = spark.createDataFrame([], ck.MANIFEST_SCHEMA).schema
    out = str(tmp_path / "ckpt")

    # a fresh out_dir is answered by the listing: no Spark read probe
    with monkeypatch.context() as mp:
        mp.setattr(type(spark), "read", property(
            lambda s: pytest.fail("manifest() probed with a read")))
        empty = ck.manifest(spark, out)
    assert empty.schema.simpleString() == want.simpleString()
    assert empty.count() == 0

    ck.run_checkpointed(generate_pages_df(spark, 20, partitions=2), out,
                        n_buckets=3, wave_size=2, mode="text")
    m = ck.manifest(spark, out)
    assert m.columns == [f.name for f in want.fields]
    assert m.schema.simpleString() == want.simpleString()
    assert m.count() == 3
    assert m.agg(F.sum("n_rows")).first()[0] == 20
