"""Streaming ingestion tests: incremental extraction with
exactly-once file tracking via the streaming checkpoint."""

import os

from tika_spark.fixtures.pages import generate_pages_pandas
from tika_spark.streaming.ingest import extract_stream


def _write_chunk(spark, pdf, path):
    df = spark.createDataFrame(
        pdf[["url", "warc_ts", "html"]])
    df.coalesce(1).write.mode("append").parquet(path)


def _drain(spark, inp, out, ckpt):
    q = extract_stream(spark, inp, out, ckpt,
                       trigger_available_now=True)
    q.awaitTermination(120)
    q.stop()


def test_stream_ingests_incrementally(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages_pandas(40)

    _write_chunk(spark, pages.iloc[:25], inp)
    _drain(spark, inp, out, ckpt)
    got1 = spark.read.parquet(out)
    assert got1.count() == 25
    assert "html" not in got1.columns  # binary never reaches the sink

    # new files arrive → only they are processed (checkpointed offsets)
    _write_chunk(spark, pages.iloc[25:], inp)
    _drain(spark, inp, out, ckpt)
    got2 = spark.read.parquet(out)
    assert got2.count() == 40
    assert got2.select("url").distinct().count() == 40
    # extraction results identical to the batch job for the same rows
    urls_ok = got2.filter("status in ('ok','no_parser')").count()
    assert urls_ok == 40
    assert os.path.isdir(ckpt)


def test_stream_replay_idempotent(spark, tmp_path):
    """A batch replayed after a crash between its write and its commit
    (offsets logged, commit lost) rewrites its own partition: the
    output keeps one row per url."""
    inp = str(tmp_path / "rp_in")
    out = str(tmp_path / "rp_out")
    ckpt = str(tmp_path / "rp_ckpt")
    _write_chunk(spark, generate_pages_pandas(25), inp)

    def urls():
        return sorted(r["url"] for r in
                      spark.read.parquet(out).select("url").collect())

    _drain(spark, inp, out, ckpt)
    first = urls()
    assert len(first) == 25 and len(set(first)) == 25
    for name in ("0", ".0.crc"):               # lose batch 0's commit
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    _drain(spark, inp, out, ckpt)
    assert urls() == first                     # batch 0 replayed once
    assert [r["batch_id"] for r in spark.read.parquet(out)
            .select("batch_id").distinct().collect()] == [0]


def test_windowed_mime_counts(spark, tmp_path):
    """Event-time tumbling window + watermark over a page stream."""
    import datetime as dt

    import pandas as pd

    from tika_spark.streaming.stateful import windowed_mime_counts

    inp = str(tmp_path / "w_in")
    base = dt.datetime(2021, 1, 1, 0, 0, 0)
    rows = [(f"u{i}", base + dt.timedelta(minutes=i),
             "text/html" if i % 2 else "application/pdf")
            for i in range(40)]
    spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                          "mime string").write.parquet(inp)
    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, mime string")
              .parquet(inp))
    out = windowed_mime_counts(stream, window="10 minutes",
                               watermark="5 minutes")
    q = (out.writeStream.format("memory").queryName("wmc")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from wmc").collect()
    # closed windows only (the last window stays open at the watermark)
    by = {(r["window_start"].minute, r["mime"]): r["n"] for r in got}
    assert by[(0, "text/html")] == 5
    assert by[(0, "application/pdf")] == 5
    assert by[(10, "text/html")] == 5


def test_sessionize_stream_state(spark, tmp_path):
    """applyInPandasWithState gap sessionization: a gap closes the
    session within a batch."""
    import datetime as dt

    from tika_spark.streaming.stateful import sessionize_stream

    inp = str(tmp_path / "s_in")
    base = dt.datetime(2021, 1, 1, 0, 0, 0)
    rows = []
    # user a: 3 events tight, then a 2h gap, then 2 events
    for m in (0, 5, 10):
        rows.append(("a", base + dt.timedelta(minutes=m)))
    for m in (130, 135):
        rows.append(("a", base + dt.timedelta(minutes=m)))
    # user b: one lone event (stays open in state, not emitted)
    rows.append(("b", base))
    spark.createDataFrame(rows, "user_id string, ts timestamp") \
        .write.parquet(inp)
    stream = (spark.readStream.schema("user_id string, ts timestamp")
              .parquet(inp))
    q = (sessionize_stream(stream, gap="30 minutes")
         .writeStream.format("memory").queryName("sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from sess").collect()
    rows_set = {(r["user_id"], r["session_start"], r["session_end"],
                 r["n_events"]) for r in got}
    # the gap-closed session MUST be emitted
    s1 = ("a", base, base + dt.timedelta(minutes=10), 3)
    assert s1 in rows_set
    # any further rows are the timeout-flushed open sessions (whether
    # the 60s processing-time timeout fires before the query drains is
    # wall-clock dependent) — nothing else may appear
    allowed = {s1,
               ("a", base + dt.timedelta(minutes=130),
                base + dt.timedelta(minutes=135), 2),
               ("b", base, base, 1)}
    assert rows_set <= allowed


def test_dedup_stream_keeps_first_per_fingerprint(spark, tmp_path):
    """Streaming exact dedup: engine-managed dropDuplicates state on
    the text fingerprint, watermark-bounded."""
    import datetime as dt

    from tika_spark.streaming.stateful import dedup_stream

    inp = str(tmp_path / "d_in")
    base = dt.datetime(2021, 1, 1, 0, 0, 0)
    rows = [
        ("u0", base, "alpha beta gamma"),
        ("u1", base + dt.timedelta(minutes=1), "alpha  beta gamma"),
        ("u2", base + dt.timedelta(minutes=2), "different text here"),
        ("u3", base + dt.timedelta(minutes=3), "alpha beta gamma"),
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string") \
        .coalesce(1).write.parquet(inp)
    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, text string")
              .parquet(inp))
    q = (dedup_stream(stream).writeStream.format("memory")
         .queryName("ddup").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["url"] for r in spark.sql("select * from ddup").collect()}
    # u1 normalizes to u0's text (whitespace collapse); u3 is an exact
    # dup; one of {u0,u1} survives plus u2 (single batch: engine picks
    # the first row per key within the batch in input order)
    assert "u2" in got
    assert len(got) == 2
    assert got & {"u0", "u1"}


def test_neardup_stream_covers_batch_candidates(spark, tmp_path):
    """Streaming MinHash bucket state finds every candidate pair the
    batch banded-LSH generator finds on the same static corpus
    (identical signatures + band hashes => identical buckets)."""
    import pyspark.sql.functions as F
    from tika_spark.analysis.dedup import minhash_lsh_pairs
    from tika_spark.streaming.stateful import neardup_stream

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    import random
    rng = random.Random(3)
    rows = []
    for i in range(6):  # three near-identical docs + three distinct
        if i < 3:
            rows.append((i, base + " variant"))
        else:
            words = ["tok%d_%d" % (i, rng.randint(0, 10**6))
                     for _ in range(20)]
            rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    inp = str(tmp_path / "nd_in")
    df.write.parquet(inp)

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(inp))
    out = neardup_stream(stream, timeout_ms=None)
    name = "nd_stream"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    got = {(r["id_a"], r["id_b"]) for r in
           spark.table(name).select("id_a", "id_b").collect()}

    batch = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert batch  # the three variants do pair up

    def components(pairs, nodes=6):
        parent = list(range(nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in pairs:
            parent[find(a)] = find(b)
        return {frozenset(i for i in range(nodes)
                          if find(i) == find(r))
                for r in range(nodes) if find(r) == r}

    # the streaming candidates are star-shaped per bucket (anchor =
    # first-seen), so pairwise sets differ — the dup CLUSTERS must
    # agree with the batch generator's
    assert components(got) == components(batch)
    # distinct docs never pair with the variants or each other
    assert got <= {(a, b) for a in range(3) for b in range(3) if a < b}


def test_neardup_stream_bucket_cap(spark, tmp_path):
    """max_bucket stops emission: 50 identical docs emit at most
    max_bucket pairs per band bucket, not 49 per bucket."""
    from tika_spark.streaming.stateful import neardup_stream
    df = spark.createDataFrame(
        [(i, "same words everywhere again and again repeated")
         for i in range(50)], "doc_id long, text string")
    inp = str(tmp_path / "cap_in")
    df.write.parquet(inp)
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(inp))
    out = neardup_stream(stream, max_bucket=5, timeout_ms=None)
    name = "nd_cap"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    rows = spark.table(name).collect()
    per_bucket = {}
    for r in rows:
        per_bucket.setdefault((r["band"], r["bhash"]), 0)
        per_bucket[(r["band"], r["bhash"])] += 1
    assert per_bucket and all(v <= 5 for v in per_bucket.values())
    # all pairs anchor on the bucket representative (doc 0)
    assert {r["id_a"] for r in rows} == {0}


def test_curate_stream_incremental_dedup(spark, tmp_path):
    """The incremental crawl-to-corpus pipeline: batch 2's re-crawled
    pages (same body text, new urls) are dropped by the persistent
    fingerprint index; genuinely new pages are admitted and scrubbed."""
    import pandas as pd
    from tika_spark.streaming.ingest import curate_stream

    inp = str(tmp_path / "c_in")
    out = str(tmp_path / "c_out")
    idx = str(tmp_path / "c_idx")
    ckpt = str(tmp_path / "c_ckpt")

    def page(i, body):
        html = ("<html><head><title>P%d</title></head><body><p>%s"
                "</p></body></html>" % (i, body)).encode()
        return {"url": "http://s/%d" % i,
                "warc_ts": pd.Timestamp("2026-01-17"), "html": html}

    def drain():
        q = curate_stream(spark, inp, out, idx, ckpt,
                          trigger_available_now=True)
        q.awaitTermination(180)
        q.stop()

    # batch 1: three distinct pages, one with an email address
    b1 = pd.DataFrame([page(0, "alpha body text"),
                       (page(1, "beta body reach me at a@b.org")),
                       page(2, "gamma body text")])
    spark.createDataFrame(b1).coalesce(1).write.mode("append") \
        .parquet(inp)
    drain()
    got1 = spark.read.parquet(out)
    assert got1.count() == 3
    scrub = got1.filter("url = 'http://s/1'").first()
    assert "<EMAIL>" in scrub["text"] and "a@b.org" not in scrub["text"]

    # batch 2: a re-crawl of page 0's body under a new url + one new
    b2 = pd.DataFrame([page(10, "alpha body text"),
                       page(11, "delta fresh page")])
    spark.createDataFrame(b2).coalesce(1).write.mode("append") \
        .parquet(inp)
    drain()
    got2 = spark.read.parquet(out)
    urls = {r["url"] for r in got2.select("url").collect()}
    assert urls == {"http://s/0", "http://s/1", "http://s/2",
                    "http://s/11"}  # 10 deduped against the index
    # the index accumulated exactly the admitted fingerprints
    assert spark.read.parquet(idx).count() == 4


def test_curate_stream_replay_idempotent(spark, tmp_path):
    """Replaying a batch (checkpoint lost) rewrites its own hive
    partitions with identical content — no duplicate admission, no
    self-dedup data loss (the replay excludes its own index rows)."""
    import shutil

    import pandas as pd
    from tika_spark.streaming.ingest import curate_stream

    inp = str(tmp_path / "r_in")
    out = str(tmp_path / "r_out")
    idx = str(tmp_path / "r_idx")
    ckpt = str(tmp_path / "r_ckpt")
    html = ("<html><head><title>T</title></head><body><p>stable body"
            "</p></body></html>").encode()
    pdf = pd.DataFrame(
        [{"url": "http://r/%d" % i,
          "warc_ts": pd.Timestamp("2026-01-17"),
          "html": html if i == 0 else html.replace(b"stable",
                                                   b"other%d" % i)}
         for i in range(4)])
    spark.createDataFrame(pdf).coalesce(1).write.parquet(inp)

    def drain():
        q = curate_stream(spark, inp, out, idx, ckpt,
                          trigger_available_now=True)
        q.awaitTermination(180)
        q.stop()

    drain()
    first = sorted(r["url"] for r in
                   spark.read.parquet(out).select("url").collect())
    assert len(first) == 4
    # lose the checkpoint → the same files replay as a fresh batch 0
    shutil.rmtree(ckpt)
    drain()
    again = sorted(r["url"] for r in
                   spark.read.parquet(out).select("url").collect())
    assert again == first                      # no duplicates
    assert spark.read.parquet(idx).count() == 4  # no double index rows
