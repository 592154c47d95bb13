"""DataFrame-level pipeline invariants (SURVEY.md §5.2 Tier 3).

- golden byte-equality per url over the full variant matrix;
- row counts preserved; status accounting sums;
- determinism under different parallelism (local[4] repartition 2 vs 8);
- error/no_parser rows never abort the job;
- kill/resume produces a byte-identical snapshot.
"""

import os

import pyspark.sql.functions as F
import pytest

from tika_spark.config import ExtractConfig
from tika_spark.fixtures.pages import generate_pages_df, generate_pages_pandas
from tika_spark.pipeline.job import extract, lineage_manifest, with_size_bucket
from tika_spark.pipeline.checkpoint import done_buckets
from tika_spark.pipeline.runner import run

N_ROWS = 240


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages_df(spark, N_ROWS, partitions=4)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def extracted(spark, pages):
    out = extract(pages, mode="text")
    out.cache().count()
    return out


class TestExtractJob:
    def test_row_count_preserved(self, pages, extracted):
        assert extracted.count() == pages.count() == N_ROWS

    def test_no_html_column_in_output(self, extracted):
        assert "html" not in extracted.columns

    def test_golden_byte_equality(self, pages, extracted):
        j = extracted.join(
            pages.select("url", F.col("text").alias("golden")), "url")
        n_bad = j.filter(F.col("text") != F.col("golden")).count()
        assert n_bad == 0

    def test_status_accounting(self, extracted):
        by = dict(extracted.groupBy("status").count().collect())
        assert sum(by.values()) == N_ROWS
        assert by.get("error", 0) == 0
        assert by.get("no_parser", 0) > 0  # binary_junk rows

    def test_mime_distribution(self, extracted):
        mimes = {r["mime"] for r in extracted.select("mime").distinct().collect()}
        assert {"text/html", "application/pdf", "application/rss+xml",
                "text/plain", "application/xml",
                "application/octet-stream"} <= mimes

    def test_metadata_and_links_typed(self, extracted):
        row = (extracted.filter(F.col("mime") == "text/html")
               .filter(F.size("links") > 0).first())
        assert row is not None
        assert row["links"][0]["uri"].startswith(("http", "/", "mailto"))
        assert isinstance(row["metadata"], dict)

    def test_determinism_under_parallelism(self, spark, pages):
        a = extract(pages, mode="text", repartition=2)
        b = extract(pages, mode="text", repartition=8)
        cols = ["url", "mime", "charset", "lang", "title", "text", "status"]
        diff = (a.select(cols).exceptAll(b.select(cols))).count()
        assert diff == 0

    def test_exchange_budget_of_the_job(self, spark, pages, tmp_path):
        # the 100 TB contract: on a pre-bucketed parquet table the job
        # is scan -> mapInArrow -> sink with NO shuffle of the binary
        # column (repartition=0); the explicit skew path shuffles
        # exactly once (BENCH/BASELINE.md scan-granularity finding)
        pages.write.parquet(str(tmp_path / "pages"))
        stored = spark.read.parquet(str(tmp_path / "pages"))
        plan = extract(stored, mode="text", repartition=0)._jdf \
            .queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "MapInArrow" in plan
        plan4 = extract(stored, mode="text", repartition=4)._jdf \
            .queryExecution().executedPlan().toString()
        assert plan4.count("Exchange") == 1

    def test_poison_rows_survive(self, spark):
        import datetime
        rows = [("u://1", datetime.datetime(2026, 1, 1), None),
                ("u://2", datetime.datetime(2026, 1, 1), b""),
                ("u://3", datetime.datetime(2026, 1, 1), b"\x00" * 10_000)]
        df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
        out = extract(df).collect()
        assert len(out) == 3  # no task failure

    def test_text_main_mode(self, spark, pages):
        out = extract(pages.filter(F.col("source") == "html_boiler"),
                      mode="text-main")
        goldens = {r["url"]: r for r in
                   (gen for gen in _main_goldens())}
        for row in out.collect():
            g = goldens.get(row["url"])
            if g is not None:
                assert row["text"] == g["text_main"], row["url"]

    def test_xhtml_mode(self, spark):
        rows = [("http://e.com/x.html",
                 b"<html><head><title>T</title></head><body>"
                 b"<p>A &amp; B <a href='/r'>l</a></p>"
                 b"<script>drop()</script></body></html>"),
                ("http://e.com/x.txt", "plain <text>".encode())]
        df = spark.createDataFrame(rows, "url string, html binary")
        out = {r["url"]: r for r in
               extract(df, mode="xhtml").collect()}
        xh = out["http://e.com/x.html"]["text"]
        assert xh.startswith('<html xmlns="http://www.w3.org/1999/xhtml">')
        assert "<title>T</title>" in xh
        assert '<p>A &amp; B <a href="http://e.com/r">l</a></p>' in xh
        assert "drop()" not in xh           # script subtree discarded
        tx = out["http://e.com/x.txt"]["text"]
        assert "<p>plain &lt;text&gt;\n</p>" in tx  # generic wrap

    def test_detect_mode_no_parse(self, spark, pages):
        out = extract(pages, mode="detect")
        rows = out.collect()
        assert all(r["status"] == "detected" for r in rows)
        assert all(r["text"] == "" and r["lang"] is None for r in rows)
        # the census matches the parsed run's mime distribution
        full = extract(pages, mode="text")
        assert sorted(out.groupBy("mime").count().collect()) == \
            sorted(full.groupBy("mime").count().collect())

    def test_lineage_manifest_sums(self, extracted):
        lin = lineage_manifest(extracted)
        total = lin.agg(F.sum("n_rows")).collect()[0][0]
        assert total == N_ROWS


def _main_goldens():
    from tika_spark.fixtures.pages import gen_row
    for i in range(N_ROWS):
        r = gen_row(i)
        if r["text_main"] is not None:
            yield r


def test_size_bucket_bounds(spark):
    # a page exactly at a bound stays in its bucket, one byte more moves
    # it up; the pages are built in the JVM so no page bytes cross py4j
    sizes = [0, 4_096, 4_097, 65_536, 65_537, 1_048_576, 1_048_577,
             8_388_608, 8_388_609]
    df = spark.createDataFrame([(n,) for n in sizes], "n long").select(
        "n", F.expr("cast(repeat('a', n) as binary)").alias("html"))
    got = dict(with_size_bucket(df).select("n", "size_bucket").collect())
    assert got == {0: 0, 4_096: 0, 4_097: 1, 65_536: 1, 65_537: 2,
                   1_048_576: 2, 1_048_577: 3, 8_388_608: 3, 8_388_609: 4}


class TestRunnerResume:
    def test_resume_after_kill(self, spark, tmp_path):
        inp = str(tmp_path / "pages.parquet")
        generate_pages_df(spark, 120, partitions=4).write.parquet(inp)

        out_a = str(tmp_path / "run_full")
        m1 = run(spark, inp, out_a, n_buckets=4, group_size=2, verbose=False)
        assert m1["rows_processed"] == 120
        assert done_buckets(spark, out_a) == {0, 1, 2, 3}

        # simulate a kill after the first group, then resume
        out_b = str(tmp_path / "run_killed")
        run(spark, inp, out_b, n_buckets=4, group_size=2, verbose=False,
            max_groups=1)
        m2 = run(spark, inp, out_b, n_buckets=4, group_size=2, verbose=False)
        assert m2["buckets_resumed_from"] == 2  # skipped the done ones

        cols = ["url", "mime", "text", "status"]
        a = spark.read.parquet(os.path.join(out_a, "data")).select(cols)
        b = spark.read.parquet(os.path.join(out_b, "data")).select(cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


if __name__ == "__main__":
    import sys
    sys.exit(pytest.main([__file__, "-q", "-x"]))


class TestRecursiveRunner:
    def test_children_survive_group_overwrites(self, spark, tmp_path):
        # child rows (url = parent!/name) must bucket with their parent,
        # or a later group's dynamic partition overwrite clobbers them
        from tika_spark.fixtures.pages import generate_pages_df
        from tika_spark.pipeline.runner import run
        inp = str(tmp_path / "pages.parquet")
        generate_pages_df(spark, 60, partitions=4) \
            .select("url", "warc_ts", "html").write.parquet(inp)
        out = str(tmp_path / "out")
        m = run(spark, inp, out, n_buckets=4, group_size=1,
                verbose=False, recursive=True)
        got = spark.read.parquet(out + "/data")
        assert got.count() == m["rows_processed"]
        kids = got.filter("depth > 0")
        assert kids.count() > 0
        # every child's parent row exists in the same snapshot
        import pyspark.sql.functions as F
        parents = (kids.select(F.substring_index("url", "!/", 1)
                               .alias("url")).distinct())
        missing = parents.join(got.select("url"), "url", "left_anti")
        assert missing.count() == 0


@pytest.mark.usefixtures("spark")
class TestCliModes:
    """H4: the -l (language) and -y (XMP) output modes."""

    def _pages(self, spark):
        from tika_spark.language.corpus import SEED_TEXT
        html = ("<html><head><title>T1</title>"
                '<meta name="author" content="A1"/></head><body><p>'
                + SEED_TEXT["de"] + "</p></body></html>").encode()
        return spark.createDataFrame([("http://x/a.html", html)],
                                     "url string, html binary")

    def test_language_mode(self, spark):
        from tika_spark.pipeline.job import extract
        row = extract(self._pages(spark), mode="language").collect()[0]
        assert row["text"] == "de"
        assert row["lang"] == "de"
        assert row["spans"] == []

    def test_xmp_mode(self, spark):
        from tika_spark.pipeline.job import extract
        row = extract(self._pages(spark), mode="xmp").collect()[0]
        assert row["text"].startswith("<?xpacket")
        assert "<tika:title>T1</tika:title>" in row["text"]
        assert "<tika:author>A1</tika:author>" in row["text"]
        assert row["text"].endswith('<?xpacket end="w"?>')

    def test_json_mode(self, spark):
        import json

        from tika_spark.pipeline.job import extract
        row = extract(self._pages(spark), mode="json").collect()[0]
        md = json.loads(row["text"])
        assert md["title"] == "T1"
        assert md["author"] == "A1"
        assert row["spans"] == []

    def test_xmp_multivalue_and_escaping(self):
        from tika_spark.pipeline.stages import xmp_serialize
        got = xmp_serialize({"k": ["a<b", "c&d"], "1bad key!": ["v"]})
        assert "<rdf:li>a&lt;b</rdf:li><rdf:li>c&amp;d</rdf:li>" in got
        assert "<tika:_1bad_key_>v</tika:_1bad_key_>" in got


def test_fictionbook_routes_to_xml():
    from tika_spark.mime.detector import detect
    from tika_spark.pipeline.stages import route_for_mime
    fb = (b'<?xml version="1.0"?><FictionBook xmlns="http://www.'
          b'gribuser.ru/xml/fictionbook/2.0"><body><p>story text</p>'
          b"</body></FictionBook>")
    mime = detect(fb)
    assert mime == "application/x-fictionbook+xml"
    assert route_for_mime(mime) == "xml"


class TestRunnerInputFormats:
    def test_files_input_directory(self, spark, tmp_path):
        """tika-app's batch-a-directory analog: --input-format files
        extracts every file under a directory, url = file path."""
        import os

        from tika_spark.pipeline.runner import run
        d = tmp_path / "docs" / "sub"
        os.makedirs(d)
        (tmp_path / "docs" / "a.html").write_bytes(
            b"<html><head><title>T</title></head>"
            b"<body><p>hello html</p></body></html>")
        (d / "b.txt").write_bytes(b"plain body text")
        out = str(tmp_path / "out")
        m = run(spark, str(tmp_path / "docs"), out, n_buckets=2,
                group_size=2, verbose=False, input_format="files")
        assert m["rows_processed"] == 2
        got = {os.path.basename(r["url"]): r for r in
               spark.read.parquet(out + "/data").collect()}
        assert got["a.html"]["mime"] == "text/html"
        assert "hello html" in got["a.html"]["text"]
        assert got["b.txt"]["text"].startswith("plain body text")


class TestBuildCorpus:
    def test_end_to_end_gates_dedup_splits(self, spark):
        from tika_spark.pipeline.corpus import build_corpus
        body = ("A sentence with enough words to clear the gate, "
                "repeated for weight. " * 3)
        rows = [
            ("http://a.ex/1", f"<html><title>T1</title><p>{body}</p>"),
            ("http://a.ex/2", f"<html><title>T1</title><p>{body}</p>"),
            ("http://a.ex/3", "<html><title>T3</title><p>tiny</p>"),
            ("http://a.ex/4", "<html><title>T4</title><p>"
             + ("different content with plenty of words here, "
                "clearing every configured gate easily. " * 3)
             + "</p>"),
        ]
        pages = spark.createDataFrame(
            [(u, h.encode()) for u, h in rows],
            "url string, html binary")
        out = {r.url: r for r in build_corpus(pages, min_words=10)
               .collect()}
        # dup of url 1 removed (keep-first by url asc)
        assert set(out) == {"http://a.ex/1", "http://a.ex/4"}
        r1 = out["http://a.ex/1"]
        assert r1.split in ("train", "val", "test")
        assert r1.n_tokens >= 10
        assert len(r1.fingerprint) == 32

    def test_deterministic_under_repartition(self, spark):
        from tika_spark.pipeline.corpus import build_corpus
        body = "word " * 40
        pages = spark.createDataFrame(
            [(f"http://h.ex/{i}",
              f"<html><title>t</title><p>{body}{i}</p>".encode())
             for i in range(20)], "url string, html binary")
        a = sorted(map(tuple, build_corpus(pages).collect()))
        b = sorted(map(tuple,
                       build_corpus(pages.repartition(7)).collect()))
        assert a == b


class TestInputByteCap:
    """Truncate-and-flag input cap (config.MAX_INPUT_BYTES): no page,
    however large, reaches a parser in full — the giant-page skew
    residual from BENCH/SKEW.md is bounded by policy."""

    def _run(self, spark, rows, cap):
        df = spark.createDataFrame(
            rows, "url string, html binary")
        cfg = ExtractConfig(mode="text", max_input_bytes=cap)
        out = extract(df, mode="text", config=cfg)
        return {r["url"]: r for r in out.collect()}

    def test_lineage_counts_capped_rows(self, spark):
        rows = [("u:big", bytearray(b"<html><body>" + b"<p>word</p>" * 200
                                    + b"</body></html>")),
                ("u:long", bytearray(b"<p>well over the write limit of "
                                     b"twenty chars</p>")),
                ("u:ok", bytearray(b"<p>ok</p>"))]
        df = spark.createDataFrame(rows, "url string, html binary")
        out = extract(df, config=ExtractConfig(max_input_bytes=1000,
                                               write_limit=20))
        assert dict(out.select("url", "status").collect()) == {
            "u:big": "input_capped", "u:long": "write_limit", "u:ok": "ok"}
        lin = lineage_manifest(out).agg(F.sum("n_rows"), F.sum("n_capped"))
        assert tuple(lin.collect()[0]) == (3, 2)

    def test_html_prefix_parse_and_flag(self, spark):
        body = ("<html><head><title>T</title></head><body>"
                + "<p>word </p>" * 400 + "</body></html>")
        rows = [("u:big", bytearray(body.encode())),
                ("u:small", bytearray(b"<html><body><p>ok</p>"
                                      b"</body></html>"))]
        got = self._run(spark, rows, cap=1000)
        big, small = got["u:big"], got["u:small"]
        assert big["status"] == "input_capped"
        assert big["mime"] == "text/html"
        assert 0 < big["n_chars"] < 500      # prefix text only
        assert big["n_bytes"] == len(body)   # accounting keeps true size
        assert "word" in big["text"]
        assert small["status"] == "ok"

    def test_binary_metadata_only_row(self, spark):
        import zlib
        blob = b"PK\x03\x04" + zlib.compress(b"x" * 4096) * 40
        got = self._run(spark, [("u:zip", bytearray(blob))], cap=100)
        r = got["u:zip"]
        assert r["status"] == "input_capped"
        assert r["text"] == ""
        assert r["metadata"]["Content-Type"] == [r["mime"]]
        assert r["n_bytes"] == len(blob)

    def test_cap_zero_disables(self, spark):
        body = b"<html><body><p>" + b"w " * 2000 + b"</p></body></html>"
        got = self._run(spark, [("u:h", bytearray(body))], cap=0)
        assert got["u:h"]["status"] == "ok"


class TestConfigMode:
    """``config.mode`` reaches the parse stage when no ``mode`` is
    passed, through extract and through the runner."""

    def test_extract_and_runner_honour_config_mode(self, spark, pages,
                                                    tmp_path):
        cfg = ExtractConfig(mode="text-main")
        boiler = (pages.filter(F.col("source") == "html_boiler")
                  .select("url", "html"))
        goldens = {g["url"]: g["text_main"] for g in _main_goldens()}
        got = {r["url"]: r["text"]
               for r in extract(boiler, config=cfg).collect()}
        assert got and got == {u: goldens[u] for u in got}
        inp = str(tmp_path / "boiler.parquet")
        boiler.write.parquet(inp)
        out = str(tmp_path / "out")
        run(spark, inp, out, n_buckets=2, group_size=2, config=cfg,
            verbose=False)
        ran = spark.read.parquet(out + "/data").select("url", "text")
        assert {r["url"]: r["text"] for r in ran.collect()} == got


def _exchanges(df) -> list[int]:
    """Partition counts of the shuffles in ``df``'s own physical plan,
    outermost first (a cached relation it reads is not descended)."""
    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.inputPlan())
        kids = node.children()
        own = ([node.outputPartitioning().numPartitions()]
               if node.nodeName() == "Exchange" else [])
        return own + [n for i in range(kids.size())
                      for n in walk(kids.apply(i))]
    return walk(df._jdf.queryExecution().executedPlan())


def _zip(entries: dict[str, bytes]) -> bytes:
    import io
    import zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in entries.items():
            z.writestr(name, data)
    return buf.getvalue()


class TestWidthGuard:
    """extract(), the checkpoint wave loop and spread_for_decode shuffle
    page bytes only for an input narrower than the cluster, decided
    from plan metadata without running a job."""

    def test_wide_parquet_scan_has_no_exchange(self, spark, pages,
                                               tmp_path):
        dp = spark.sparkContext.defaultParallelism
        src = tmp_path / "wide"
        pages.repartition(dp).write.parquet(str(src))
        assert len(list(src.glob("*.parquet"))) >= dp
        plan = extract(spark.read.parquet(str(src)), mode="text")._jdf \
            .queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "MapInArrow" in plan

    def test_one_file_input_spreads_to_cluster_width(self, spark, pages,
                                                     tmp_path):
        src = tmp_path / "one"
        pages.coalesce(1).write.parquet(str(src))
        assert len(list(src.glob("*.parquet"))) == 1
        out = extract(spark.read.parquet(str(src)), mode="text")
        assert _exchanges(out) == [spark.sparkContext.defaultParallelism]

    def test_member_levels_keep_their_exchange(self, spark, monkeypatch):
        import tika_spark.pipeline.job as job
        inner = _zip({"deep.txt": b"deep text"})
        df = spark.createDataFrame(
            [("http://e.com/a.zip",
              _zip({"page.html": b"<html><body><p>in</p></body></html>",
                    "nested.zip": inner})),
             ("http://e.com/p.html", b"<html><body><p>top</p></body>")],
            "url string, html binary")
        levels, real = [], job.extract

        def spy(*args, **kwargs):
            out = real(*args, **kwargs)
            levels.append(_exchanges(out))  # while ancestors are cached
            return out

        monkeypatch.setattr(job, "extract", spy)
        got = job.extract_recursive(df, mode="text")
        assert got.filter("depth = 2").count() == 1
        dp = spark.sparkContext.defaultParallelism
        assert len(levels) == 3 and levels[1:] == [[dp], [dp]]

    def test_guard_builds_without_a_job(self, spark):
        from tika_spark.analysis.spread import spread_for_decode
        sc = spark.sparkContext
        dp = sc.defaultParallelism
        # an upstream exchange narrower than the cluster: under AQE,
        # reading its width through .rdd would run that shuffle
        narrow = (spark.range(20_000, numPartitions=2)
                  .repartition(dp - 1, "id").filter("id % 3 > 0"))
        pages = narrow.select(
            F.concat(F.lit("u://"), F.col("id")).alias("url"),
            F.encode(F.col("id").cast("string"), "UTF-8").alias("html"))
        sc.setJobGroup("width-guard", "plan building only")
        try:
            spread = spread_for_decode(narrow, "id")
            extracted = extract(pages, mode="text")
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = sc.statusTracker().getJobIdsForGroup("width-guard")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == []
        assert _exchanges(spread)[0] == dp
        assert _exchanges(extracted)[0] == dp

    def test_wave_loop_resolves_the_guard_once(self, spark, pages,
                                               tmp_path, monkeypatch):
        from tika_spark.analysis import spread
        from tika_spark.pipeline import checkpoint as ck
        calls, real = [], spread.scan_width
        monkeypatch.setattr(spread, "scan_width",
                            lambda df: calls.append(1) or real(df))
        src = str(tmp_path / "pages")
        pages.select("url", "warc_ts", "html").write.parquet(src)
        rows = spark.read.parquet(src)
        s = ck.run_checkpointed(rows, str(tmp_path / "a"), n_buckets=3,
                                wave_size=1)
        assert s["waves"] == 3 and len(calls) == 1

        calls.clear()
        src_b = str(tmp_path / "pages_bucketed")
        (rows.withColumn("ckpt_bucket", ck.md5_bucket_fn(3)(F.col("url")))
         .write.partitionBy("ckpt_bucket").parquet(src_b))
        s = ck.run_checkpointed(spark.read.parquet(src_b),
                                str(tmp_path / "b"), n_buckets=3,
                                wave_size=1)
        assert s["waves"] == 3 and len(calls) == 3

    def test_guarded_waves_commit_what_a_forced_shuffle_commits(
            self, spark, pages, tmp_path):
        from tika_spark.pipeline import checkpoint as ck
        src = str(tmp_path / "pages")
        pages.select("url", "warc_ts", "html").write.parquet(src)
        rows = spark.read.parquet(src)
        dp = spark.sparkContext.defaultParallelism
        forced, resumed = str(tmp_path / "forced"), str(tmp_path / "res")
        ck.run_checkpointed(rows, forced, n_buckets=3, wave_size=1,
                            repartition=dp)
        ck.run_checkpointed(rows, resumed, n_buckets=3, wave_size=1,
                            max_waves=1)
        ck.run_checkpointed(rows, resumed, n_buckets=3, wave_size=1)

        assert ck.done_buckets(spark, forced) \
            == ck.done_buckets(spark, resumed) == {0, 1, 2}

        def manifest(out):
            return sorted(tuple(r)[:-1]          # all but wall_ms
                          for r in ck.manifest(spark, out).collect())
        assert manifest(forced) == manifest(resumed)

        def committed(out):
            got = ck.load_extracted(spark, out)
            return got.select(
                *[F.to_json(c).alias(c) if c in ("spans", "links",
                                                  "metadata") else c
                  for c in got.columns if c not in ("part_id",
                                                     "batch_ms")])
        a, b = committed(forced), committed(resumed)
        assert a.count() == N_ROWS
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resumed_waves_reuse_compiled_code(spark, pages, tmp_path):
    """Bucket ids reach generated code by reference, so a wave over a
    new bucket compiles nothing the first wave did not."""
    from tika_spark.pipeline import checkpoint as ck
    src = str(tmp_path / "pages")
    pages.select("url", "warc_ts", "html").write.parquet(src)
    rows, out = spark.read.parquet(src), str(tmp_path / "out")
    ck.run_checkpointed(rows, out, n_buckets=4, wave_size=1, max_waves=1)
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    before = compiles.getCount()
    s = ck.run_checkpointed(rows, out, n_buckets=4, wave_size=1)
    assert s["waves"] == 3 and s["complete"]
    assert compiles.getCount() == before
