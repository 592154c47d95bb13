"""The traced run (``--trace 1``): per-layer numbers for one workload.

Spans are recorded only from the benchmark's own code, around calls into
each module's public functions; the program is not edited.

- Spark-side layers (``job.*``) time plan variants on the same cached
  input: scan only, the size-bucket exchange only, an identity
  ``mapInPandas`` (the Arrow handoff), and the full extract with and
  without the exchange.
- Python-side layers replay ``pipeline.stages.process_batch`` in this
  process over every input row, in 512-row batches, with the module
  functions it calls wrapped in spans. Untraced replays alternate with
  the traced ones; the ratio of their medians gives ``trace_overhead``.
- ``pipeline.checkpoint`` is traced by wrapping the parquet writer and
  ``done_buckets`` during one resume cycle of ``TRACE_WAVES`` waves.
- The VP8 decoders are replayed in this process over the staged payloads.

Every per-layer metric is printed on every workload; a layer the
workload does not exercise reads 0 and is marked in the table.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from perfbench.common import Session, cores, probe

BATCH_ROWS = 512          # spark.sql.execution.arrow.maxRecordsPerBatch
GIANT_BYTES = 1 << 20     # html.giant_share counts docs of >= 1 MB
PLAN_REPS = 2             # passes per Spark plan variant (median taken)
REPLAY_ROUNDS = 3         # untraced + traced process_batch replay pairs
TRACE_WAVES = 20          # waves in the traced checkpoint cycle

# extractor route -> parser module reported as route.<name>
ROUTE_MODULE = {
    "pdf": "pdf", "ole": "ole", "rtf": "rtf", "chm": "chm",
    "pkg": "pkg", "ooxml": "pkg", "odf": "pkg", "flat_odf": "pkg",
    "epub": "pkg", "xps": "pkg", "iwork": "pkg",
    "rfc822": "mail", "mbox": "mail", "foxmail": "mail", "tnef": "mail",
    "xml": "xmlparse", "feed": "xmlparse", "txt": "textparse",
}
ROUTES = ("pdf", "ole", "pkg", "rtf", "mail", "chm", "xmlparse", "textparse")

# (name, unit) of every per-layer metric, in table order
LAYER_METRICS = [
    ("job.scan_s", "s"), ("job.exchange_s", "s"),
    ("job.arrow_roundtrip_s", "s"), ("job.extract_s", "s"),
    ("job.extract_no_exchange_s", "s"),
    ("stages.process_batch_ms_per_doc", "ms/doc"),
    ("stages.self_ms_per_doc", "ms/doc"),
    ("mime.detect_batch_ms_per_doc", "ms/doc"),
    ("charset.html_charset_ms_per_doc", "ms/doc"),
    ("html.build_dom_ms_per_doc", "ms/doc"),
    ("html.serialize_body_ms_per_doc", "ms/doc"),
    ("html.main_content_ms_per_doc", "ms/doc"),
    ("html.giant_share", "ratio"),
    ("language.identify_batch_ms_per_doc", "ms/doc"),
    *[m for r in ROUTES for m in ((f"route.{r}.ms_per_doc", "ms/doc"),
                                  (f"route.{r}.docs", "count"))],
    ("checkpoint.data_write_s_per_wave", "s"),
    ("checkpoint.stats_readback_s_per_wave", "s"),
    ("checkpoint.manifest_append_s_per_wave", "s"),
    ("checkpoint.done_buckets_s", "s"),
    ("checkpoint.wave_growth", "ratio"),
    ("checkpoint.files_per_wave", "count"),
    ("checkpoint.bytes_per_wave", "bytes"),
    ("spread.partitions_in", "count"), ("spread.partitions_out", "count"),
    ("vp8.keyframe_decode_ms", "ms"), ("vp8inter.frame_decode_ms", "ms"),
    ("trace.accounted_share", "ratio"), ("trace_overhead", "ratio"),
]


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


class Tracer:
    """In-memory spans: name, start, end, parent span and attributes.
    ``wrap`` replaces a module or class attribute with a spanned call
    until ``restore``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack
               else None, "attrs": attrs, "t0": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    def wrap(self, owner, attr: str, name, attrs=None) -> None:
        """``name`` is a span name or a function of the call's args;
        ``owner`` is a module, a class or a dict of functions."""
        orig = owner[attr] if isinstance(owner, dict) else \
            getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            n = name(*args) if callable(name) else name
            with tracer.span(n, **(attrs(*args) if attrs else {})):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        _set(owner, attr, spanned)

    def restore(self) -> None:
        while self._patched:
            _set(*self._patched.pop())

    def durations(self, name: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_time(self, name: str) -> float:
        """Summed duration of ``name`` spans minus their children's."""
        idx = {i for i, s in enumerate(self.spans) if s["name"] == name}
        child = sum(s["t1"] - s["t0"] for s in self.spans
                    if s["parent"] in idx)
        return self.total(name) - child


def median_s(fn, reps: int = PLAN_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ------------------------------------------------ Python-side replay


def page_batches(pages, n_rows: int):
    """The input rows (url, html) in the driver, as Arrow-sized batches."""
    pdf = pages.select("url", "html").toPandas()
    return [pdf.iloc[i:i + BATCH_ROWS].reset_index(drop=True)
            for i in range(0, n_rows, BATCH_ROWS)]


def replay_stages(batches, mode: str, out: dict) -> None:
    """Replay process_batch over ``batches``, alternating untraced and
    traced rounds; fills the stages, mime, charset, html, language and
    route metrics."""
    import tika_spark.charset as cs
    import tika_spark.html.boilerpipe as bp
    import tika_spark.html.extract as hx
    from tika_spark.config import ExtractConfig
    from tika_spark.language.identifier import LanguageIdentifierModel
    from tika_spark.pipeline import stages

    config = ExtractConfig(mode=mode)
    n_docs = sum(len(b) for b in batches)

    def plain_replay() -> float:
        t0 = time.perf_counter()
        for b in batches:
            stages.process_batch(b, config)
        return time.perf_counter() - t0

    def install(tr: Tracer) -> None:
        tr.wrap(stages, "detect_batch", "mime.detect_batch")
        for route in stages._EXTRACTORS:
            tr.wrap(stages._EXTRACTORS, route, f"route.{route}",
                    lambda data, *a: {"bytes": len(data or b"")})
        tr.wrap(hx, "build_dom", "html.build_dom")
        tr.wrap(hx, "serialize_body", "html.serialize_body")
        tr.wrap(bp, "main_content", "html.main_content")
        tr.wrap(cs, "html_charset", "charset.html_charset")
        tr.wrap(cs, "decode", "charset.decode")
        tr.wrap(LanguageIdentifierModel, "identify_batch",
                "language.identify_batch")

    plain_replay()                  # warm singletons, caches and imports
    # alternate untraced and traced replays, so drift in host load or
    # warm-up does not read as tracing overhead
    tr = Tracer()
    plains, traceds = [], []
    for _ in range(REPLAY_ROUNDS):
        plains.append(plain_replay())
        install(tr)
        try:
            t0 = time.perf_counter()
            for b in batches:
                with tr.span("stages.process_batch", n=len(b)):
                    stages.process_batch(b, config)
            traceds.append(time.perf_counter() - t0)
        finally:
            tr.restore()
    n_docs *= REPLAY_ROUNDS

    def per_doc(*names):
        return sum(tr.total(n) for n in names) * 1000.0 / n_docs

    out["stages.process_batch_ms_per_doc"] = per_doc("stages.process_batch")
    out["stages.self_ms_per_doc"] = \
        tr.self_time("stages.process_batch") * 1000.0 / n_docs
    out["mime.detect_batch_ms_per_doc"] = per_doc("mime.detect_batch")
    out["charset.html_charset_ms_per_doc"] = per_doc(
        "charset.html_charset", "charset.decode")
    for name in ("build_dom", "serialize_body", "main_content"):
        out[f"html.{name}_ms_per_doc"] = per_doc(f"html.{name}")
    html_spans = [s for s in tr.spans if s["name"] == "route.html"]
    html_s = sum(s["t1"] - s["t0"] for s in html_spans)
    giant_s = sum(s["t1"] - s["t0"] for s in html_spans
                  if s["attrs"]["bytes"] >= GIANT_BYTES)
    out["html.giant_share"] = giant_s / html_s if html_s else 0.0
    out["language.identify_batch_ms_per_doc"] = per_doc(
        "language.identify_batch")
    for module in ROUTES:
        d = [t for route, m in ROUTE_MODULE.items() if m == module
             for t in tr.durations(f"route.{route}")]
        out[f"route.{module}.docs"] = len(d) // REPLAY_ROUNDS
        out[f"route.{module}.ms_per_doc"] = \
            1000.0 * sum(d) / len(d) if d else 0.0
    out["_plain_s"] += statistics.median(plains)
    out["_traced_s"] += statistics.median(traceds)
    out["_replay_process_batch_s"] = \
        tr.total("stages.process_batch") / REPLAY_ROUNDS


# --------------------------------------------------------- workloads


def trace_crawl(sess, seed: int, out: dict):
    import pyspark.sql.functions as F

    from perfbench.workloads import (CRAWL_MODE, N_CRAWL, TASKS_PER_CORE,
                                     crawl_setup, noop)
    from tika_spark.pipeline.job import extract, with_size_bucket

    pages, check = crawl_setup(sess, seed)
    slim = pages.select("url", "html")
    tasks = TASKS_PER_CORE * sess.k

    def exchange():
        return (with_size_bucket(slim)
                .repartition(tasks, F.col("size_bucket"), F.crc32("url"))
                .sortWithinPartitions("size_bucket").drop("size_bucket"))

    def identity(batches):
        yield from batches

    out["job.scan_s"] = median_s(lambda: noop(slim))
    out["job.exchange_s"] = median_s(lambda: noop(exchange()))
    out["job.arrow_roundtrip_s"] = median_s(lambda: noop(
        slim.mapInPandas(identity, schema=slim.schema)))
    out["job.extract_s"] = median_s(lambda: noop(
        extract(pages, mode=CRAWL_MODE, repartition=tasks)))
    out["job.extract_no_exchange_s"] = median_s(lambda: noop(
        extract(pages, mode=CRAWL_MODE, repartition=0)))
    replay_stages(page_batches(pages, N_CRAWL), CRAWL_MODE, out)
    # share of the warm extract wall that the layers account for: the
    # exchange (scan included), the Arrow handoff beyond the scan, and
    # the replayed Python work spread over k cores
    python_s = out.pop("_replay_process_batch_s") / sess.k
    accounted = (out["job.exchange_s"]
                 + out["job.arrow_roundtrip_s"] - out["job.scan_s"]
                 + python_s)
    out["trace.accounted_share"] = accounted / out["job.extract_s"]
    return check


def trace_ckpt(sess, seed: int, out: dict):
    from pyspark.sql.readwriter import DataFrameWriter

    import tika_spark.pipeline.checkpoint as ckpt
    from perfbench.workloads import (CKPT_MODE, N_CKPT, check_ckpt_output,
                                     ckpt_setup, resume_cycle)

    staged = ckpt_setup(sess, seed)
    tr = Tracer()
    tr.wrap(DataFrameWriter, "parquet",
            lambda self, path, *a: "checkpoint." + path.rsplit("/", 1)[1])
    tr.wrap(ckpt, "done_buckets", "checkpoint.done_buckets")
    dest = sess.path("ckpt_traced")
    try:
        waves = resume_cycle(sess, staged, dest, TRACE_WAVES)
    finally:
        tr.restore()
    check = check_ckpt_output(sess, dest, seed)

    data = [s for s in tr.spans if s["name"] == "checkpoint.data"]
    manifest = [s for s in tr.spans if s["name"] == "checkpoint.manifest"]
    out["checkpoint.data_write_s_per_wave"] = statistics.median(
        s["t1"] - s["t0"] for s in data)
    out["checkpoint.manifest_append_s_per_wave"] = statistics.median(
        s["t1"] - s["t0"] for s in manifest)
    out["checkpoint.stats_readback_s_per_wave"] = statistics.median(
        m["t0"] - d["t1"] for d, m in zip(data, manifest))
    out["checkpoint.done_buckets_s"] = statistics.median(
        tr.durations("checkpoint.done_buckets"))
    out["checkpoint.wave_growth"] = (statistics.median(waves[-10:])
                                     / statistics.median(waves[:10]))
    files, sizes = [], []
    for bucket in Path(dest, "data").iterdir():
        if bucket.is_dir():
            parts = [p for p in bucket.iterdir()
                     if p.name.endswith(".parquet")]
            files.append(len(parts))
            sizes.append(sum(p.stat().st_size for p in parts))
    out["checkpoint.files_per_wave"] = statistics.median(files)
    out["checkpoint.bytes_per_wave"] = statistics.median(sizes)

    pages = sess.spark.read.parquet(staged)
    replay_stages(page_batches(pages, N_CKPT), CKPT_MODE, out)
    print(f"  traced cycle: {len(waves)} waves, wave seconds "
          + " ".join(f"{w:.2f}" for w in waves))
    return check


def trace_vp8(sess, seed: int, out: dict):
    import tika_spark.analysis.vp8 as vp8
    from perfbench.workloads import vp8_setup
    from tika_spark.analysis.ebml import mkv_video_frames
    from tika_spark.analysis.pixels import channel_means_micro
    from tika_spark.analysis.spread import spread_for_decode
    from tika_spark.analysis.vp8inter import VP8Decoder
    from tika_spark.analysis.webp import decode_webp

    stills, streams, _, _, check = vp8_setup(sess, seed)
    out["spread.partitions_in"] = stills.rdd.getNumPartitions()
    out["spread.partitions_out"] = spread_for_decode(
        stills, "id").rdd.getNumPartitions()

    still_bytes = [bytes(r["payload"]) for r in stills.collect()]
    stream_bytes = [bytes(r["payload"]) for r in streams.collect()]

    def replay():
        for p in still_bytes:
            channel_means_micro(decode_webp(p))
        for p in stream_bytes:
            for frame in mkv_video_frames(p):
                channel_means_micro(frame)

    def plain_replay() -> float:
        t0 = time.perf_counter()
        replay()
        return time.perf_counter() - t0

    replay()                                   # warm imports
    plain = plain_replay()
    tr = Tracer()
    tr.wrap(vp8, "decode_vp8", "vp8.keyframe")
    tr.wrap(VP8Decoder, "decode_yuv",
            lambda self, data: "vp8inter.frame" if data[0] & 1
            else "vp8.keyframe")
    try:
        t0 = time.perf_counter()
        replay()
        traced = time.perf_counter() - t0
    finally:
        tr.restore()
    out["vp8.keyframe_decode_ms"] = 1000.0 * statistics.median(
        tr.durations("vp8.keyframe"))
    out["vp8inter.frame_decode_ms"] = 1000.0 * statistics.median(
        tr.durations("vp8inter.frame"))
    out["_plain_s"] += (plain + plain_replay()) / 2
    out["_traced_s"] += traced
    return check


# vp8_decode is not in BENCHMARK.json's workload set (see README.md), so
# crawl_main's traced run also measures the media layers
TRACED = {"crawl_main": (trace_crawl, trace_vp8),
          "ckpt_resume": (trace_ckpt,),
          "vp8_decode": (trace_vp8,)}


def traced(name: str, seed: int) -> dict:
    """Per-layer metrics for ``name``; the traced run's work is fixed, so
    it takes no run length."""
    out = {m: 0.0 for m, _ in LAYER_METRICS}
    out.update(_plain_s=0.0, _traced_s=0.0)
    probe_before = probe()
    sess = Session(cores())
    try:
        print(f"perfbench {name} seed={seed} k={sess.k} trace=1 "
              f"(pid {os.getpid()})")
        checks = [fn(sess, seed, out) for fn in TRACED[name]]
    finally:
        sess.close()
    out["trace_overhead"] = out["_traced_s"] / out["_plain_s"] - 1.0
    probe_after = probe()
    print(f"  cpu_probe_s before={probe_before:.4f} after={probe_after:.4f}")
    for metric, unit in LAYER_METRICS:
        note = "" if out[metric] else "  (not exercised by this workload)"
        print(f"  {metric:40s} {out[metric]:12.4f} {unit}{note}")
    if name == "crawl_main":
        print("  spread.*, vp8.* and vp8inter.* come from vp8_decode's "
              "inputs, traced in this run")
        print(f"  the layers account for {out['trace.accounted_share']:.1%} "
              f"of the warm extract wall (job.extract_s)")
    return {"correct": all(c.correct for c in checks),
            "attempted": sum(c.attempted for c in checks),
            "failed": sum(c.failed for c in checks),
            "metrics": {m: {"value": out[m], "unit": u}
                        for m, u in LAYER_METRICS}}
