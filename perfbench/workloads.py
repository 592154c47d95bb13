"""The three workloads. Each builds its inputs from the seed, runs one
cold checked pass and one untimed warm-up pass through the timed plan,
then times warm passes for the requested seconds.

Every workload returns a ``Result``; the set-up it reports covers input
generation/staging and the cold pass (the session start is added by the
caller). The ``*_setup`` functions are shared with the traced run.
"""

from __future__ import annotations

import io
import statistics
import sys
import time
from contextlib import redirect_stdout
from dataclasses import dataclass
from functools import partial
from pathlib import Path

from perfbench.golden import Check, check_rows, page_goldens

N_CRAWL = 1000      # pages; id 997 is the giant page
GIANT_SEED = 6      # giant tail: one 1.22 MB page
N_CKPT = 480        # pages, no giant
CKPT_WAVES = 3      # one-bucket waves per resume cycle: 1, then 2 resumed
N_MEDIA = 40        # 30 lossy WebP stills and 10 WebM streams (keyframe
                    # + three P-frames each), 64x64

# crawl_main's extract repartitions to this many tasks per core: with
# only k tasks the slowest core sets every pass (the giant-page
# straggler), and on a shared host the per-run spread of docs_per_s was
# 0.25 of the median; with 2k tasks the scheduler evens out a slowed
# core (0.17 over five seeds)
TASKS_PER_CORE = 2

CRAWL_MODE = "text-main"
CKPT_MODE = "text"


@dataclass
class Result:
    setup_s: float
    docs: float                   # input rows per timed unit
    unit_s: list[float]           # timed units: passes, or committed waves
    check: Check
    unit: str = "pass"

    @property
    def docs_per_s(self) -> float:
        """Rows per second at the median unit time."""
        return self.docs / statistics.median(self.unit_s)


MIN_PASSES = 3      # so the median never rests on the first warm pass


def timed_passes(seconds: float, one_pass) -> list[float]:
    """Run ``one_pass`` until ``seconds`` have elapsed and at least
    MIN_PASSES passes are done."""
    times: list[float] = []
    start = time.perf_counter()
    while len(times) < MIN_PASSES or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        one_pass()
        times.append(time.perf_counter() - t0)
    return times


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stage_pages(sess, pdf, name: str) -> str:
    """Write generator pages as k parquet files (rows dealt round-robin,
    as ``generate_pages_df`` deals them) and return the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = Path(sess.path(name))
    path.mkdir()
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    for j in range(sess.k):
        table = pa.Table.from_pandas(pdf.iloc[j::sess.k], preserve_index=False)
        pq.write_table(table, path / f"part-{j:05d}.parquet",
                       coerce_timestamps="us")
    return str(path)


# ------------------------------------------------------------ crawl_main


def crawl_setup(sess, seed: int):
    """Stage and cache the pages, then run the cold checked pass.

    The giant-HTML tail is drawn at GIANT_SEED: the giants hold most of
    the parse time and their size is random per seed, so a fixed tail
    keeps the work equal across seeds. Returns (pages, check)."""
    from tika_spark.fixtures.pages import (GIANT_EVERY, PAGES_COLUMNS,
                                           gen_row, generate_pages_pandas)
    from tika_spark.pipeline.job import extract
    pdf = generate_pages_pandas(N_CRAWL, seed=seed)
    for i in range(GIANT_EVERY, N_CRAWL, GIANT_EVERY):
        giant = gen_row(i, GIANT_SEED)
        pdf.loc[i] = [giant[c] for c in PAGES_COLUMNS]
    pages = sess.spark.read.parquet(stage_pages(sess, pdf, "pages")).cache()
    pages.count()
    tasks = TASKS_PER_CORE * sess.k
    rows = (extract(pages, mode=CRAWL_MODE, repartition=tasks)
            .select("url", "text", "status").collect())
    return pages, check_rows(rows, *page_goldens(N_CRAWL, seed, CRAWL_MODE))


def crawl_main(sess, seed: int, seconds: float) -> Result:
    from tika_spark.pipeline.job import extract
    t0 = time.perf_counter()
    pages, check = crawl_setup(sess, seed)

    def one_pass():
        noop(extract(pages, mode=CRAWL_MODE,
                     repartition=TASKS_PER_CORE * sess.k))

    one_pass()                      # first use of the noop sink: set-up
    setup = time.perf_counter() - t0
    return Result(setup, N_CRAWL, timed_passes(seconds, one_pass), check)


# ----------------------------------------------------------- ckpt_resume


def ckpt_setup(sess, seed: int) -> str:
    """Stage the pages and run one cold wave into a throwaway output;
    returns the staged input directory."""
    from tika_spark.fixtures.pages import generate_pages_pandas
    from tika_spark.pipeline.runner import run
    staged = stage_pages(sess, generate_pages_pandas(N_CKPT, seed=seed),
                         "ckpt_input")
    run(sess.spark, staged, sess.path("ckpt_cold"), mode=CKPT_MODE,
        n_buckets=CKPT_WAVES, group_size=1, max_groups=1, verbose=False)
    return staged


class LineClock(io.TextIOBase):
    """A stdout pass-through that timestamps each line starting with
    ``prefix``: waves are timed from outside the runner, at the moment
    it reports a committed wave (after the manifest append)."""

    def __init__(self, real, prefix: str):
        self.real, self.prefix, self.marks = real, prefix, []

    def write(self, s: str) -> int:
        if s.startswith(self.prefix):
            self.marks.append(time.perf_counter())
        return self.real.write(s)

    def flush(self) -> None:
        self.real.flush()


def resume_cycle(sess, staged: str, out: str, n_waves: int) -> list[float]:
    """``run`` half of ``n_waves`` one-bucket waves, then ``run`` again to
    completion; returns the wall time of every committed wave, manifest
    append included, read off the runner's own per-wave progress line."""
    from tika_spark.pipeline.runner import run
    clock = LineClock(sys.stderr, "[checkpoint]")
    waves = []
    with redirect_stdout(clock):
        for max_groups in (n_waves // 2, None):
            clock.marks = []
            t_start = time.perf_counter()
            run(sess.spark, staged, out, mode=CKPT_MODE, n_buckets=n_waves,
                group_size=1, max_groups=max_groups)
            ends = clock.marks
            waves += [b - a for a, b in zip([t_start] + ends, ends)]
    if len(waves) != n_waves:
        raise RuntimeError(f"expected {n_waves} waves, saw {len(waves)}")
    return waves


def check_ckpt_output(sess, out: str, seed: int) -> Check:
    from tika_spark.pipeline.checkpoint import load_extracted
    rows = (load_extracted(sess.spark, out)
            .select("url", "text", "status").collect())
    return check_rows(rows, *page_goldens(N_CKPT, seed, CKPT_MODE))


def ckpt_resume(sess, seed: int, seconds: float) -> Result:
    t0 = time.perf_counter()
    staged = ckpt_setup(sess, seed)
    setup = time.perf_counter() - t0
    waves, checks, cycle_s = [], [], 0.0
    start = time.perf_counter()
    # start a cycle only when it fits in the time left: the waves warm up
    # over a run, so the number of cycles must not depend on host speed
    while not waves or time.perf_counter() - start + cycle_s <= seconds:
        out = sess.path(f"ckpt_out{len(checks)}")
        t_cycle = time.perf_counter()
        waves += resume_cycle(sess, staged, out, CKPT_WAVES)
        cycle_s = time.perf_counter() - t_cycle
        t_check = time.perf_counter()
        checks.append(check_ckpt_output(sess, out, seed))
        start += time.perf_counter() - t_check   # the check is untimed
    check = next((c for c in checks if not c.correct), checks[0])
    return Result(setup, N_CKPT / CKPT_WAVES, waves, check, "wave")


# ------------------------------------------------------------ vp8_decode


def vp8_setup(sess, seed: int):
    """Build the payloads on the cluster, keep the goldens on the
    driver, stage stills and streams as one parquet file each (so the
    decode stages see a one-partition input), then run the cold checked
    pass. Returns (stills, streams, still_plan, stream_plan, check)."""
    import pyspark.sql.functions as F

    from perfbench.media import MEDIA_SCHEMA, build_media
    from tika_spark.analysis.pixels import image_pixel_stats
    from tika_spark.analysis.video import sample_frame_stats
    spark = sess.spark
    built = (spark.range(0, N_MEDIA, numPartitions=sess.k)
             .mapInPandas(partial(build_media, seed=seed),
                          schema=MEDIA_SCHEMA)
             .cache())
    golden = {}
    for r in built.select("id", "kind", "golden").collect():
        for f, means in enumerate(r["golden"]):
            golden[(r["id"], f)] = list(means)
    still_path, stream_path = sess.path("stills"), sess.path("streams")
    (built.filter(F.col("kind") == "still")
     .select("id", "payload", F.lit("image/webp").alias("media_type"))
     .coalesce(1).write.parquet(still_path))
    (built.filter(F.col("kind") == "stream").select("id", "payload")
     .coalesce(1).write.parquet(stream_path))
    built.unpersist()
    stills = spark.read.parquet(still_path)
    streams = spark.read.parquet(stream_path)
    still_plan = image_pixel_stats(stills).select("id", "mean_micro",
                                                  "status")
    stream_plan = sample_frame_stats(streams, every=1).select(
        "id", "frame_idx", "mean_micro", "status")
    rows = [((r["id"], 0), list(r["mean_micro"]), r["status"])
            for r in still_plan.collect()]
    rows += [((r["id"], r["frame_idx"]), list(r["mean_micro"]), r["status"])
             for r in stream_plan.collect()]
    return (stills, streams, still_plan, stream_plan,
            check_rows(rows, golden, set(golden)))


def vp8_decode(sess, seed: int, seconds: float) -> Result:
    t0 = time.perf_counter()
    _, _, still_plan, stream_plan, check = vp8_setup(sess, seed)

    def one_pass():
        noop(still_plan)
        noop(stream_plan)

    one_pass()                      # first use of the noop sink: set-up
    setup = time.perf_counter() - t0
    return Result(setup, N_MEDIA, timed_passes(seconds, one_pass), check)


WORKLOADS = {"crawl_main": crawl_main, "ckpt_resume": ckpt_resume,
             "vp8_decode": vp8_decode}
