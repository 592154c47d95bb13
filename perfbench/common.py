"""Shared plumbing: the Spark session, the CPU probe, percentiles,
worker memory and process teardown.

Nothing here imports pyspark at module load, so the self-test and the
golden checks run without a JVM.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Percentile ladder tried by ``summarize``; a percentile is reported only
# when at least ``MIN_BEYOND`` samples lie beyond it.
LADDER = (50, 80, 90, 95, 99)
MIN_BEYOND = 10


def cores() -> int:
    """k for local[k]: at most 4, never more than this host's cores."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def probe() -> float:
    """Fixed single-thread CPU work (a 1M-step Python loop), in seconds.

    Recorded beside every run so that a run taken under host load is
    visible; never used to drop or repeat a measurement.
    """
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(samples)
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(rank) - 1]


def beyond(n: int, p: float) -> int:
    """Samples that lie beyond the nearest-rank p-th percentile of n."""
    return n - max(1, -(-n * p // 100))


def summarize(samples) -> dict:
    """Median plus the highest ladder percentile with >= MIN_BEYOND
    samples beyond it (None when the sample is too small)."""
    n = len(samples)
    out = {"n": n, "median": statistics.median(samples), "p": None,
           "p_value": None}
    for p in LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            out["p"], out["p_value"] = p, percentile(samples, p)
    return out


def fmt_summary(s: dict, unit: str) -> str:
    tail = (f"p{s['p']}={s['p_value']:.4f} {unit}" if s["p"] is not None
            else f"no percentile with >={MIN_BEYOND} samples beyond")
    return f"median={s['median']:.4f} {unit}, {tail}, n={s['n']}"


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def python_workers(jvm_pid: int) -> list[int]:
    """Spark's Python daemon and its forked workers under the JVM."""
    out = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"pyspark" in cmd and b"daemon" in cmd:
            out.append(pid)
    return out


def worker_rss_peak_mb(jvm_pid: int) -> float:
    """Max VmHWM (peak resident set) over the Python workers, in MB.
    Read once, at run end: a sampler would compete for the cores."""
    peaks = [_status_kb(p, "VmHWM") for p in python_workers(jvm_pid)]
    peaks = [p for p in peaks if p]
    if not peaks:
        raise RuntimeError("no Spark Python worker process found")
    return max(peaks) / 1024.0


def _wait_gone(pids, timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _status_kb(p, "VmRSS") is not None]
        if alive:
            time.sleep(0.1)
    return alive


# -------------------------------------------------------------- session


class Session:
    """One local[k] Spark session whose scratch space lives under
    ``.perfbench_work`` in the checkout; ``close`` stops Spark, the
    JVM and every Python worker and waits for them to end."""

    def __init__(self, k: int):
        self.k = k
        self.dir = WORK
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp = self.dir / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
        # no hsperfdata files in /tmp from the launcher or the driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p])
        os.environ["PYSPARK_PYTHON"] = sys.executable
        from pyspark.sql import SparkSession
        self.spark = (
            SparkSession.builder.master(f"local[{k}]")
            .appName("perfbench")
            # the batch runner's own session settings
            .config("spark.sql.shuffle.partitions", str(2 * k))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
            .config("spark.sql.session.timeZone", "UTC")
            # keep every file the run writes inside the checkout
            .config("spark.sql.warehouse.dir", str(self.dir / "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc

    def path(self, name: str) -> str:
        return str(self.dir / name)

    def close(self) -> None:
        workers = python_workers(self.jvm.pid)
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except Exception:
            self.jvm.kill()
            self.jvm.wait(timeout=30)
        for pid in _wait_gone(workers, 30):
            os.kill(pid, 9)
        _wait_gone(workers, 10)
        shutil.rmtree(self.dir, ignore_errors=True)

