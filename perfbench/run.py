"""The repository benchmark: one command, three workloads (BENCHMARK.json
lists crawl_main and ckpt_resume; vp8_decode runs by name).

    python3 perfbench/run.py --workload crawl_main --seed 1 \
        --seconds 8 --trace 0

Runs the workload through the public API on local[k] (k <= 4) from this
one driver process, checks every output row against a golden built by
the input generators, and prints a human-readable table followed by one
JSON line: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import (  # noqa: E402
    MIN_BEYOND, Session, beyond, cores, cpu_jiffies, fmt_summary, percentile,
    probe, steal_share, summarize, worker_rss_peak_mb)


def end_to_end(name: str, seed: int, seconds: float) -> dict:
    from perfbench.workloads import WORKLOADS  # imports the program

    probe_before, jiffies = probe(), cpu_jiffies()
    t0 = time.perf_counter()
    sess = Session(cores())
    session_s = time.perf_counter() - t0
    try:
        res = WORKLOADS[name](sess, seed, seconds)
        rss = worker_rss_peak_mb(sess.jvm.pid)
    finally:
        sess.close()
    probe_after, steal = probe(), steal_share(jiffies, cpu_jiffies())

    chk = res.check
    setup = session_s + res.setup_s
    unit = res.unit
    print(f"perfbench {name} seed={seed} k={sess.k} seconds={seconds}")
    print(f"  cpu_probe_s        before={probe_before:.4f} "
          f"after={probe_after:.4f}  (1M-step loop, one thread)")
    print(f"  host_steal_share   {steal:.4f}  "
          "(CPU time given to other guests)")
    print(f"  setup_s            {setup:.4f} s  (session {session_s:.4f} s, "
          f"inputs + cold pass {res.setup_s:.4f} s)")
    print(f"  docs_per_s         {res.docs_per_s:.2f} docs/s  "
          f"({res.docs:g} docs per {unit})")
    print(f"  {unit}_s{' ' * (13 - len(unit))}"
          f"{fmt_summary(summarize(res.unit_s), 's')}  ["
          + " ".join(f"{t:.3f}" for t in res.unit_s) + "]")
    print(f"  golden_match_rate  {chk.golden_match_rate:.6f} ratio  "
          f"({chk.matched} of {chk.checked} checked rows)")
    print(f"  error_rate         {chk.error_rate:.6f} ratio  "
          f"(errors {chk.errors}, missing {chk.missing}, duplicated "
          f"{chk.duplicated} of {chk.attempted} attempted)")
    print(f"  worker_rss_peak_mb {rss:.2f} MB")
    if unit == "wave":
        waves = res.unit_s
        print(f"  wave_commit_p50_s  {statistics.median(waves):.4f} s")
        if beyond(len(waves), 80) >= MIN_BEYOND:
            print(f"  wave_commit_p80_s  {percentile(waves, 80):.4f} s")
        else:
            print(f"  wave_commit_p80_s  refused: {len(waves)} waves leave "
                  f"fewer than {MIN_BEYOND} beyond p80 (50 needed)")
    return {
        "correct": chk.correct,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {
            "docs_per_s": {"value": res.docs_per_s, "unit": "docs/s"},
            "golden_match_rate": {"value": chk.golden_match_rate,
                                  "unit": "ratio"},
            "worker_rss_peak_mb": {"value": rss, "unit": "MB"},
            "setup_s": {"value": setup, "unit": "s"},
        },
    }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.trace:
        from perfbench.trace import traced
        result = traced(args.workload, args.seed)
    else:
        result = end_to_end(args.workload, args.seed, args.seconds)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
