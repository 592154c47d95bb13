"""Self-test of the benchmark's checks: each must pass on the program's
real output and trip on a corrupted copy of it.

    python3 perfbench/selftest.py

Runs in one process without Spark: pages go through
``pipeline.stages.process_batch`` and media through the decoders the
Spark stages call. Exits 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402

from perfbench.golden import check_rows, page_goldens  # noqa: E402

N_PAGES = 50
SEED = 7


def page_rows(mode: str) -> list:
    from tika_spark.config import ExtractConfig
    from tika_spark.fixtures.pages import generate_pages_pandas
    from tika_spark.pipeline.stages import process_batch
    pdf = generate_pages_pandas(N_PAGES, seed=SEED)
    out = process_batch(pdf[["url", "html"]], ExtractConfig(mode=mode))
    return list(zip(out["url"], out["text"], out["status"]))


def media_rows() -> tuple[list, dict]:
    from perfbench.media import build_media
    from tika_spark.analysis.ebml import mkv_video_frames
    from tika_spark.analysis.pixels import channel_means_micro
    from tika_spark.analysis.webp import decode_webp
    built = pd.concat(build_media([pd.DataFrame({"id": range(8)})], SEED))
    rows, golden = [], {}
    for r in built.itertuples():
        frames = ([decode_webp(r.payload)] if r.kind == "still"
                  else mkv_video_frames(r.payload))
        for f, arr in enumerate(frames):
            rows.append(((r.id, f), channel_means_micro(arr), "ok"))
        for f, means in enumerate(r.golden):
            golden[(r.id, f)] = list(means)
    return rows, golden


def corrupt(rows: list, k: int, fn) -> list:
    """A copy of ``rows`` whose k-th value went through ``fn``."""
    key, value, status = rows[k]
    return rows[:k] + [(key, fn(value), status)] + rows[k + 1:]


def main() -> int:
    cases = []
    main_rows = page_rows("text-main")
    golden, expected = page_goldens(N_PAGES, SEED, "text-main")
    cases.append(("text-main: program output", main_rows, golden, expected,
                  True))
    k = next(i for i, r in enumerate(main_rows) if r[0] in golden)
    cases.append(("text-main: one altered text",
                  corrupt(main_rows, k, lambda t: t + " "), golden, expected,
                  False))

    text_rows = page_rows("text")
    golden, expected = page_goldens(N_PAGES, SEED, "text")
    cases += [
        ("text: program output", text_rows, golden, expected, True),
        ("text: one url duplicated by a resumed run",
         text_rows + [text_rows[3]], golden, expected, False),
        ("text: one url lost by a resumed run", text_rows[1:], golden,
         expected, False),
    ]

    rows, golden = media_rows()
    cases += [
        ("media: decoder output", rows, golden, set(golden), True),
        ("media: one wrong pixel mean",
         corrupt(rows, 2, lambda m: [m[0] + 1] + list(m[1:])), golden,
         set(golden), False),
    ]

    ok = True
    for label, rows, golden, expected, want in cases:
        c = check_rows(rows, golden, expected)
        good = c.correct == want
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {label}: correct={c.correct} "
              f"golden_match_rate={c.golden_match_rate:.4f} "
              f"failed={c.failed} (errors {c.errors}, missing {c.missing}, "
              f"duplicated {c.duplicated})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
