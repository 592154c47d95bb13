"""Golden checks and failure accounting, kept apart from the code under
test: every expected value comes from the input generators, never from
the extractor or decoder being measured.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from tika_spark.fixtures.pages import GIANT_EVERY, VARIANTS, gen_row

# Non-HTML variants whose output does not depend on the extraction mode
# (chm_help wraps HTML pages, so text-main reshapes it).
MODE_FREE = frozenset(VARIANTS[VARIANTS.index("pdf_simple"):]) - {"chm_help"}


@dataclass
class Check:
    attempted: int
    checked: int
    matched: int
    errors: int
    missing: int
    duplicated: int

    @property
    def failed(self) -> int:
        return self.errors + self.missing + self.duplicated

    @property
    def golden_match_rate(self) -> float:
        return self.matched / self.checked if self.checked else 0.0

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted

    @property
    def correct(self) -> bool:
        return self.checked > 0 and self.matched == self.checked \
            and self.failed == 0


def check_rows(rows, golden: dict, expected: set) -> Check:
    """Score output ``rows`` of (key, value, status).

    ``golden`` maps the keys that have an expected value to it;
    ``expected`` holds every key the input attempted. A golden key whose
    row is missing counts as unmatched; every copy of a key beyond the
    first counts as duplicated; a key outside ``expected`` counts as
    duplicated too (it is output nobody asked for).
    """
    first: dict = {}
    seen = Counter()
    errors = 0
    for key, value, status in rows:
        seen[key] += 1
        first.setdefault(key, value)
        errors += status == "error"
    duplicated = sum(c - 1 for c in seen.values()) \
        + sum(1 for key in seen if key not in expected)
    missing = len(expected - seen.keys())
    matched = sum(1 for key, want in golden.items()
                  if key in first and first[key] == want)
    return Check(len(expected), len(golden), matched, errors, missing,
                 duplicated)


def page_goldens(n_rows: int, seed: int, mode: str) -> tuple[dict, set]:
    """(url -> expected text, all urls) for generator pages 0..n_rows-1.

    ``mode='text'`` checks every page; ``mode='text-main'`` checks the
    ``text_main`` golden (html_boiler) plus the mode-free variants.
    """
    golden, expected = {}, set()
    for i in range(n_rows):
        giant = i % GIANT_EVERY == 0 and i > 0
        variant = "giant_html" if giant else VARIANTS[i % len(VARIANTS)]
        if giant and mode != "text":
            expected.add(f"https://site{i % 50}.example/p/{i}.html")
            continue
        row = gen_row(i, seed)
        expected.add(row["url"])
        if mode == "text":
            golden[row["url"]] = row["text"]
        elif variant == "html_boiler":
            golden[row["url"]] = row["text_main"]
        elif variant in MODE_FREE:
            golden[row["url"]] = row["text"]
    return golden, expected

