"""3-gram language profiling and identification.

Exact reimplementation of the reference's algorithm:

- ``profile_text``: ProfilingWriter semantics (tika-core/.../language/
  ProfilingWriter.java:66-94) — lowercase; letters accumulate into a
  3-char sliding buffer seeded with ``_``; any non-letter is a ``_``
  separator that resets the window fill counter (so separator runs
  collapse); an ngram is counted once the window is full. A trailing
  separator is appended on close.
- distance: LanguageProfile.java:125-148 — Euclidean distance between
  relative-frequency vectors over the UNION of both profiles' keys,
  with totals clamped >= 1.
- identification: LanguageIdentifier.java:113-126 — argmin over
  profiles, starting distance 1.0, "reasonably certain" iff
  distance < 0.022 (CERTAINTY_LIMIT).
- training: LanguageProfilerBuilder semantics — per-language counts
  cut to the top 1000 ngrams.

The matrix math is vectorized with numpy so ``identify_batch`` scores
a whole Arrow batch of documents against all profiles at once.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Sequence
from functools import lru_cache

import numpy as np

CERTAINTY_LIMIT = 0.022
NGRAM_LENGTH = 3
PROFILE_CUT = 1000  # top-N ngrams kept per trained profile


_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def profile_text(text: str, max_chars: int | None = None) -> Counter:
    """Count 3-grams with ProfilingWriter semantics.

    The writer's char-at-a-time state machine (lowercase, non-letter
    runs collapse to one ``_``, counter resets at separators) is
    exactly equivalent to: per maximal letter-run ``w``, count the
    3-gram windows of ``_w_`` — which lets the scan run at C speed
    (regex findall + Counter.update over slices)."""
    if max_chars:
        text = text[:max_chars]
    counts: Counter = Counter()
    for w in _WORD_RE.findall(text.lower()):
        p = "_" + w + "_"
        counts.update(p[i:i + 3] for i in range(len(p) - 2))
    return counts


class LanguageIdentifierModel:
    """Trained profile set with vectorized distance scoring."""

    def __init__(self, profiles: dict[str, Counter]):
        self.languages = sorted(profiles)
        cut: dict[str, Counter] = {}
        for lang in self.languages:
            top = Counter(dict(profiles[lang].most_common(PROFILE_CUT)))
            cut[lang] = top
        vocab = sorted({g for c in cut.values() for g in c})
        self.vocab_index = {g: i for i, g in enumerate(vocab)}
        L, V = len(self.languages), len(vocab)
        P = np.zeros((L, V), dtype=np.float64)
        for li, lang in enumerate(self.languages):
            total = max(sum(cut[lang].values()), 1.0)
            for g, c in cut[lang].items():
                P[li, self.vocab_index[g]] = c / total
        self.P = P
        self.P_sq = (P * P).sum(axis=1)  # per-language sum of squared freqs
        # packed int64 keys of the vocab, for the batch path: each gram
        # is exactly 3 codepoints, and (c0<<42)|(c1<<21)|c2 sorts
        # identically to the string sort used for vocab above
        keys = np.frombuffer("".join(vocab).encode("utf-32-le"),
                             dtype=np.uint32).astype(np.int64).reshape(-1, 3)
        self.vocab_keys = (keys[:, 0] << 42) | (keys[:, 1] << 21) \
            | keys[:, 2]
        self.P_by_key = P.T.copy()  # V x L, rows aligned with vocab_keys

    def identify(self, text: str, max_chars: int | None = 50_000
                 ) -> tuple[str, float]:
        """(language, distance); 'unknown' if nothing beats distance 1.0."""
        doc = profile_text(text, max_chars)
        total = max(sum(doc.values()), 1.0)
        if not doc:
            return "unknown", 1.0
        known_idx, known_freq, unknown_sq = [], [], 0.0
        for g, c in doc.items():
            f = c / total
            i = self.vocab_index.get(g)
            if i is None:
                unknown_sq += f * f
            else:
                known_idx.append(i)
                known_freq.append(f)
        idx = np.asarray(known_idx, dtype=np.int64)
        freq = np.asarray(known_freq, dtype=np.float64)
        # dist^2 = sum_v (d_v - p_v)^2
        #        = P_sq + sum_{v in doc} (d_v^2 - 2 d_v p_v)      (union trick)
        sub = self.P[:, idx] if len(idx) else np.zeros((len(self.languages), 0))
        # dist^2 = [sum over profile-only keys of p^2]
        #        + [sum over doc∩profile keys of (d-p)^2]
        #        + [sum over doc-only keys of d^2]
        d2 = (self.P_sq
              - (sub * sub).sum(axis=1)
              + ((sub - freq) ** 2).sum(axis=1)
              + unknown_sq)
        dist = np.sqrt(np.maximum(d2, 0.0))
        best = int(dist.argmin())
        best_d = float(dist[best])
        if best_d < 1.0:
            return self.languages[best], best_d
        return "unknown", min(best_d, 1.0)

    def identify_batch(self, texts: Sequence[str | None],
                       max_chars: int | None = 50_000
                       ) -> tuple[list[str], list[float]]:
        """Whole-batch scoring: ONE numpy pass over every document's
        3-grams at once (no per-document numpy calls). Returns the
        languages and distances, one per text (a ``None`` text scores
        as empty).

        The batch's padded words are concatenated into a single string
        (words joined by ``_NUL_``, documents by ``NUL NUL``); a strided
        view yields every 3-char window, windows containing NUL are
        dropped — exactly the per-word ``_w_`` windows of
        ``profile_text``. Distances use the algebraic identity
        dist^2 = P_sq + sum_all f^2 - 2 * sum_known f*p, evaluated with
        segment reductions over the doc-sorted (doc, gram) pairs.
        """
        n = len(texts)
        out_lang = np.full(n, "unknown", dtype=object)
        out_dist = np.ones(n, dtype=np.float64)
        pieces: list[str] = []
        starts = np.zeros(n + 1, dtype=np.int64)
        pos = 0
        for di, t in enumerate(texts):
            t = t or ""
            if max_chars:
                t = t[:max_chars]
            words = _WORD_RE.findall(t.lower())
            piece = ("_" + "_\x00_".join(words) + "_") if words else ""
            pieces.append(piece)
            starts[di] = pos
            pos += len(piece) + 2  # + the doc separator NUL NUL
        starts[n] = pos
        big = "\x00\x00".join(pieces)
        if not big.strip("\x00"):
            return out_lang.tolist(), out_dist.tolist()
        codes = np.frombuffer(big.encode("utf-32-le"),
                              dtype=np.uint32).astype(np.int64)
        c0, c1, c2 = codes[:-2], codes[1:-1], codes[2:]
        valid = (c0 != 0) & (c1 != 0) & (c2 != 0)
        gram_pos = np.nonzero(valid)[0]
        if not len(gram_pos):
            return out_lang.tolist(), out_dist.tolist()
        k = (c0[gram_pos] << 42) | (c1[gram_pos] << 21) | c2[gram_pos]
        doc = np.searchsorted(starts, gram_pos, side="right") - 1

        # distinct (doc, gram) pairs + multiplicities via one sort
        order = np.lexsort((k, doc))
        doc_s, k_s = doc[order], k[order]
        new = np.empty(len(k_s), dtype=bool)
        new[0] = True
        new[1:] = (doc_s[1:] != doc_s[:-1]) | (k_s[1:] != k_s[:-1])
        bounds = np.nonzero(new)[0]
        pair_doc = doc_s[bounds]
        pair_k = k_s[bounds]
        pair_cnt = np.diff(np.append(bounds, len(k_s))).astype(np.float64)

        totals = np.bincount(doc, minlength=n).astype(np.float64)
        totals = np.maximum(totals, 1.0)
        f = pair_cnt / totals[pair_doc]
        f2_by_doc = np.bincount(pair_doc, weights=f * f, minlength=n)

        idx = np.searchsorted(self.vocab_keys, pair_k)
        idx[idx >= len(self.vocab_keys)] = 0
        known = self.vocab_keys[idx] == pair_k
        L = len(self.languages)
        S = np.zeros((n, L), dtype=np.float64)
        if known.any():
            # one 1-D bincount per language instead of a K x L
            # intermediate: the small arrays stay cache-resident (the
            # K x L gather+mul form was memory-bandwidth-bound)
            kd = pair_doc[known]
            fk = f[known]
            ik = idx[known]
            for li in range(L):
                S[:, li] = np.bincount(
                    kd, weights=fk * self.P_by_key[ik, li], minlength=n)

        has_grams = totals > 0
        d2 = self.P_sq[None, :] + f2_by_doc[:, None] - 2.0 * S
        dist = np.sqrt(np.maximum(d2, 0.0))
        best = dist.argmin(axis=1)
        best_d = dist[np.arange(n), best]
        scored = has_grams & (np.bincount(pair_doc, minlength=n) > 0)
        langs_arr = np.array(self.languages, dtype=object)
        hit = scored & (best_d < 1.0)
        out_lang[hit] = langs_arr[best[hit]]
        out_dist[hit] = best_d[hit]
        out_dist[scored & ~hit] = np.minimum(best_d[scored & ~hit], 1.0)
        return out_lang.tolist(), out_dist.tolist()


@lru_cache(maxsize=1)
def default_model() -> LanguageIdentifierModel:
    """The 27-language model trained from the seed corpora (built once
    per Python worker; module-level amortization like the reference's
    preloaded profiles — LanguageIdentifier.java:62-66)."""
    from tika_spark.language.corpus import PROFILE_LANGUAGES, SEED_TEXT
    return LanguageIdentifierModel(
        {lang: profile_text(SEED_TEXT[lang]) for lang in PROFILE_LANGUAGES})


def identify(text: str) -> tuple[str, float]:
    return default_model().identify(text)
