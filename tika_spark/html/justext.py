"""jusText main-content classification (the second block scorer).

From-scratch implementation of the published jusText algorithm
(Pomikálek, "Removing Boilerplate and Duplicate Content from Web
Corpora", PhD thesis 2011; the reference algorithm behind the widely
used ``justext`` package): paragraphs are classified context-free on
character length, stopword density, and link density into
good / bad / short / near-good, then the short and near-good classes
are revised from their nearest definite neighbours. The north star
names "Boilerpipe/jusText-style block scoring" — Boilerpipe
(html/boilerpipe.py) is the reference-parity ``-T`` path; this module
is the corpus-curation alternative that favours precision on
stopword-bearing prose.

Reuses the Boilerpipe segmenter's TextBlock stream (same block-tag
vocabulary, same anchor-word accounting), so both classifiers see the
identical segmentation — a page is scored twice only in the
classifier, never re-parsed.

Simplifications vs the package (documented, deliberate):
- ``chars_count_in_links > 0`` is proxied by ``anchor_words > 0``
  (the segmenter counts words, not characters);
- no heading promotion (NO_HEADINGS=True behaviour);
- the stoplist is an explicit constant (English function words), and
  a parameter — jusText ships per-language lists, which at corpus
  scale would be selected by the language-id stage.

Scale contract: pure per-row function of the DOM — runs inside the
same mapInPandas stage as everything else; no shuffle, no state.
"""

from __future__ import annotations

from tika_spark.html.boilerpipe import TextBlock, segment_blocks

# English function-word stoplist (frequency-ordered core); jusText's
# decision thresholds were tuned against stoplists of this shape.
STOPLIST_EN = frozenset("""
the of and a to in is it on that as for was with be by at this have
from or an are not but had his they which she you we her all their
were when who will would there what so if no out up into them then
its he about over only can some these than many most other such even
do does did has been more very also may after before between under
""".split())

MAX_LINK_DENSITY = 0.2
LENGTH_LOW = 70
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32


def classify_context_free(block: TextBlock,
                          stoplist: frozenset = STOPLIST_EN) -> str:
    """good | bad | short | neargood for one paragraph, no context."""
    text = block.text
    words = text.split()
    if not words:
        return "bad"
    if block.num_words and \
            block.anchor_words / block.num_words > MAX_LINK_DENSITY:
        return "bad"
    if "\xa9" in text or "&copy" in text:
        return "bad"
    length = len(text)
    if length < LENGTH_LOW:
        return "bad" if block.anchor_words > 0 else "short"
    sw = sum(1 for w in words if w.lower() in stoplist)
    density = sw / len(words)
    if density >= STOPWORDS_HIGH:
        return "good" if length > LENGTH_HIGH else "neargood"
    if density >= STOPWORDS_LOW:
        return "neargood"
    return "bad"


def _neighbour(classes: list[str], i: int, inc: int,
               ignore_neargood: bool) -> str:
    """Class of the nearest definite neighbour in direction ``inc``
    (document edges count as bad — the jusText boundary rule)."""
    n = len(classes)
    i += inc
    while 0 <= i < n:
        c = classes[i]
        if c in ("good", "bad"):
            return c
        if c == "neargood" and not ignore_neargood:
            return c
        i += inc
    return "bad"


def revise_classification(cf: list[str]) -> list[str]:
    """Context-sensitive pass: short and neargood resolve from their
    neighbours. Mutates a copy IN ORDER (earlier revisions feed later
    ones), matching the published in-place behaviour."""
    out = list(cf)
    for i, c in enumerate(cf):
        if c == "short":
            prev = _neighbour(out, i, -1, ignore_neargood=True)
            nxt = _neighbour(out, i, +1, ignore_neargood=True)
            if prev == "good" and nxt == "good":
                out[i] = "good"
            elif prev == "bad" and nxt == "bad":
                out[i] = "bad"
            elif (prev == "bad" and _neighbour(
                    out, i, -1, ignore_neargood=False) == "neargood") \
                or (nxt == "bad" and _neighbour(
                    out, i, +1, ignore_neargood=False) == "neargood"):
                out[i] = "good"
            else:
                out[i] = "bad"
        elif c == "neargood":
            prev = _neighbour(out, i, -1, ignore_neargood=True)
            nxt = _neighbour(out, i, +1, ignore_neargood=True)
            out[i] = "bad" if (prev == "bad" and nxt == "bad") \
                else "good"
    return out


def classify_blocks_justext(blocks: list[TextBlock],
                            stoplist: frozenset = STOPLIST_EN
                            ) -> list[str]:
    cf = [classify_context_free(b, stoplist) for b in blocks]
    return revise_classification(cf)


def main_content_justext(body, stoplist: frozenset = STOPLIST_EN
                         ) -> tuple[str, list]:
    """(text, spans) of the good paragraphs — the jusText analog of
    boilerpipe.main_content: one newline-terminated paragraph per
    kept block, spans = (start, end, "good") in the output text (the
    kind is a string, as every route's span kind is)."""
    blocks = segment_blocks(body)
    classes = classify_blocks_justext(blocks, stoplist)
    parts = []
    spans = []
    pos = 0
    for b, c in zip(blocks, classes):
        if c != "good":
            continue
        t = b.text
        parts.append(t + "\n")
        spans.append((pos, pos + len(t), "good"))
        pos += len(t) + 1
    return "".join(parts), spans
