"""Main-content (boilerplate) block classification.

From-scratch implementation of the published Boilerpipe algorithm
(Kohlschütter, Fankhauser, Nejdl: "Boilerplate Detection using Shallow
Text Features", WSDM 2010) as used by the reference's ``-T`` /
text-main mode (tika-parsers/.../html/BoilerpipeContentHandler.java,
DefaultExtractor pipeline):

1. segment the body DOM into text blocks at block-level tags, counting
   words and anchor-text words per block (empty blocks are dropped but
   still advance the block offset counter);
2. per block: text density (words per 80-column wrapped line, trailing
   partial line excluded) and link density (anchor words / words);
3. SimpleBlockFusion — merge consecutive blocks of equal text density;
4. NumWordsRulesClassifier — the published word-count decision tree
   over (prev, curr, next) marks each block CONTENT/BOILERPLATE.

The text-main output mirrors BoilerpipeContentHandler's emission: one
paragraph per content block, newline-terminated.
"""

from __future__ import annotations

import re

from tika_spark.html.dom import El
from tika_spark.html.mapper import DISCARD_ELEMENTS

# tags that delimit text blocks (block-level vocabulary; inline tags
# like a/b/i/span flow into the current block)
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 div ul ol dl li dt dd pre blockquote address "
    "fieldset table form noscript tr td th caption hr br center article "
    "section aside nav header footer figure figcaption frameset frame "
    "title option select".split())

_WS_RE = re.compile(r"\s+")
# "token contains an alphanumeric" — compiled form of
# any(c.isalnum() for c in t) (equivalence spot-checked over the
# fixture corpus; 2.5x faster on the word-count hot path)
_ALNUM_RE = re.compile(r"[^\W_]")
_MAX_LINE = 80


class TextBlock:
    __slots__ = ("pieces", "num_words", "anchor_words", "offset_start",
                 "offset_end", "wrapped_words", "wrapped_lines",
                 "is_content", "tag")

    def __init__(self, text, num_words, anchor_words, offset, tag="",
                 tokens=None, tokens_are_words=False):
        # text kept as a piece list so merge_next is O(1): a giant page
        # fusing hundreds of equal-density blocks must not go quadratic
        # on string concatenation (measured 3 s/2000 docs before)
        self.pieces = [text]
        self.num_words = num_words
        self.anchor_words = anchor_words
        self.offset_start = offset
        self.offset_end = offset
        self.tag = tag
        self.is_content = False
        # callers that already tokenized pass the list in — the wrap
        # computation must not re-split (the segmenter hot path)
        if tokens is None:
            tokens = self.pieces[0].split()
            tokens_are_words = False
        self._compute_wrap(tokens, tokens_are_words)

    @property
    def text(self) -> str:
        if len(self.pieces) > 1:
            self.pieces = ["\n".join(self.pieces)]
        return self.pieces[0]

    def _compute_wrap(self, words, filtered: bool = False):
        line_len = -1
        lines = 0
        words_cur_line = 0
        search = _ALNUM_RE.search
        for w in words:
            # only WORD tokens advance the counters (the published
            # flushBlock skips non-word tokens) — counting separators
            # here would let num_words - words_cur_line go negative.
            # callers that already filtered (the segmenter hot path)
            # skip the per-token regex entirely
            if not filtered and not search(w):
                continue
            words_cur_line += 1
            line_len += len(w) + 1
            if line_len > _MAX_LINE:
                lines += 1
                line_len = len(w)
                words_cur_line = 1
        if lines == 0:
            self.wrapped_words = self.num_words
            self.wrapped_lines = 1
        else:
            self.wrapped_words = self.num_words - words_cur_line
            self.wrapped_lines = lines

    @property
    def text_density(self) -> float:
        return self.wrapped_words / self.wrapped_lines if self.wrapped_lines else 0.0

    @property
    def link_density(self) -> float:
        return self.anchor_words / self.num_words if self.num_words else 0.0

    def merge_next(self, other: "TextBlock"):
        self.pieces.extend(other.pieces)
        self.num_words += other.num_words
        self.anchor_words += other.anchor_words
        self.wrapped_words += other.wrapped_words
        self.wrapped_lines += other.wrapped_lines
        self.offset_end = other.offset_end
        self.is_content = self.is_content or other.is_content


class _Segmenter:
    """DOM walk -> list of TextBlock (BoilerpipeHTMLContentHandler analog)."""

    def __init__(self):
        self.blocks: list[TextBlock] = []
        self.offset = 0
        self._pieces: list[str] = []
        self._anchor_depth = 0
        self._anchor_pieces: list[str] = []
        self._block_tag = ""

    def _flush(self):
        if not self._pieces:
            return  # nothing buffered (consecutive block tags) — skip
        #           the regex/join work entirely; ~half of all flushes
        # str.split() splits/strips on the same Unicode whitespace set
        # re's \s matches, so one split replaces sub+strip+re-split —
        # no regex in the hot path
        tokens = "".join(self._pieces).split()
        self._pieces.clear()
        if not tokens:
            self._anchor_pieces.clear()
            return
        text = " ".join(tokens)
        # a "word" is a token containing an alphanumeric (boilerpipe's
        # UnicodeTokenizer word/non-word distinction); filter() keeps
        # the count loop in C
        search = _ALNUM_RE.search
        word_tokens = list(filter(search, tokens))
        num_words = len(word_tokens)
        if num_words == 0:
            # tokens but no words (separators, bullets): consumes an
            # offset slot without storing a block -> creates the gaps
            # that keep unrelated regions from proximity-fusing
            self._anchor_pieces.clear()
            self.offset += 1
            return
        atoks = "".join(self._anchor_pieces).split()
        self._anchor_pieces.clear()
        anchor_words = len(list(filter(search, atoks))) if atoks else 0
        blk = TextBlock(text, num_words, min(anchor_words, num_words),
                        self.offset, self._block_tag,
                        tokens=word_tokens, tokens_are_words=True)
        self.blocks.append(blk)
        self.offset += 1

    def walk(self, node):
        if isinstance(node, str):
            self._pieces.append(node)
            if self._anchor_depth:
                self._anchor_pieces.append(node)
            return
        tag = node.tag
        if tag in DISCARD_ELEMENTS:
            return
        is_block = tag in BLOCK_TAGS
        if is_block:
            self._flush()
            self._block_tag = tag
        if tag == "a":
            self._anchor_depth += 1
        if tag == "img":
            pass  # images contribute no words but keep block continuity
        for child in node.children:
            self.walk(child)
        if tag == "a":
            self._anchor_depth -= 1
            self._anchor_pieces.append(" ")  # word boundary between anchors
        if is_block:
            self._flush()


def segment_blocks(body: El) -> list[TextBlock]:
    seg = _Segmenter()
    for child in body.children:
        seg.walk(child)
    seg._flush()
    return seg.blocks


# --- DefaultExtractor pipeline --------------------------------------------


def simple_block_fusion(blocks: list[TextBlock]) -> list[TextBlock]:
    """Merge consecutive blocks with equal text density."""
    if not blocks:
        return blocks
    out = [blocks[0]]
    for b in blocks[1:]:
        if out[-1].text_density == b.text_density:
            out[-1].merge_next(b)
        else:
            out.append(b)
    return out


def num_words_rules_classify(blocks: list[TextBlock]) -> None:
    """The published word-count decision tree (NumWordsRulesClassifier)."""
    empty = TextBlock("", 0, 0, -10)
    n = len(blocks)
    for i, curr in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else empty
        nxt = blocks[i + 1] if i < n - 1 else empty
        if curr.link_density <= 0.333333:
            if prev.link_density <= 0.555556:
                if curr.num_words <= 16:
                    if nxt.num_words <= 15:
                        curr.is_content = prev.num_words > 4
                    else:
                        curr.is_content = True
                else:
                    curr.is_content = True
            else:
                if curr.num_words <= 40:
                    curr.is_content = nxt.num_words > 17
                else:
                    curr.is_content = True
        else:
            curr.is_content = False


def classify_blocks(body: El) -> list[TextBlock]:
    """Default pipeline over a body DOM: segment → SimpleBlockFusion →
    NumWordsRulesClassifier.

    Deviation from boilerpipe's DefaultExtractor noted: no
    pre-classification BlockProximityFusion — distance-1 fusion
    before classifying would collapse adjacent paragraphs and nav
    regions into one block and dilute link density; classifying
    un-fused blocks keeps per-paragraph granularity, which is also
    what the reference's pinned test contract exercises
    (HtmlParserTest.java:392-406).
    """
    blocks = segment_blocks(body)
    blocks = simple_block_fusion(blocks)
    num_words_rules_classify(blocks)
    return blocks


def main_content(body: El) -> tuple[str, list]:
    """text-main projection: one paragraph per content block + spans.

    Mirrors BoilerpipeContentHandler's re-emission (one <p> per content
    block -> block text + '\\n' through the layout contract).
    """
    blocks = classify_blocks(body)
    pieces: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for b in blocks:
        if not b.is_content:
            continue
        pieces.append(b.text)
        pieces.append("\n")
        spans.append((pos, pos + len(b.text), "content"))
        pos += len(b.text) + 1
    return "".join(pieces), spans
