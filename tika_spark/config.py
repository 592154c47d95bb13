"""Engine-wide constants and configuration.

The robustness limits mirror the reference's hard-won defaults so the
engine is safe against adversarial pages (zip bombs, HTML bombs):

- detection reads at most ``MAGIC_PREFIX`` bytes
  (reference: tika-core/.../mime/MimeTypes.java:465-469)
- text-vs-binary sniff reads at most ``TEXT_SNIFF_PREFIX`` bytes
  (reference: tika-core/.../detect/TextDetector.java:48)
- statistical charset detection reads at most ``CHARSET_PREFIX`` bytes
  (reference: tika-parsers/.../txt/CharsetDetector.java:97)
- output chars <= ``output_budget(input bytes)`` =
  max(OUTPUT_MIN_CHARS, OUTPUT_RATIO * input bytes)
  (reference: tika-core/.../sax/SecureContentHandler.java:65-80)
- optional write limit ``ExtractConfig.write_limit`` chars
  (reference: tika-core/.../sax/WriteOutContentHandler.java:125)

Both output caps are applied once, to every route's result, by the
output guard in :func:`tika_spark.pipeline.stages.guard_output`;
parsers that decompress (archives, databases) also stop early at
``output_budget``.
"""

from __future__ import annotations

from dataclasses import dataclass

MAGIC_PREFIX = 65536  # MimeTypes.getMinLength() — covers ISO9660's
#                       CD001 volume descriptor at offset 32769
TEXT_SNIFF_PREFIX = 512
CHARSET_PREFIX = 8000
META_CHARSET_PREFIX = 8192  # HtmlParser.java:60 — meta-charset regex window

OUTPUT_MIN_CHARS = 1_000_000
OUTPUT_RATIO = 100            # output chars <= max(1MB, 100x input bytes)
# Input-side truncate-and-flag cap (BENCH/SKEW.md giant-page
# residual): a single page larger than this never reaches a parser in
# full, so no task can be pinned for minutes by one adversarial
# payload.  Prefix-parseable routes (html, plain text) parse the
# capped prefix and the row is flagged ``status='input_capped'``;
# opaque binary routes become a metadata-only capped row.  0 disables.
MAX_INPUT_BYTES = 64 << 20
MAX_XML_DEPTH = 100
MAX_EMBED_DEPTH = 10
WRITE_LIMIT = 100_000         # parseToString default cap

DEFAULT_CHARSET = "windows-1252"

MODES = ("text", "text-main", "text-main-justext", "text-main-readability",
         "metadata", "xhtml", "detect", "language", "xmp", "json",
         "markdown")

# Size-bucket boundaries (bytes) for skew-defusing repartitioning —
# pages are bucketed by len(html) so a partition never mixes many giant
# pages with tiny ones (SURVEY.md §4 O9).
SIZE_BUCKET_BOUNDS = [4_096, 65_536, 1_048_576, 8_388_608]


def output_budget(n_input: int) -> int:
    """The ratio cap: output chars allowed for ``n_input`` input bytes."""
    return max(OUTPUT_MIN_CHARS, OUTPUT_RATIO * max(1, n_input))


@dataclass(frozen=True)
class ExtractConfig:
    """Processing options — the ParseContext analog.

    (reference: tika-core/.../parser/ParseContext.java:23-42)
    """

    # 'text' (-t) | 'text-main' (-T) | 'metadata' (-m) | 'xhtml' (-x)
    # | 'detect' (-d, type census only — no parse, no language id)
    # | 'language' (-l, identified language as the output text)
    # | 'xmp' (-y, metadata map serialized as an XMP packet)
    # | 'json' (-j) | 'markdown' | the text-main variants; see MODES
    mode: str = "text"
    # 0 = unlimited (the CLI -t/-T modes); WRITE_LIMIT mirrors the
    # parseToString facade default for callers who want it
    write_limit: int = 0
    # input-side byte cap (truncate-and-flag); 0 = unlimited
    max_input_bytes: int = MAX_INPUT_BYTES
    # test/diagnostic hook: when set, each process_batch appends a
    # marker file (one per batch, named <uuid>_<n_rows>) so tests can
    # assert the parse stage executed exactly once per row (guards the
    # extract_recursive persist contract)
    trace_dir: str | None = None

    def __post_init__(self):
        if self.mode not in MODES:
            raise ValueError(f"unknown mode {self.mode!r}; "
                             f"expected one of {MODES}")
