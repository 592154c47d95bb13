"""Driver contract: the flagship job and the query registry.

``entry(spark)`` runs the staged extraction job (detect → parse →
block-classify → emit, SURVEY.md §3) over mixed-format pages built from
the sf0.001 documents table and returns its ``STABLE_COLS``.

``queries()`` maps each query name to its builder ``(spark, sf_dir) ->
DataFrame``. ``oracle_sql()`` maps each checked query to DuckDB SQL over
views of the same sf_dir parquet tables that must return the same rows.
Both are views of one registry. To add a query, write one record:

    @query("word_count", oracle="SELECT doc_id, ... FROM documents")
    def _q_word_count(spark, sf_dir): ...

``oracle=None`` marks a rows-only query. ``tools/check_oracles.py`` runs
every record. Per-row payload builders are nested or ``tika_spark``
functions (``_by_id``): executors never import this module.

Numeric conventions for hash-stable comparisons: similarities as
integer micro-units, all counts cast to long, deterministic tie-breaks
on id columns everywhere.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import pandas as pd  # needed at module scope: pandas_udf resolves the
#                      string type hints of nested UDFs via __globals__
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from tika_spark.analysis import (bpe, classifier, dedup, multimodal,
                                 similarity, textstats)
from tika_spark.analysis.pcm import audio_pcm_stats
from tika_spark.analysis.video import sample_frame_stats
from tika_spark.pipeline.job import extract, extract_recursive

# ----------------------------------------------------------------- helpers

STABLE_COLS = ["url", "mime", "charset", "lang", "title", "text", "status"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _html_wrap(title_prefix: str = "Doc ") -> F.Column:
    """Native-SQL page builder: documents.text → utf-8 HTML bytes."""
    return F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>' + title_prefix),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><p>"), F.col("text"),
        F.lit("</p></body></html>")), "UTF-8")


def _doc_url(ext: str | F.Column = "") -> F.Column:
    """``doc://<doc_id><ext>``: the url of every generated page."""
    if isinstance(ext, str):
        ext = F.lit(ext)
    return F.concat(F.lit("doc://"), F.col("doc_id"), ext)


def _pages(spark: SparkSession, sf_dir: str, html: F.Column,
           ext: str | F.Column = "") -> DataFrame:
    """Pages table: the ``html`` payload at url doc://<doc_id><ext>."""
    return _docs(spark, sf_dir).select(_doc_url(ext).alias("url"),
                                       html.alias("html"))


def _by_id(build: Callable[[int], bytes]):
    """Binary pandas UDF over a doc_id column: ``build(doc_id)`` per row.
    ``build`` must be a nested or ``tika_spark`` function, so that the
    UDF pickles by value and executors never import this module."""
    @pandas_udf(BinaryType())
    def wrap(ids: pd.Series) -> pd.Series:
        return pd.Series([build(int(i)) for i in ids])
    return wrap


def _by_id_text(build: Callable[[int, str | None], bytes]):
    """Like ``_by_id`` over (doc_id, text) columns: ``build(doc_id,
    text)`` per row."""
    @pandas_udf(BinaryType())
    def wrap(ids: pd.Series, texts: pd.Series) -> pd.Series:
        return pd.Series([build(int(i), t) for i, t in zip(ids, texts)])
    return wrap


def _media(spark: SparkSession, sf_dir: str, wrap,
           media_type: str | F.Column | None = None) -> DataFrame:
    """Media table: ``id``, ``payload`` = wrap(doc_id) and, when given,
    ``media_type`` (a MIME string or a column)."""
    cols = [F.col("doc_id").alias("id"),
            wrap(F.col("doc_id")).alias("payload")]
    if media_type is not None:
        if isinstance(media_type, str):
            media_type = F.lit(media_type)
        cols.append(media_type.alias("media_type"))
    return _docs(spark, sf_dir).select(*cols)


def _dims_means(*means: str) -> list[F.Column]:
    """Width and height as long, then ``mean_micro`` split into the
    ``means`` columns (F.get is NULL-safe past a row's last channel,
    where ANSI element_at would throw)."""
    return [F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            *[F.get("mean_micro", k).alias(m) for k, m in enumerate(means)]]


def _frame_stats(media: DataFrame, every: int, *means: str) -> DataFrame:
    """Per sampled frame: id, frame_idx, n_frames, dims and means."""
    return sample_frame_stats(media, every=every).select(
        "id", "frame_idx", "n_frames", *_dims_means(*means))


def _pcm_stats(media: DataFrame) -> DataFrame:
    """Decoded-audio stats, channel count and sample rate as long."""
    return audio_pcm_stats(media).select(
        "id", F.col("n_channels").cast("long").alias("n_channels"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        "n_samples", "duration_ms", "rms_micro", "peak_micro")


def _pages_mixed(docs: DataFrame) -> DataFrame:
    """Mixed-format pages: doc_id%16 → html | pdf-stub | txt | xml |
    webp | sqlite | mp4 | woff2 | rar | flac | midi | swf | cab |
    mpeg-ps | pcap | kml (signature-prefix payloads exercising the
    widened magic table + a root-XML refinement case; filler is the
    doc text). Pure column expressions — the 100TB generation path is
    this same projection over the real crawl table."""
    k = F.pmod(F.col("doc_id"), F.lit(16))
    body = F.encode(F.col("text"), "UTF-8")
    payload = (F.when(k == 0, _html_wrap())
               .when(k == 1, F.encode(
                   F.concat(F.lit("%PDF-1.4\n"), F.col("text")), "UTF-8"))
               .when(k == 2, body)
               .when(k == 3, F.encode(F.concat(
                   F.lit('<?xml version="1.0"?><doc><t>'), F.col("text"),
                   F.lit("</t></doc>")), "UTF-8"))
               .when(k == 4, F.concat(
                   F.lit(b"RIFF\x24\x00\x00\x00WEBPVP8 "), body))
               .when(k == 5, F.concat(
                   F.lit(b"SQLite format 3\x00"), body))
               .when(k == 6, F.concat(
                   F.lit(b"\x00\x00\x00\x20ftypisom\x00\x00\x02\x00"),
                   body))
               .when(k == 7, F.concat(F.lit(b"wOF2\x00\x01\x00\x00"),
                                      body))
               .when(k == 8, F.concat(F.lit(b"Rar!\x1a\x07\x00"), body))
               .when(k == 9, F.concat(F.lit(b"fLaC\x00\x00\x00\x22"),
                                      body))
               .when(k == 10, F.concat(
                   F.lit(b"MThd\x00\x00\x00\x06\x00\x01\x00\x02\x01"
                         b"\xe0"), body))
               .when(k == 11, F.concat(F.lit(b"FWS\x09"), body))
               .when(k == 12, F.concat(
                   F.lit(b"MSCF\x00\x00\x00\x00"), body))
               .when(k == 13, F.concat(
                   F.lit(b"\x00\x00\x01\xba\x44"), body))
               .when(k == 14, F.concat(
                   F.lit(b"\xd4\xc3\xb2\xa1\x02\x00\x04\x00"), body))
               .otherwise(F.encode(F.concat(
                   F.lit('<?xml version="1.0"?><kml xmlns="http://www'
                         '.opengis.net/kml/2.2"><Placemark><name>'),
                   F.col("text"),
                   F.lit("</name></Placemark></kml>")), "UTF-8")))
    return docs.select(
        _doc_url().alias("url"),
        payload.alias("html"))


# ------------------------------------------------------------- oracle SQL

_WS = r"'\s+'"
_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

# 8-bit Morton interleave of x (odd bit lanes) and y (even lanes)
_Z_INTERLEAVE = " | ".join(
    f"(((x >> {b}) & 1) << {2 * b + 1}) | "
    f"(((y >> {b}) & 1) << {2 * b})"
    for b in range(8))
# FNV-1a 64 fold for one token, h as HUGEINT (DuckDB ints are checked,
# so h*p mod 2^64 is decomposed: p = 2^40 + 435, and the xor with a
# 7-bit char only touches h's low byte)
_FNV_FOLD = (
    "(h, c) -> ((h - h % 128 + xor((h % 128)::BIGINT, c::BIGINT)"
    "::HUGEINT) % 16777216 * 1099511627776 "
    "+ (h - h % 128 + xor((h % 128)::BIGINT, c::BIGINT)::HUGEINT) * 435)"
    " % 18446744073709551616::HUGEINT")
# per-document SimHash signature (token FNV-1a -> per-bit vote -> int64)
_SIMHASH_SIGS = rf"""
  toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS
    tok FROM documents),
  th AS (
    -- list_filter drops the '' element DuckDB yields when splitting
    -- an empty token (ord('') is -1, which would corrupt the fold);
    -- an empty token then reduces to the bare FNV offset basis,
    -- matching Spark's hash64('')
    SELECT doc_id, list_reduce(
      list_prepend(14695981039346656037::HUGEINT,
        list_transform(
          list_filter(string_split_regex(tok, ''), c -> c <> ''),
          c -> ord(c)::HUGEINT)),
      {_FNV_FOLD}) AS h
    FROM toks),
  bitvotes AS (
    SELECT doc_id, b,
      SUM(CASE WHEN (h // (2 ** b)::HUGEINT) % 2 = 1 THEN 1 ELSE -1
          END) AS v
    FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb
    GROUP BY doc_id, b),
  sigs AS (
    SELECT doc_id,
      (CASE WHEN usig >= 9223372036854775808::HUGEINT
            THEN usig - 18446744073709551616::HUGEINT
            ELSE usig END)::BIGINT AS sig
    FROM (SELECT doc_id, SUM(CASE WHEN v > 0 THEN (2 ** b)::HUGEINT
                             ELSE 0::HUGEINT END) AS usig
          FROM bitvotes GROUP BY doc_id))"""
_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(w)-2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))")
_STOP = "('the','a','an','of','and','to','in','is','it','on')"


# ------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full detect→parse→classify→emit over mixed-format pages
    from sf0.001 (stable schema, deterministic values)."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    out = extract(_pages_mixed(docs), mode="text")
    return out.select(*STABLE_COLS)


# ---------------------------------------------------------------- registry

Builder = Callable[[SparkSession, str], DataFrame]


class Query(NamedTuple):
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL; None marks a rows-only query


_REGISTRY: dict[str, Query] = {}


def query(name: str, *, oracle: str | None):
    """Register the decorated builder as query ``name`` checked by the
    DuckDB ``oracle`` SQL (``oracle=None``: rows-only)."""
    def register(build: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} registered twice")
        _REGISTRY[name] = Query(name, build, oracle)
        return build
    return register


def queries() -> dict[str, Builder]:
    return {q.name: q.build for q in _REGISTRY.values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _REGISTRY.values()
            if q.oracle is not None}


# ----------------------------------------------------------------- queries


@query("extract_html_text", oracle=(
    "SELECT 'doc://' || doc_id AS url, 'Doc ' || doc_id AS title, "
    "text || chr(10) AS text FROM documents"))
def _q_extract_html_text(spark, sf_dir):
    pages = _pages(spark, sf_dir, _html_wrap())
    return extract(pages, mode="text").select("url", "title", "text")


# Boilerplate skeleton for the text-main (C6) oracle. Chosen so the
# Boilerpipe classification is data-independent for ANY document text:
# nav/footer are pure-link blocks (link density 1 -> always boilerplate),
# intro/outro are >40-word constants (content regardless of neighbors),
# and the document paragraph sits between them (content whether it has
# <=16 or >16 words, because its neighbors are both high-word content).
# simple_block_fusion can only merge equal-density neighbors, and a
# merged run keeps its density, so the nav/footer merge comparisons stay
# against the constant intro/outro densities (5.0 vs 12.0, 4.0 vs 11.67).
_BP_NAV = ('<div><a href="/">Home</a> <a href="/news">News</a> '
           '<a href="/sport">Sport</a> <a href="/weather">Weather</a> '
           '<a href="/tv">TV</a></div>')
_BP_INTRO = (
    "Editors publish a concise standing preface before every article "
    "so that readers arriving from the index page understand the "
    "section scope and the curation policy that selected this piece "
    "for inclusion in the daily digest distributed across all "
    "regional editions worldwide every single morning")
_BP_OUTRO = (
    "Readers who finished this article can continue onward to the "
    "archive where earlier digests remain available with identical "
    "formatting and with the same curation policy applied to every "
    "regional edition that the desk published during the previous "
    "twelve calendar months of continuous operation")
_BP_FOOTER = ('<div><a href="/about">About</a> '
              '<a href="/contact">Contact</a> <a href="/terms">Terms</a> '
              '<a href="/privacy">Privacy</a></div>')


@query("extract_main_text", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    f"'{_BP_INTRO}' || chr(10) || text || chr(10) || "
    f"'{_BP_OUTRO}' || chr(10) AS text FROM documents"))
def _q_extract_main_text(spark, sf_dir):
    """C6/G5 text-main (-T) oracle: Boilerpipe block classification must
    strip the nav/footer link blocks and keep intro + document text +
    outro, byte-exact (BoilerpipeContentHandler.java:246-323 emission;
    HtmlParserTest.java:392-406 semantics)."""
    html = F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body>" + _BP_NAV + "<p>" + _BP_INTRO
              + "</p><p>"),
        F.col("text"),
        F.lit("</p><p>" + _BP_OUTRO + "</p>" + _BP_FOOTER
              + "</body></html>")), "UTF-8")
    pages = _pages(spark, sf_dir, html)
    return extract(pages, mode="text-main").select("url", "text")


def _pdf_wrap_udf():
    """Deterministic per-row PDF builder covering six D1-D3 layout
    variants by doc_id%6: classic xref + Flate content (0), two text
    boxes in one content stream — the reading-order pin,
    PDF2XHTML.java:84-98 / PDFParserTest.java:147 (1), PDF 1.5
    ObjStm + xref-stream layout (2), an RC4 standard-security
    encrypted file opened with the empty user password —
    PDFParser.java:76-99 decrypt semantics (3), a 2-byte
    CID-encoded font resolved through its /ToUnicode CMap (4;
    untitled, like real embedded-subset files), and an AES-encrypted
    file, same empty-password degrade chain (5) — alternating V4/R4
    /AESV2 AES-128 and V5/R6 /AESV3 AES-256 (ISO 32000-2 Algorithm
    2.A/2.B) by doc_id%12; the extracted text is cipher-independent
    so the oracle is unchanged."""
    from tika_spark.fixtures.pdfgen import (make_pdf, make_pdf_cid,
                                            make_pdf_objstm)

    def build(i, text):
        text = text or ""
        if i % 6 == 1:
            return make_pdf(
                [[f"Document {i}", text, f"Column two of {i}",
                  "The end"]], title=f"Doc {i}", two_columns=True)
        elif i % 6 == 2:
            return make_pdf_objstm([f"Document {i}", text],
                                   title=f"Doc {i}")
        elif i % 6 == 3:
            return make_pdf([[f"Document {i}", text]],
                            title=f"Doc {i}", encrypt=True)
        elif i % 6 == 4:
            return make_pdf_cid([f"Document {i}", text])
        elif i % 6 == 5:
            return make_pdf(
                [[f"Document {i}", text]], title=f"Doc {i}",
                encrypt="aes" if i % 12 == 5 else "aes256")
        else:
            return make_pdf([[f"Document {i}", text]],
                            title=f"Doc {i}")
    return _by_id_text(build)


@query("extract_pdf_text", oracle=(
    "SELECT 'doc://' || doc_id || '.pdf' AS url, "
    "'application/pdf' AS mime, "
    "CASE WHEN doc_id % 6 = 4 THEN NULL "
    "ELSE 'Doc ' || doc_id END AS title, "
    "CASE doc_id % 6 WHEN 1 THEN "
    "'Document ' || doc_id || chr(10) || text || chr(10) || "
    "'Column two of ' || doc_id || chr(10) || 'The end' || "
    "chr(10) || chr(10) ELSE "
    "'Document ' || doc_id || chr(10) || text || chr(10) || "
    "chr(10) END AS text FROM documents"))
def _q_extract_pdf_text(spark, sf_dir):
    """D1-D3 oracle: parse generated PDFs (xref + object streams, Flate,
    Td/Tj interpretation, two-box reading order, Info title) and emit
    byte-exact text per url."""
    wrap = _pdf_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id"), F.col("text")),
                   ".pdf")
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


_GLOB_EXTS = [
    # spread across the widened 1138-extension table: curated web set,
    # office, ebooks, long-tail generated tier
    ("html", "text/html"), ("pdf", "application/pdf"),
    ("docx", "application/vnd.openxmlformats-officedocument."
             "wordprocessingml.document"),
    ("odt", "application/vnd.oasis.opendocument.text"),
    ("epub", "application/epub+zip"), ("chm", "application/vnd.ms-htmlhelp"),
    ("woff2", "font/woff2"), ("webp", "image/webp"),
    ("mkv", "video/x-matroska"), ("fb2", "application/x-fictionbook+xml"),
    ("pages", "application/vnd.apple.pages"),
    ("hqx", "application/mac-binhex40"),
    ("atomcat", "application/atomcat+xml"),
    ("ma", "application/mathematica"), ("wasm", "application/wasm"),
    ("sqlite", "application/x-sqlite3"),
]


@query("detect_by_name", oracle=(
    "WITH m AS (SELECT * FROM (VALUES "
    "(0, 'html', 'text/html'), "
    "(1, 'pdf', 'application/pdf'), "
    "(2, 'docx', 'application/vnd.openxmlformats-"
    "officedocument.wordprocessingml.document'), "
    "(3, 'odt', 'application/vnd.oasis.opendocument.text'), "
    "(4, 'epub', 'application/epub+zip'), "
    "(5, 'chm', 'application/vnd.ms-htmlhelp'), "
    "(6, 'woff2', 'font/woff2'), "
    "(7, 'webp', 'image/webp'), "
    "(8, 'mkv', 'video/x-matroska'), "
    "(9, 'fb2', 'application/x-fictionbook+xml'), "
    "(10, 'pages', 'application/vnd.apple.pages'), "
    "(11, 'hqx', 'application/mac-binhex40'), "
    "(12, 'atomcat', 'application/atomcat+xml'), "
    "(13, 'ma', 'application/mathematica'), "
    "(14, 'wasm', 'application/wasm'), "
    "(15, 'sqlite', 'application/x-sqlite3')"
    ") AS t(k, ext, mime)) "
    "SELECT 'http://h/d' || doc_id || '.' || m.ext AS url, "
    "m.mime AS mime FROM documents "
    "JOIN m ON m.k = doc_id % 16"))
def _q_detect_by_name(spark, sf_dir):
    """B5 oracle over the widened glob table: URL-only detection (no
    payload) resolves the extension through the 1138-entry suffix tier
    incl. the generated long tail (Patterns.java precedence)."""
    n = len(_GLOB_EXTS)
    ext = F.element_at(
        F.array(*[F.lit(e) for e, _ in _GLOB_EXTS]),
        (F.pmod("doc_id", F.lit(n)) + 1).cast("int"))
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://h/d"), F.col("doc_id"), F.lit("."), ext)
        .alias("url"),
        F.lit(None).cast("binary").alias("html"))
    out = extract(pages, mode="detect")
    return out.select("url", "mime")


_MAGIC_WIDE = [
    (b"PSID\x00\x02" + b"\x00" * 8, "audio/prs.sid"),
    (b"[KDE Desktop Entry]\nName=x\n", "application/x-kdelnk"),
    (b"diff --git a/x b/x\n", "text/x-diff"),
    (b"\\input texinfo @c manual\n", "application/x-texinfo"),
    (b"gimp xcf v011\x00", "image/x-xcf"),
    (b"ab-lh0-xxxxyyyy", "application/x-lharc"),
    (b"\x00" * 11 + b"must be converted with BinHex 4.0",
     "application/mac-binhex40"),
    (b"WordPro\x00" + b"\x00" * 8, "application/vnd.lotus-wordpro"),
    (b"<MIFFile 2015> # FrameMaker", "application/vnd.mif"),
    (b"\x00" * 8 + b"\x19\x04\x00\x10" + b"\x00" * 8,
     "application/vnd.symbian.install"),
    (b"%!PS-AdobeFont-1.0: Times", "application/x-font-type1"),
    (b"StartFontMetrics 4.1\n", "application/x-font-adobe-metric"),
    (b"\x00\x01\x00\x00Standard Jet DB", "application/x-msaccess"),
    (b".ra\xfd\x00\x03\x00", "audio/x-pn-realaudio"),
    (b"\x8bJNG\r\n\x1a\n", "video/x-jng"),
    (b"MOVI\x00\x00\x12\x34", "video/x-sgi-movie"),
    (b"\xf7\x02\x01\x83\x92\xc0", "application/x-dvi"),
    (b"\x00" * 20 + b"\xdc\xa7\xc4\xfd", "application/x-zoo"),
    (b"#!/bin/sh\necho hi\n", "application/x-sh"),
    (b"\x30\x26\xb2\x75\x8e\x66\xcf\x11" + b"\x00" * 24
     + "Windows Media Video 9".encode("utf-16-le"),
     "video/x-ms-wmv"),
]


@query("detect_magic_wide", oracle=(
    "WITH m AS (SELECT * FROM (VALUES "
    "(0, 'audio/prs.sid'), (1, 'application/x-kdelnk'), "
    "(2, 'text/x-diff'), (3, 'application/x-texinfo'), "
    "(4, 'image/x-xcf'), (5, 'application/x-lharc'), "
    "(6, 'application/mac-binhex40'), "
    "(7, 'application/vnd.lotus-wordpro'), "
    "(8, 'application/vnd.mif'), "
    "(9, 'application/vnd.symbian.install'), "
    "(10, 'application/x-font-type1'), "
    "(11, 'application/x-font-adobe-metric'), "
    "(12, 'application/x-msaccess'), "
    "(13, 'audio/x-pn-realaudio'), (14, 'video/x-jng'), "
    "(15, 'video/x-sgi-movie'), (16, 'application/x-dvi'), "
    "(17, 'application/x-zoo'), (18, 'application/x-sh'), "
    "(19, 'video/x-ms-wmv')) AS t(k, mime)) "
    "SELECT 'doc://' || doc_id AS url, m.mime AS mime "
    "FROM documents JOIN m ON m.k = doc_id % 20"))
def _q_detect_magic_wide(spark, sf_dir):
    """B2 oracle over the round-2 magic widening: 20 signature-prefix
    payloads on extension-less urls (glob tier can't help) must
    resolve by magic alone (tika-mimetypes.xml block parity)."""
    n = len(_MAGIC_WIDE)
    payload = F.element_at(
        F.array(*[F.lit(p) for p, _ in _MAGIC_WIDE]),
        (F.pmod("doc_id", F.lit(n)) + 1).cast("int"))
    pages = _pages(spark, sf_dir, payload)
    out = extract(pages, mode="detect")
    return out.select("url", "mime")


@query("detect_mime_counts", oracle=(
    "SELECT CASE doc_id % 16 WHEN 0 THEN 'text/html' "
    "WHEN 1 THEN 'application/pdf' WHEN 2 THEN 'text/plain' "
    "WHEN 3 THEN 'application/xml' WHEN 4 THEN 'image/webp' "
    "WHEN 5 THEN 'application/x-sqlite3' "
    "WHEN 6 THEN 'video/mp4' WHEN 7 THEN 'font/woff2' "
    "WHEN 8 THEN 'application/x-rar-compressed' "
    "WHEN 9 THEN 'audio/x-flac' WHEN 10 THEN 'audio/midi' "
    "WHEN 11 THEN 'application/x-shockwave-flash' "
    "WHEN 12 THEN 'application/vnd.ms-cab-compressed' "
    "WHEN 13 THEN 'video/mpeg' "
    "WHEN 14 THEN 'application/vnd.tcpdump.pcap' "
    "ELSE 'application/vnd.google-earth.kml+xml' END AS mime, "
    "COUNT(*)::BIGINT AS n FROM documents GROUP BY 1"))
def _q_detect_mime_counts(spark, sf_dir):
    out = extract(_pages_mixed(_docs(spark, sf_dir)), mode="text")
    return (out.groupBy("mime").agg(F.count("*").cast("long").alias("n"))
            .select("mime", "n"))


@query("extract_charset_meta", oracle=(
    "SELECT 'doc://' || doc_id AS url, CASE doc_id % 2 "
    "WHEN 0 THEN 'utf-8' ELSE 'iso-8859-1' END AS charset "
    "FROM documents WHERE lang = 'en'"))
def _q_extract_charset_meta(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    cs = F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit("utf-8")) \
          .otherwise(F.lit("iso-8859-1"))
    html = F.encode(F.concat(
        F.lit('<html><head><meta http-equiv="Content-Type" '
              'content="text/html; charset='), cs,
        F.lit('"/><title>T</title></head><body><p>'), F.col("text"),
        F.lit("</p></body></html>")), "UTF-8")  # en text is ascii-safe
    pages = docs.select(
        _doc_url().alias("url"),
        html.alias("html"))
    return extract(pages, mode="text").select("url", "charset")


_CS_VARIANTS = [("utf-8", "de"), ("windows-1251", "ru"), ("koi8-r", "ru"),
                ("iso-8859-7", "el"), ("windows-1256", "ar"),
                ("windows-1255", "he"), ("windows-1254", "tr"),
                ("tis-620", "th"), ("iso-8859-1", "fr"),
                ("iso-8859-2", "pl"),
                # ISO-2022 escape-designation tier (CharsetRecog_2022):
                # CN decodes through the in-repo RFC 1922 state decoder
                ("iso-2022-cn", "zh"), ("iso2022_kr", "ko"),
                # EBCDIC script tier (CharsetRecog_IBM424/IBM420):
                # cp420 decodes via the JDK-dumped CDRA-420 tables in
                # tika_spark.charset_cp420 (round-5 gap close)
                ("cp424", "he"), ("cp420", "ar")]

_ZH_GB = "中文测试 数据处理 系统设计 网络爬虫 文本抽取"
_KO = "안녕하세요 데이터 처리 시스템 설계 문서 추출"


def _charset_wrap_udf():
    """Meta-tag-free HTML page encoded in doc_id%12's charset — forces
    the statistical recognizer tier (C7) to decide."""
    from tika_spark import charset_cp420  # noqa: F401 (register cp420)
    from tika_spark.language.corpus import SEED_TEXT

    def iso2022cn(s: str) -> bytes:
        # GB2312 designation + SO, EUC bytes masked to 7-bit (RFC 1922)
        runs = []
        for word in s.split(" "):
            euc = word.encode("gb2312")
            runs.append(b"\x0e" + bytes(b & 0x7F for b in euc) + b"\x0f")
        return b"\x1b$)A" + b" ".join(runs)

    def build(i):
        from tika_spark import charset_cp420  # noqa: F401 — register
        codec, lang = _CS_VARIANTS[i % 14]    # cp420 in THIS worker
        if codec == "iso-2022-cn":
            return (b"<html><head><title>T</title></head>"
                    b"<body><p>" + iso2022cn(_ZH_GB)
                    + b"</p></body></html>")
        if codec == "iso2022_kr":
            return ("<html><head><title>T</title></head>"
                    "<body><p>" + _KO + "</p></body></html>"
                    ).encode("iso2022_kr")
        return ("<html><head><title>T</title></head><body><p>"
                + SEED_TEXT[lang] + "</p></body></html>"
                ).encode(codec, "ignore")
    return _by_id(build)


@query("extract_charset_statistical", oracle=(
    "SELECT 'doc://' || doc_id AS url, CASE doc_id % 14 "
    "WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1251' "
    "WHEN 2 THEN 'koi8-r' WHEN 3 THEN 'iso-8859-7' "
    "WHEN 4 THEN 'windows-1256' WHEN 5 THEN 'windows-1255' "
    "WHEN 6 THEN 'windows-1254' WHEN 7 THEN 'tis-620' "
    "WHEN 8 THEN 'iso-8859-1' WHEN 9 THEN 'iso-8859-2' "
    "WHEN 10 THEN 'iso-2022-cn' WHEN 11 THEN 'iso2022_kr' "
    "WHEN 12 THEN 'cp424' ELSE 'cp420' END "
    "AS charset FROM documents"))
def _q_extract_charset_statistical(spark, sf_dir):
    """C7 oracle: no meta tag, no declared type — the statistical
    recognizer cascade (BOM/UTF/MBCS/sbcs-ngram tables incl. the
    widened Arabic/Hebrew/Turkish set) must name the exact charset
    (CharsetDetector.java:119-136 / CharsetRecog_sbcs.java parity)."""
    wrap = _charset_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id")))
    return extract(pages, mode="text").select("url", "charset")


@query("extract_links", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    "(2 + doc_id % 2)::BIGINT AS n_links FROM documents"))
def _q_extract_links(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    extra = F.when(F.pmod("doc_id", F.lit(2)) == 1, F.concat(
        F.lit(' <a href="http://ex.com/'), F.col("doc_id").cast("string"),
        F.lit('/x">extra</a>'))).otherwise(F.lit(""))
    html = F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>T</title></head>'
              '<body><p>t <a href="http://ex.com/a">a</a>'
              ' <img src="http://ex.com/i.png" alt="im"/>'), extra,
        F.lit("</p></body></html>")), "UTF-8")
    pages = docs.select(
        _doc_url().alias("url"),
        html.alias("html"))
    out = extract(pages, mode="text")
    return out.select("url", F.size("links").cast("long").alias("n_links"))


@query("language_id", oracle=(
    "SELECT 'doc://' || doc_id AS url, lang AS lang_pred "
    "FROM documents WHERE lang <> 'zh'"))
def _q_language_id(spark, sf_dir):
    """G2 oracle: pages whose body is the deterministic seed corpus of
    the row's ground-truth language must identify exactly (27-profile
    3-gram model; LanguageIdentifierTest round-trip spirit). zh is
    excluded to mirror the reference's profile set (no CJK .ngp —
    3-gram profiles are meaningless for unsegmented text)."""
    from tika_spark.language.corpus import SEED_TEXT
    docs = _docs(spark, sf_dir).filter(F.col("lang") != "zh")
    seed = F.col("lang")
    for lg in ("de", "en", "es", "fr"):
        seed = F.when(F.col("lang") == lg, F.lit(SEED_TEXT[lg])) \
            .otherwise(seed)
    html = F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>L</title>'
              "</head><body><p>"), seed,
        F.lit("</p></body></html>")), "UTF-8")
    pages = docs.select(
        _doc_url().alias("url"),
        html.alias("html"))
    out = extract(pages, mode="text")
    return out.select("url", F.col("lang").alias("lang_pred"))


@query("language_spans", oracle=(
    # pair-cycled langs: span g of doc id has lang
    # LANGS[(id+g)%4] and min(2, k-2g) sentences, k = 2+id%3
    "WITH g AS (SELECT doc_id, 2 + doc_id % 3 AS k "
    "FROM documents), "
    "s AS (SELECT doc_id, k, gi FROM g CROSS JOIN "
    "(SELECT unnest(generate_series(0, 1)) AS gi) t "
    "WHERE gi * 2 < k) "
    "SELECT doc_id AS id, CAST(gi AS INT) AS span_idx, "
    "CASE (doc_id + gi) % 4 WHEN 0 THEN 'en' "
    "WHEN 1 THEN 'fr' WHEN 2 THEN 'de' ELSE 'es' END "
    "AS lang, "
    "LEAST(2, k - 2 * gi)::BIGINT AS n_sentences FROM s"))
def _q_language_spans(spark, sf_dir):
    """Sentence-level code-switching segmentation (language/spans.py
    language_spans): k = 2+id%3 seed sentences whose language cycles
    in pairs (LANGS[(id + j//2) % 4]); consecutive same-language
    sentences must merge into one span. Pins per-sentence 3-gram
    classification on the seed corpus (like language_id) plus the
    run-merge logic, in closed form."""
    from tika_spark.language.corpus import SEED_TEXT
    from tika_spark.language.spans import (language_spans,
                                           sentence_split)
    langs = ("en", "fr", "de", "es")
    sents = F.array(*[F.lit(sentence_split(SEED_TEXT[lg])[0])
                      for lg in langs])
    k = 2 + F.col("doc_id") % 3
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), (k - 1).cast("int")),
        lambda j: F.element_at(
            sents,
            ((F.col("doc_id") + F.floor(j / 2)) % 4 + 1)
            .cast("int"))))
    docs = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return language_spans(docs).select(
        "id", "span_idx", "lang", "n_sentences")


@query("outlinks", oracle=(
    "SELECT doc_id, 'http://example.com/d' || doc_id AS outlink "
    "FROM documents"))
def _q_outlinks(spark, sf_dir):
    docs = _docs(spark, sf_dir).withColumn(
        "text2", F.concat(F.col("text"), F.lit(" see http://example.com/d"),
                          F.col("doc_id").cast("string")))
    out = textstats.outlinks(docs, "text2")
    return out.select("doc_id",
                      F.element_at("outlinks", 1).alias("outlink"))


@query("summary_500", oracle=(
    "SELECT doc_id, substring(text, 1, 500) AS summary "
    "FROM documents"))
def _q_summary_500(spark, sf_dir):
    return textstats.summary(_docs(spark, sf_dir)).select(
        "doc_id", "summary")


@query("token_count", oracle=(
    f"SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens "
    "FROM documents"))
def _q_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", textstats.token_count(F.col("text")).cast("long")
        .alias("n_tokens"))


@query("quality_features", oracle=(
    "SELECT doc_id, "
    "length(text)::BIGINT AS n_chars_text, "
    "octet_length(encode(text))::BIGINT AS n_bytes_text, "
    f"len({_TOKS})::BIGINT AS n_tokens, "
    "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT "
    "AS n_alpha, "
    "length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT "
    "AS n_digit, "
    r"length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))"
    "::BIGINT AS n_punct, "
    f"len(list_filter({_TOKS}, x -> x IN {_STOP}))::BIGINT "
    "AS n_stopwords, "
    f"coalesce(list_max(list_transform({_TOKS}, x -> length(x))), "
    "0)::BIGINT AS max_token_len "
    "FROM documents"))
def _q_quality_features(spark, sf_dir):
    out = textstats.quality_features(_docs(spark, sf_dir))
    cols = ["n_chars_text", "n_bytes_text", "n_tokens", "n_alpha",
            "n_digit", "n_punct", "n_stopwords", "max_token_len"]
    return out.select("doc_id",
                      *[F.col(c).cast("long").alias(c) for c in cols])


@query("fingerprint_md5", oracle=(
    "SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', "
    "'g')) AS fp_md5 FROM documents"))
def _q_fingerprint_md5(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "fp_md5")


@query("word_topk", oracle=(
    f"SELECT word, COUNT(*)::BIGINT AS n FROM (SELECT "
    f"unnest({_TOKS}) AS word FROM documents) GROUP BY word "
    "ORDER BY n DESC, word ASC LIMIT 20"))
def _q_word_topk(spark, sf_dir):
    out = textstats.word_topk(_docs(spark, sf_dir), k=20)
    return out.select("word", F.col("n").cast("long").alias("n"))


@query("docs_best_passage", oracle=(
    "WITH d AS (SELECT doc_id AS id, "
    "string_split_regex(trim(text), '\\s+') AS toks, "
    "list_transform(string_split_regex(trim(text), '\\s+'), "
    "x -> lower(x)) AS low FROM documents), "
    "nn AS (SELECT COUNT(*)::DOUBLE AS n, "
    "SUM(CASE WHEN list_contains(low, 'vector') THEN 1 "
    "ELSE 0 END)::DOUBLE AS df0, "
    "SUM(CASE WHEN list_contains(low, 'merge') THEN 1 "
    "ELSE 0 END)::DOUBLE AS df1 FROM d), "
    "idf AS (SELECT CAST(round(ln((n + 1.0) / (df0 + 1.0)) "
    "* 1000000) AS BIGINT) AS i0, "
    "CAST(round(ln((n + 1.0) / (df1 + 1.0)) * 1000000) "
    "AS BIGINT) AS i1 FROM nn), "
    "w AS (SELECT id, toks, low, "
    "unnest(range(0, len(low), 8)) AS off FROM d), "
    "s AS (SELECT id, off, toks, "
    "i0 * len(list_filter(list_slice(low, off + 1, off + 24), "
    "x -> x = 'vector')) "
    "+ i1 * len(list_filter(list_slice(low, off + 1, off + 24), "
    "x -> x = 'merge')) AS score FROM w, idf), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY id "
    "ORDER BY score DESC, off ASC) AS rk FROM s) "
    "SELECT id, off::INT AS off, score::BIGINT AS score_micro, "
    "array_to_string(list_slice(toks, off + 1, off + 24), ' ') "
    "AS passage FROM r WHERE rk = 1 AND score > 0"))
def _q_docs_best_passage(spark, sf_dir):
    """Query-biased best-passage selection (retrieval.best_passage):
    idf-weighted query-term mass per 24-token window every 8 tokens,
    winner chosen in-row by array_max over (score, -offset) — no
    window explode, no shuffle beyond the one-row stats crossJoin.
    The oracle unnests the same windows and replays the arithmetic."""
    from tika_spark.analysis.retrieval import best_passage
    return best_passage(_docs(spark, sf_dir), "vector merge",
                        window_words=24, stride=8)


@query("corpus_build", oracle=(
    "WITH e AS (SELECT 'doc://' || doc_id AS url, "
    "'Doc ' || doc_id AS title, text || chr(10) AS text "
    "FROM documents), "
    "t AS (SELECT url, title, text, "
    "len(string_split_regex(trim(text), '\\s+')) AS n_tokens, "
    "md5(text) AS fingerprint FROM e), "
    "g AS (SELECT * FROM t WHERE n_tokens >= 5 "
    "AND n_tokens <= 100000), "
    "d AS (SELECT *, row_number() OVER (PARTITION BY "
    "fingerprint ORDER BY url) AS rn FROM g), "
    "s AS (SELECT url, title, n_tokens, fingerprint, "
    "('0x' || substring(md5(url), 1, 8))::BIGINT AS dr, text "
    "FROM d WHERE rn = 1) "
    "SELECT url, title, n_tokens::BIGINT AS n_tokens, "
    "fingerprint, CASE WHEN dr < 3435973836 THEN 'train' "
    "WHEN dr < 3865470566 THEN 'val' "
    "WHEN dr < 4294967296 THEN 'test' "
    "ELSE 'unassigned' END AS split, text FROM s"))
def _q_corpus_build(spark, sf_dir):
    """End-to-end one-call corpus build (pipeline/corpus.py): extract
    → token gates → exact dedup keep-first (one fingerprint shuffle)
    → md5-band split assignment, over the html-wrapped documents.
    The oracle composes the already-pinned replays of each stage."""
    from tika_spark.pipeline.corpus import build_corpus
    docs = _docs(spark, sf_dir)
    pages = docs.select(
        _doc_url().alias("url"),
        _html_wrap().alias("html"))
    # mirrored copies under a later-sorting scheme: identical bytes,
    # so dedup must keep the doc:// originals and drop every dup://
    mirrors = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit("dup://"), F.col("doc_id")).alias("url"),
        _html_wrap().alias("html"))
    return build_corpus(pages.unionByName(mirrors), min_words=5)


@query("dedup_containment", oracle=(
    "WITH base AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 10000, array_to_string("
    "list_slice(regexp_split_to_array(trim(text), '\\s+'), "
    "1, 25), ' ') FROM documents WHERE doc_id % 5 = 2), "
    "s AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, len(w) - 2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh "
    "FROM (SELECT doc_id, regexp_split_to_array(trim(text), "
    "'\\s+') AS w FROM base)), "
    "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "len(list_intersect(a.sh, b.sh))::BIGINT AS inter, "
    "len(a.sh)::BIGINT AS size_a, len(b.sh)::BIGINT AS size_b "
    "FROM s a JOIN s b ON a.doc_id < b.doc_id), "
    "c AS (SELECT id_a, id_b, inter, size_a, size_b, "
    "CASE WHEN size_a > 0 THEN 1000000 * inter // size_a "
    "ELSE 0 END AS cont_a_micro, "
    "CASE WHEN size_b > 0 THEN 1000000 * inter // size_b "
    "ELSE 0 END AS cont_b_micro FROM p) "
    "SELECT * FROM c WHERE cont_a_micro >= 900000 "
    "OR cont_b_micro >= 900000"))
def _q_dedup_containment(spark, sf_dir):
    """Asymmetric shingle-containment pairs (dedup.containment_pairs
    — Broder's second resemblance measure): every doc_id%5==2
    document gains a 25-word excerpt twin (id+10000) that symmetric
    Jaccard would miss; candidates ride a stop-shingle-capped
    inverted index, exact containment on candidates only. The
    all-pairs form lives ONLY in the DuckDB oracle."""
    from tika_spark.analysis.dedup import containment_pairs
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    exc = (docs.filter(F.col("doc_id") % 5 == 2)
           .select((F.col("doc_id") + 10000).alias("doc_id"),
                   F.array_join(F.slice(toks, 1, 25), " ")
                   .alias("text")))
    return containment_pairs(docs.unionByName(exc), threshold=0.9,
                             k=3, max_postings=200)


@query("frontier_crawl_traps", oracle=(
    "WITH u AS (SELECT doc_id, CASE doc_id % 5 "
    "WHEN 0 THEN 'http://h' || (doc_id % 7) || '.ex/a/p' "
    "|| doc_id "
    "WHEN 1 THEN 'http://h' || (doc_id % 7) "
    "|| '.ex/a/b/a/b/p' || doc_id "
    "WHEN 2 THEN 'http://h' || (doc_id % 7) "
    "|| '.ex/2020/2021/p' || doc_id "
    "WHEN 3 THEN 'http://h' || (doc_id % 7) || '.ex/p' "
    "|| doc_id || '?jsessionid=abc123' "
    "ELSE 'http://h' || (doc_id % 7) || '.ex/p' || doc_id "
    "|| '?q=' || repeat('x', 220) END AS url "
    "FROM documents), "
    "f AS (SELECT doc_id, url, regexp_extract(url, "
    "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) "
    "AS path, regexp_extract(url, '\\?([^#]*)', 1) "
    "AS query FROM u), "
    "g AS (SELECT doc_id, url, query, "
    "list_filter(string_split(path, '/'), x -> x <> '') "
    "AS segs FROM f), "
    "h AS (SELECT doc_id, url, "
    "(len(segs) - len(list_distinct(segs))) >= 2 "
    "AS r_repeat_seg, len(segs) > 20 AS r_deep_path, "
    "len(list_filter(segs, x -> regexp_matches(x, "
    "'^(19|20)[0-9]{2}$'))) >= 2 AS r_calendar, "
    "regexp_matches(lower(query), '(^|&)(phpsessid"
    "|jsessionid|sessionid|sid|cfid|cftoken)=') "
    "AS r_session_id, length(query) > 200 AS r_long_query "
    "FROM g) "
    "SELECT doc_id, url, r_repeat_seg, r_deep_path, "
    "r_calendar, r_session_id, r_long_query, "
    "r_repeat_seg OR r_deep_path OR r_calendar "
    "OR r_session_id OR r_long_query AS is_trap FROM h"))
def _q_frontier_crawl_traps(spark, sf_dir):
    """Crawler-trap URL flags (curation.crawl_trap_flags): five
    deterministic URL variants (clean, mirror-loop /a/b/a/b,
    calendar /2020/2021, jsessionid query, 220-char query tail);
    the oracle rebuilds the same URLs in SQL and replays every
    regex/array flag."""
    from tika_spark.analysis.curation import crawl_trap_flags
    host = F.concat(F.lit("http://h"), F.col("doc_id") % 7,
                    F.lit(".ex"))
    pid = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 5
    url = (F.when(v == 0, F.concat(host, F.lit("/a/p"), pid))
           .when(v == 1, F.concat(host, F.lit("/a/b/a/b/p"), pid))
           .when(v == 2, F.concat(host, F.lit("/2020/2021/p"), pid))
           .when(v == 3, F.concat(host, F.lit("/p"), pid,
                                  F.lit("?jsessionid=abc123")))
           .otherwise(F.concat(host, F.lit("/p"), pid, F.lit("?q="),
                               F.lit("x" * 220))))
    df = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return crawl_trap_flags(df).select(
        "doc_id", "url", "r_repeat_seg", "r_deep_path", "r_calendar",
        "r_session_id", "r_long_query", "is_trap")


@query("warc_revisit_census", oracle=(
    "WITH r AS (SELECT 'doc://' || doc_id AS url, "
    "lpad(doc_id::VARCHAR, 8, '0') AS warc_date, "
    "md5(text) AS digest FROM documents) "
    "SELECT url, warc_date, digest, "
    "row_number() OVER (PARTITION BY digest "
    "ORDER BY warc_date ASC, url ASC)::BIGINT AS capture_idx, "
    "row_number() OVER (PARTITION BY digest "
    "ORDER BY warc_date ASC, url ASC) > 1 AS is_revisit, "
    "COUNT(*) OVER (PARTITION BY digest)::BIGINT AS n_copies "
    "FROM r"))
def _q_warc_revisit_census(spark, sf_dir):
    """WARC revisit semantics (cdx.revisit_census): capture order and
    copy counts per payload digest — duplicate-text documents in the
    corpus become revisits of their first capture; one digest-keyed
    window, replayed exactly by the SQL oracle."""
    from tika_spark.sources.cdx import revisit_census
    recs = _docs(spark, sf_dir).select(
        _doc_url().alias("url"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0")
        .alias("warc_date"),
        F.md5(F.col("text")).alias("digest"))
    return revisit_census(recs).select(
        "url", "warc_date", "digest", "capture_idx", "is_revisit",
        "n_copies")


@query("docs_tfidf_keywords", oracle=(
    "WITH toks AS (SELECT doc_id, unnest(list_filter("
    "list_transform(string_split_regex(trim(text), '\\s+'), "
    "x -> lower(x)), x -> length(x) >= 3)) AS term "
    "FROM documents), "
    "tf AS (SELECT doc_id AS id, term, COUNT(*)::BIGINT AS tf "
    "FROM toks GROUP BY 1, 2), "
    "dft AS (SELECT term, COUNT(*)::BIGINT AS dft "
    "FROM tf GROUP BY 1), "
    "nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents), "
    "idf AS (SELECT term, CAST(round(ln(((SELECT n FROM nn) "
    "+ 1.0) / (dft + 1.0)) * 1000000) AS BIGINT) "
    "AS idf_micro FROM dft), "
    "s AS (SELECT tf.id, tf.term, tf.tf, "
    "tf.tf * idf.idf_micro AS score_micro "
    "FROM tf JOIN idf ON tf.term = idf.term), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY id "
    "ORDER BY score_micro DESC, term ASC) AS rk FROM s) "
    "SELECT id, term, tf, score_micro, rk FROM r "
    "WHERE rk <= 5"))
def _q_docs_tfidf_keywords(spark, sf_dir):
    """Per-document top-5 tf-idf keywords (textstats.tfidf_keywords):
    smoothed idf micro-rounded per term before the integer tf
    multiply, rank ties broken by term — the per-doc complement of
    word_topk, hash-exact vs the SQL replay."""
    return textstats.tfidf_keywords(_docs(spark, sf_dir), k=5)


@query("word_topk_by_lang", oracle=(
    "SELECT lang, word, n FROM ("
    "SELECT lang, word, COUNT(*)::BIGINT AS n, "
    "row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, "
    "word ASC) AS rk "
    f"FROM (SELECT lang, unnest({_TOKS}) AS word FROM documents) "
    "GROUP BY lang, word) WHERE rk <= 10"))
def _q_word_topk_by_lang(spark, sf_dir):
    out = textstats.word_topk(_docs(spark, sf_dir), k=10, by="lang")
    return out.select("lang", "word", F.col("n").cast("long").alias("n"))


@query("dedup_exact", oracle=(
    "SELECT doc_id, fp_md5 FROM ("
    "SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', "
    "'g')) AS fp_md5, row_number() OVER (PARTITION BY "
    "md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) "
    "ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1"))
def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


@query("dedup_ngram_jaccard", oracle=(
    "WITH s AS (SELECT doc_id, lang, "
    f"{_SHINGLES} AS sh FROM (SELECT doc_id, lang, {_TOKS} AS w "
    "FROM documents)) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(round(len(list_intersect(a.sh, b.sh))::DOUBLE "
    "/ (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) "
    "* 1000000) AS BIGINT) AS sim_micro "
    "FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.lang = b.lang "
    "WHERE CAST(round(len(list_intersect(a.sh, b.sh))::DOUBLE "
    "/ (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) "
    "* 1000000) AS BIGINT) >= 120000"))
def _q_dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.12,
                                     block_cols=("lang",))


@query("dedup_minhash_lsh", oracle=(
    "WITH s AS (SELECT doc_id, "
    f"{_SHINGLES} AS sh FROM (SELECT doc_id, {_TOKS} AS w "
    "FROM documents)) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(round(len(list_intersect(a.sh, b.sh))::DOUBLE "
    "/ (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) "
    "* 1000000) AS BIGINT) AS sim_micro "
    "FROM s a JOIN s b ON a.doc_id < b.doc_id "
    "WHERE CAST(round(len(list_intersect(a.sh, b.sh))::DOUBLE "
    "/ (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) "
    "* 1000000) AS BIGINT) >= 500000"))
def _q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-verified by shingle Jaccard.
    The output is oracle-checkable because the verify join filters
    candidates to true Jaccard >= threshold: it equals the all-pairs
    SQL answer whenever banding catches every qualifying pair.
    Threshold 0.5 keeps the oracle in the deterministic-capture
    regime at BOTH tested scales: the sf0.1 corpus carries two pairs
    at s = 0.125/0.136 whose s-curve capture probability
    P = 1-(1-s^4)^8 is ~0.2% — an exact-equality oracle at 0.12 is
    only valid by corpus luck (it held at sf0.01), while every pair
    >= 0.5 in both corpora sits at s >= 0.8 where the seeded bands
    verifiably catch all of them. The sub-knee regime is covered by
    the recall-form checks (streaming_neardup_recall, and the sf0.01
    banding-property pytest)."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


@query("dedup_simhash", oracle=(
    f"WITH {_SIMHASH_SIGS}, "
    "groups AS (SELECT sig, min(doc_id) AS rep, "
    "list_sort(list(doc_id)) AS ids FROM sigs GROUP BY sig), "
    "star AS (SELECT rep AS id_a, m AS id_b, "
    "0::BIGINT AS hamming FROM "
    "(SELECT rep, unnest(ids) AS m FROM groups "
    "WHERE len(ids) > 1) WHERE m <> rep), "
    "reppairs AS (SELECT a.rep AS id_a, b.rep AS id_b, "
    "bit_count(xor(a.sig, b.sig))::BIGINT AS hamming "
    "FROM groups a JOIN groups b ON a.rep < b.rep "
    "WHERE bit_count(xor(a.sig, b.sig)) <= 3) "
    "SELECT * FROM star UNION ALL SELECT * FROM reppairs"))
def _q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs at hamming <= 3 — EXACT by pigeonhole:
    4 x 16-bit chunks mean any pair within hamming 3 shares a chunk,
    so the blocked equi-join finds every qualifying pair and the
    DuckDB oracle (FNV-1a + bit-vote signature re-derived in SQL)
    matches hash-for-hash."""
    out = dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)
    return out.select("id_a", "id_b",
                      F.col("hamming").cast("long").alias("hamming"))


@query("dedup_clusters", oracle=(
    "WITH RECURSIVE s AS (SELECT doc_id, "
    f"{_SHINGLES} AS sh FROM (SELECT doc_id, {_TOKS} AS w "
    "FROM documents)), "
    "p AS (SELECT a.doc_id AS a, b.doc_id AS b "
    "FROM s a JOIN s b ON a.doc_id < b.doc_id "
    "WHERE len(list_intersect(a.sh, b.sh))::DOUBLE "
    "/ (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
    " >= 0.5), "
    "e AS (SELECT a, b FROM p UNION SELECT b, a FROM p), "
    "reach(id, r) AS ("
    "  SELECT a, a FROM e UNION SELECT a, b FROM e "
    "  UNION SELECT reach.id, e.b FROM reach "
    "  JOIN e ON reach.r = e.a), "
    "comp AS (SELECT id, min(r) AS cluster FROM reach "
    "GROUP BY id) "
    "SELECT d.doc_id AS id, "
    "coalesce(c.cluster, d.doc_id) AS cluster, "
    "coalesce(c.cluster, d.doc_id) = d.doc_id AS is_rep "
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id"))
def _q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering end-to-end: MinHash-LSH pairs → min-label
    connected components → one representative per cluster, singletons
    included. Oracle: DuckDB recursive CTE computing min-reachable-id
    over the exact all-pairs Jaccard graph. Threshold 0.5 — the
    deterministic-capture regime (see _q_dedup_minhash_lsh)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    return dedup.dedup_representatives(docs, pairs)


@query("dedup_embedding_cosine", oracle=(
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], "
    "b.embedding::DOUBLE[]) * 1000000) AS BIGINT) AS sim_micro "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "WHERE CAST(round(list_cosine_similarity(a.embedding::DOUBLE[],"
    " b.embedding::DOUBLE[]) * 1000000) AS BIGINT) >= 400000"))
def _q_dedup_embedding_cosine(spark, sf_dir):
    return similarity.cosine_pairs(_emb(spark, sf_dir), threshold=0.4)


@query("ann_topk", oracle=(
    "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS "
    "qv FROM embeddings WHERE vec_id < 5), "
    "b AS (SELECT vec_id, embedding::DOUBLE[] AS bv "
    "FROM embeddings), "
    "scored AS (SELECT query_id, vec_id, "
    "CAST(round(list_cosine_similarity(qv, bv) * 1000000) AS "
    "BIGINT) AS sim_micro FROM q CROSS JOIN b) "
    "SELECT query_id, vec_id, sim_micro, rank FROM ("
    "SELECT query_id, vec_id, sim_micro, row_number() OVER ("
    "PARTITION BY query_id ORDER BY sim_micro DESC, vec_id ASC) "
    "AS rank FROM scored) WHERE rank <= 10"))
def _q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = similarity.brute_force_topk(emb, queries_df, k=10)
    return out.select("query_id", "vec_id", "sim_micro",
                      F.col("rank").cast("long").alias("rank"))


@query("ann_lsh_topk", oracle=None)
def _q_ann_lsh_topk(spark, sf_dir):
    # rows-only: approximate path (bucket ring recall is tunable)
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_topk(emb, queries_df, dim=64, k=10)
    return out.select("query_id", "vec_id", "sim_micro",
                      F.col("rank").cast("long").alias("rank"))


_ANN_RECALL_SQL = (
    "SELECT vec_id AS query_id, TRUE AS recall_ok "
    "FROM embeddings WHERE vec_id < 5")


@query("ann_lsh_recall", oracle=_ANN_RECALL_SQL)
def _q_ann_lsh_recall(spark, sf_dir):
    """Checkable form of the approximate path: recall@10 of the
    hyperplane-LSH top-k against the exact brute-force top-k, joined in
    DataFrame land; the oracle pins every query clearing the recall
    floor (multiprobe ring sized for it)."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries_df, k=10) \
        .select("query_id", "vec_id")
    approx = similarity.lsh_topk(emb, queries_df, dim=64, k=10,
                                 n_planes=6, n_tables=8) \
        .select(F.col("query_id").alias("qid2"),
                F.col("vec_id").alias("vid2"))
    joined = exact.join(
        approx, (exact.query_id == approx.qid2)
        & (exact.vec_id == approx.vid2), "left")
    rec = (joined.groupBy("query_id")
           .agg(F.sum(F.when(F.col("vid2").isNotNull(), 1).otherwise(0))
                .alias("n_hit"))
           .select("query_id", (F.col("n_hit") >= 5).alias("recall_ok")))
    return rec


@query("ann_ivf_recall", oracle=_ANN_RECALL_SQL)
def _q_ann_ivf_recall(spark, sf_dir):
    """Checkable form of the IVF path: recall@10 of the KMeans-coarse-
    quantizer scan against the exact brute-force top-k (nprobe sized
    for the floor)."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries_df, k=10) \
        .select("query_id", "vec_id")
    approx = similarity.ivf_topk(emb, queries_df, k=10, nlist=16,
                                 nprobe=8) \
        .select(F.col("query_id").alias("qid2"),
                F.col("vec_id").alias("vid2"))
    joined = exact.join(
        approx, (exact.query_id == approx.qid2)
        & (exact.vec_id == approx.vid2), "left")
    return (joined.groupBy("query_id")
            .agg(F.sum(F.when(F.col("vid2").isNotNull(), 1).otherwise(0))
                 .alias("n_hit"))
            .select("query_id", (F.col("n_hit") >= 5).alias("recall_ok")))


@query("semdedup_prune", oracle=(
    "WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v "
    "FROM embeddings), "
    "c AS (SELECT id, list_position(v, list_max(v))::BIGINT "
    "AS cluster, v FROM v), "
    "p AS (SELECT DISTINCT b.id AS id FROM c a JOIN c b "
    "ON a.cluster = b.cluster AND a.id < b.id "
    "WHERE round(list_cosine_similarity(a.v, b.v) * 1000000) "
    ">= 400000) "
    "SELECT id, cluster, id NOT IN (SELECT id FROM p) AS keep "
    "FROM c"))
def _q_semdedup_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) semantic prune, hash-exact
    checkable end-to-end: the deterministic argmax coarse quantizer
    buckets vectors on their dominant component, within-cluster
    cosine>=0.4 dup groups keep only the min-id representative. The
    production path swaps in the KMeans quantizer (quantizer=
    'kmeans'), same prune machinery."""
    emb = _emb(spark, sf_dir)
    return similarity.semdedup(emb, threshold=0.4,
                               quantizer="argmax").select(
        "id", F.col("cluster").cast("long").alias("cluster"), "keep")


@query("ann_pq_recall", oracle=_ANN_RECALL_SQL)
def _q_ann_pq_recall(spark, sf_dir):
    """Checkable form of the product-quantization path: recall@10 of
    the PQ asymmetric-distance shortlist + exact re-rank against the
    brute-force top-k (m=8 subspaces, 16 centroids each — the
    FAISS-PQ retrieve-then-rerank shape where the index is m
    bytes/vector and full embeddings are touched only for the
    shortlist). The shortlist SCALES with the corpus
    (refine = max(6, n/100)·k): a fixed shortlist is a shrinking
    fraction of a growing corpus and recall decays — the sf0.1 sweep
    caught exactly that (4/10 hits on one query at refine=6) — while
    a constant fraction holds recall flat, the standard IVF/PQ
    operating doctrine."""
    emb = _emb(spark, sf_dir)
    refine = max(6, emb.count() // 100)
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries_df, k=10) \
        .select("query_id", "vec_id")
    approx = similarity.pq_topk(emb, queries_df, k=10, m=8, ks=16,
                                refine=refine) \
        .select(F.col("query_id").alias("qid2"),
                F.col("vec_id").alias("vid2"))
    joined = exact.join(
        approx, (exact.query_id == approx.qid2)
        & (exact.vec_id == approx.vid2), "left")
    return (joined.groupBy("query_id")
            .agg(F.sum(F.when(F.col("vid2").isNotNull(), 1).otherwise(0))
                 .alias("n_hit"))
            .select("query_id", (F.col("n_hit") >= 5).alias("recall_ok")))


@query("ann_ivfpq_recall", oracle=_ANN_RECALL_SQL)
def _q_ann_ivfpq_recall(spark, sf_dir):
    """Checkable form of the IVF-PQ composite (the FAISS IVF+PQ
    retrieve-then-rerank architecture): recall@10 against brute force
    with an 8/16-cluster probe bounding the ADC scan and the exact
    re-rank touching shortlist rows only. Shortlist scales with the
    corpus like ann_pq_recall (constant-fraction doctrine)."""
    emb = _emb(spark, sf_dir)
    refine = max(6, emb.count() // 100)
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries_df, k=10) \
        .select("query_id", "vec_id")
    approx = similarity.ivfpq_topk(emb, queries_df, k=10, nlist=16,
                                   nprobe=8, m=8, ks=16, refine=refine) \
        .select(F.col("query_id").alias("qid2"),
                F.col("vec_id").alias("vid2"))
    joined = exact.join(
        approx, (exact.query_id == approx.qid2)
        & (exact.vec_id == approx.vid2), "left")
    return (joined.groupBy("query_id")
            .agg(F.sum(F.when(F.col("vid2").isNotNull(), 1).otherwise(0))
                 .alias("n_hit"))
            .select("query_id", (F.col("n_hit") >= 5).alias("recall_ok")))


def _png_pixels_wrap_udf():
    """Solid-color image per document row — PNG (real IDAT) for
    id%4==0, GIF (real LZW stream + palette) for id%4==1, JPEG
    (real Huffman entropy coding, solid gray — baseline for id%8==2,
    progressive SOF2 scan script for id%8==6) for id%4==2,
    TIFF (real TIFF-variant LZW + Predictor-2 differencing) for
    id%4==3 — dimensions and color derived from doc_id so every
    downstream statistic is exactly predictable regardless of codec.
    The JPEG gray value reconstructs to the DC-quantization closed
    form (jpegcodec.solid_gray_decoded_value) the oracle replays in
    SQL; the lossless codecs reproduce the color exactly."""
    import numpy as np

    from tika_spark.analysis.jpegcodec import jpeg_bytes
    from tika_spark.analysis.pixels import gif_bytes, png_bytes, tiff_bytes

    def build(i):
        w, h = 4 + i % 13, 3 + (i * 5) % 7
        color = (i % 256, (i * 3) % 256, (i * 7) % 256)
        if i % 4 == 0:
            return png_bytes(
                np.full((h, w, 3), color, dtype=np.uint8))
        elif i % 4 == 1:
            return gif_bytes(
                np.zeros((h, w), dtype=np.uint8),
                np.array([color], dtype=np.uint8))
        elif i % 4 == 2:
            # alternate baseline / progressive (SOF2) layouts:
            # same quantized coefficients, same closed form
            return jpeg_bytes(
                np.full((h, w, 1), i % 256, dtype=np.uint8),
                quality=50, progressive=(i % 8 == 6))
        else:
            return tiff_bytes(
                np.full((h, w, 3), color, dtype=np.uint8),
                compression=5, predictor=2)
    return _by_id(build)


@query("media_pixel_stats", oracle=(
    # JPEG rows (id%4=2) are solid gray v=id%256 at quality
    # 50 (Q_DC=16): decoded pixel = 128 ± 2*((8*|v-128|+8)//16)
    # clamped to 255 — jpegcodec.solid_gray_decoded_value.
    # PNG/GIF/TIFF rows are lossless: exact color.
    "SELECT doc_id AS id, "
    "(4 + doc_id % 13)::BIGINT AS width, "
    "(3 + (doc_id * 5) % 7)::BIGINT AS height, "
    "CASE WHEN doc_id % 4 = 2 THEN LEAST(255, "
    "CASE WHEN doc_id % 256 >= 128 "
    "THEN 128 + 2 * ((8 * (doc_id % 256 - 128) + 8) // 16) "
    "ELSE 128 - 2 * ((8 * (128 - doc_id % 256) + 8) // 16) "
    "END) * 1000000 "
    "ELSE (doc_id % 256) * 1000000 END AS mean_r, "
    "CASE WHEN doc_id % 4 = 2 THEN NULL "
    "ELSE ((doc_id * 3) % 256) * 1000000 END AS mean_g, "
    "CASE WHEN doc_id % 4 = 2 THEN NULL "
    "ELSE ((doc_id * 7) % 256) * 1000000 END AS mean_b "
    "FROM documents"))
def _q_media_pixel_stats(spark, sf_dir):
    """Full image decode, distributed: from-scratch PNG unfiltering,
    GIF LZW, and baseline-JPEG Huffman+IDCT (analysis/pixels.py,
    analysis/jpegcodec.py) over real compressed payloads;
    solid-color fixtures make the per-channel micro-unit means
    exactly predictable — for JPEG via the DC-quantization closed
    form — so the pixel path is hash-checkable end to end."""
    from tika_spark.analysis.pixels import image_pixel_stats
    media = _media(
        spark, sf_dir, _png_pixels_wrap_udf(),
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit("image/png"))
        .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit("image/gif"))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit("image/jpeg"))
        .otherwise(F.lit("image/tiff")))
    return image_pixel_stats(media).select(
        "id", *_dims_means("mean_r", "mean_g", "mean_b"))


@query("media_webp_stats", oracle=(
    # lossless VP8L round-trip of a two-color split image:
    # per-channel mean = (left + right) * 500000 exactly,
    # whatever wire path (palette/predictor/cache) carried it
    "SELECT doc_id AS id, 8::BIGINT AS width, "
    "(4 + doc_id % 3)::BIGINT AS height, "
    "(((doc_id * 7) % 256 + (doc_id * 13 + 5) % 256) "
    "* 500000)::BIGINT AS mean_r, "
    "(((doc_id * 3) % 256 + (doc_id * 11 + 1) % 256) "
    "* 500000)::BIGINT AS mean_g, "
    "(((doc_id * 5 + 2) % 256 + (doc_id * 17 + 9) % 256) "
    "* 500000)::BIGINT AS mean_b "
    "FROM documents"))
def _q_media_webp_stats(spark, sf_dir):
    """Full WebP lossless (VP8L) decode, distributed
    (analysis/webp.py): each row is a genuine RIFF/WEBP bitstream of
    a two-color split image, cycling the fixture encoder's five wire
    paths — plain literals, color-indexing palette with sub-byte
    bundling, subtract-green, a uniform predictor transform (mode
    rotates through all 14), and color-cache + LZ77 row references.
    Lossless round-trip makes the per-channel micro-unit means
    closed-form regardless of path; wire-level behavior is pinned by
    tests/test_webp.py."""
    import numpy as np

    from tika_spark.analysis.pixels import image_pixel_stats
    from tika_spark.analysis.webp import webp_bytes

    def build(i):
        h = 4 + i % 3
        img = np.zeros((h, 8, 4), dtype=np.uint8)
        img[:, :4] = ((i * 7) % 256, (i * 3) % 256,
                      (i * 5 + 2) % 256, 255)
        img[:, 4:] = ((i * 13 + 5) % 256, (i * 11 + 1) % 256,
                      (i * 17 + 9) % 256, 255)
        v = i % 5
        if v == 0:
            return webp_bytes(img)
        elif v == 1:
            return webp_bytes(img, palette=True)
        elif v == 2:
            return webp_bytes(img, subtract_green=True)
        elif v == 3:
            return webp_bytes(img, predictor=i % 14)
        return webp_bytes(img, cache_bits=4, row_refs=True)

    media = _media(spark, sf_dir, _by_id(build), "image/webp")
    return image_pixel_stats(media).select(
        "id", *_dims_means("mean_r", "mean_g", "mean_b"))


@query("media_webp_lossy_stats", oracle=(
    # lossy VP8 DC-exact round-trip of a solid image: the
    # decoder output is the solid color pushed through the
    # module's integer BT.601 RGB->YUV->RGB pairing (floor
    # shifts == FLOOR(x/256)); loop filter and partition
    # variants are identity on solid frames
    "WITH base AS (SELECT doc_id AS id, "
    "(doc_id * 7) % 256 AS r, (doc_id * 3) % 256 AS g, "
    "(doc_id * 5 + 2) % 256 AS b FROM documents), "
    "yuv AS (SELECT id, "
    "CAST(FLOOR((66*r + 129*g + 25*b + 128) / 256.0) AS "
    "BIGINT) + 16 AS y, "
    "CAST(FLOOR((-38*r - 74*g + 112*b + 128) / 256.0) AS "
    "BIGINT) + 128 AS u, "
    "CAST(FLOOR((112*r - 94*g - 18*b + 128) / 256.0) AS "
    "BIGINT) + 128 AS v FROM base) "
    "SELECT id, 16::BIGINT AS width, "
    "(16 + (id % 2) * 16)::BIGINT AS height, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "+ 409*(v-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_r, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "- 100*(u-128) - 208*(v-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_g, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "+ 516*(u-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_b "
    "FROM yuv"))
def _q_media_webp_lossy_stats(spark, sf_dir):
    """Full WebP *lossy* (VP8 keyframe) decode, distributed
    (analysis/vp8.py): each row is a genuine RIFF/WEBP VP8 bitstream
    — boolean-arithmetic-coded headers/modes/tokens, integer
    IDCT/WHT reconstruction, deblocking filter. Fixtures are solid
    colors through the DC-exact encode path (quantized coefficients
    chosen so reconstruction equals the target YUV exactly), so the
    per-channel means are closed-form through the module's integer
    BT.601 YUV pairing; variants cycle the normal + simple loop
    filters and a 2-partition token layout (all identity on solid
    frames). Wire-level behavior is pinned by tests/test_vp8.py."""
    import numpy as np

    from tika_spark.analysis.pixels import image_pixel_stats
    from tika_spark.analysis.vp8 import webp_lossy_from_rgb

    def build(i):
        h = 16 + (i % 2) * 16
        img = np.zeros((h, 16, 3), dtype=np.uint8)
        img[:] = ((i * 7) % 256, (i * 3) % 256, (i * 5 + 2) % 256)
        v = i % 4
        kw = {}
        if v == 1:
            kw = {"filter_level": 32}
        elif v == 2:
            kw = {"filter_level": 20, "filter_type": 1}
        elif v == 3:
            kw = {"partitions": 2}
        return webp_lossy_from_rgb(img, exact=True, **kw)[0]

    media = _media(spark, sf_dir, _by_id(build), "image/webp")
    return image_pixel_stats(media).select(
        "id", *_dims_means("mean_r", "mean_g", "mean_b"))


@query("media_webp_alpha_stats", oracle=(
    # same BT.601 round-trip algebra as media_webp_lossy_stats
    # for RGB; alpha is lossless -> exact
    "WITH base AS (SELECT doc_id AS id, "
    "(doc_id * 7) % 256 AS r, (doc_id * 3) % 256 AS g, "
    "(doc_id * 5 + 2) % 256 AS b, "
    "(doc_id * 11 + 3) % 256 AS a FROM documents), "
    "yuv AS (SELECT id, a, "
    "CAST(FLOOR((66*r + 129*g + 25*b + 128) / 256.0) AS "
    "BIGINT) + 16 AS y, "
    "CAST(FLOOR((-38*r - 74*g + 112*b + 128) / 256.0) AS "
    "BIGINT) + 128 AS u, "
    "CAST(FLOOR((112*r - 94*g - 18*b + 128) / 256.0) AS "
    "BIGINT) + 128 AS v FROM base) "
    "SELECT id, 16::BIGINT AS width, 16::BIGINT AS height, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "+ 409*(v-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_r, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "- 100*(u-128) - 208*(v-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_g, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "+ 516*(u-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_b, "
    "a * 1000000 AS mean_a "
    "FROM yuv"))
def _q_media_webp_alpha_stats(spark, sf_dir):
    """Extended-WebP (VP8X) lossy decode with a real ALPH chunk:
    VP8 color through the DC-exact path plus a lossless alpha plane
    (ids cycle raw vs VP8L-green-channel compression and all four
    prediction filters — identity on solid planes, pinned separately
    by tests/test_vp8.py TestAlpha). mean_a is exact; RGB means are
    the BT.601 round-trip closed form."""
    import numpy as np

    from tika_spark.analysis.pixels import image_pixel_stats
    from tika_spark.analysis.vp8 import webp_lossy_rgba

    def build(i):
        img = np.zeros((16, 16, 4), dtype=np.uint8)
        img[:] = ((i * 7) % 256, (i * 3) % 256,
                  (i * 5 + 2) % 256, (i * 11 + 3) % 256)
        return webp_lossy_rgba(img, exact=True, alpha_compression=i % 2,
                               alpha_filter=i % 4)[0]

    media = _media(spark, sf_dir, _by_id(build), "image/webp")
    return image_pixel_stats(media).select(
        "id", *_dims_means("mean_r", "mean_g", "mean_b", "mean_a"))


@query("media_webp_anim_frames", oracle=(
    # 8x6 canvas: frame 0 solid c0; frame 1 paints a 4x2
    # sub-rect c1 (8 of 48 px); odd ids add a solid c2 frame.
    # mean = round-half-up of the pixel sum over 48 px.
    "SELECT doc_id AS id, fi AS frame_idx, "
    "(2 + doc_id % 2)::BIGINT AS n_frames, "
    "8::BIGINT AS width, 6::BIGINT AS height, "
    "(CASE fi WHEN 0 THEN ((doc_id * 7) % 256) * 1000000 "
    "WHEN 1 THEN ((40 * ((doc_id * 7) % 256) "
    "+ 8 * ((doc_id * 13 + 5) % 256)) * 1000000 + 24) // 48 "
    "ELSE ((doc_id * 19 + 11) % 256) * 1000000 END)"
    "::BIGINT AS mean_r, "
    "(CASE fi WHEN 0 THEN ((doc_id * 3) % 256) * 1000000 "
    "WHEN 1 THEN ((40 * ((doc_id * 3) % 256) "
    "+ 8 * ((doc_id * 11 + 1) % 256)) * 1000000 + 24) // 48 "
    "ELSE ((doc_id * 23 + 3) % 256) * 1000000 END)"
    "::BIGINT AS mean_g, "
    "(CASE fi WHEN 0 THEN ((doc_id * 5 + 2) % 256) * 1000000 "
    "WHEN 1 THEN ((40 * ((doc_id * 5 + 2) % 256) "
    "+ 8 * ((doc_id * 17 + 9) % 256)) * 1000000 + 24) // 48 "
    "ELSE ((doc_id * 29 + 7) % 256) * 1000000 END)"
    "::BIGINT AS mean_b "
    "FROM documents CROSS JOIN "
    "(SELECT UNNEST([0, 1, 2]) AS fi) u "
    "WHERE fi < 2 + doc_id % 2"))
def _q_media_webp_anim_frames(spark, sf_dir):
    """Animated-WebP frame sampling: VP8X/ANMF demux + VP8L decode +
    canvas compositing (analysis/webp.py webp_anim_frames) through
    the shared video frame-stats stage, one row per frame. Frame 0
    paints the full 8x6 canvas, frame 1 overwrites (even ids) or
    alpha-blends an opaque sub-rect (odd ids — mathematically the
    same, exercising the blend path), odd ids add a third full
    frame; all means are closed-form. Blending/disposal arithmetic
    beyond the opaque case is pinned by tests/test_webp.py."""
    import numpy as np

    from tika_spark.analysis.webp import webp_anim_bytes

    def build(i):
        c0 = ((i * 7) % 256, (i * 3) % 256, (i * 5 + 2) % 256)
        c1 = ((i * 13 + 5) % 256, (i * 11 + 1) % 256,
              (i * 17 + 9) % 256)
        c2 = ((i * 19 + 11) % 256, (i * 23 + 3) % 256,
              (i * 29 + 7) % 256)
        f0 = np.full((6, 8, 4), c0 + (255,), dtype=np.uint8)
        f1 = np.full((2, 4, 4), c1 + (255,), dtype=np.uint8)
        frames = [(f0, 0, 0, 0, 1), (f1, 2, 2, 0, i % 2)]
        if i % 2:
            f2 = np.full((6, 8, 4), c2 + (255,), dtype=np.uint8)
            frames.append((f2, 0, 0, 0, 1))
        return webp_anim_bytes(frames, 8, 6)

    media = _media(spark, sf_dir, _by_id(build))
    return sample_frame_stats(media, every=1).select(
        "id", F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("n_frames").cast("long").alias("n_frames"),
        *_dims_means("mean_r", "mean_g", "mean_b"))


def _pcm_wav_wrap_udf():
    """Mono audio per document row. Even ids: a square wave with
    amplitude pinned ODD (A = 1001 + 2·(id%10000)) so A·1e6/32768
    never lands on a rounding boundary — RMS and peak of an
    alternating ±A signal are exactly A/full-scale; carried as WAV
    PCM16 for id%4==0 and as FLAC (real fixed-order-2 prediction +
    Rice residuals, STREAMINFO-MD5 self-verified) for id%4==2 — the
    lossless codec leaves the oracle formula untouched. Odd ids:
    G.711 μ-law (format tag 7) holding one constant code c = id%256 —
    the expanded linear magnitude has the closed form
    ((c̄%16)·8 + 132)·2^((c̄//16)%8) − 132 with c̄ = 255−c, which the
    oracle replays in SQL."""
    import numpy as np

    from tika_spark.analysis.flac import flac_bytes
    from tika_spark.analysis.pcm import wav_bytes, wav_bytes_g711

    def build(i):
        frames = 800 + 2 * (i % 50)
        if i % 2 == 0:
            amp = 1001 + 2 * (i % 10000)
            wave = np.tile(np.array([amp, -amp], dtype=np.int16),
                           frames // 2)
            if i % 4 == 0:
                return wav_bytes(wave, 8000)
            else:
                return flac_bytes(wave, 8000, mode="fixed2",
                                  rice_param=13)
        else:
            codes = np.full(frames, i % 256, dtype=np.uint8)
            return wav_bytes_g711(codes, 8000, law="ulaw")
    return _by_id(build)


@query("media_pcm_stats", oracle=(
    # odd ids: constant μ-law code c=id%256; linear magnitude
    # = ((ū%16)*8+132) << ((ū//16)%8) - 132 with ū = 255-c
    "WITH g AS (SELECT doc_id, 255 - doc_id % 256 AS u "
    "FROM documents), m AS (SELECT doc_id, "
    "((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132 "
    "AS mag FROM g) "
    "SELECT d.doc_id AS id, CAST(1 AS BIGINT) AS n_channels, "
    "CAST(8000 AS BIGINT) AS sample_rate, "
    "(800 + 2 * (d.doc_id % 50))::BIGINT AS n_samples, "
    "((800 + 2 * (d.doc_id % 50)) * 1000 // 8000)::BIGINT "
    "AS duration_ms, "
    "CASE WHEN d.doc_id % 2 = 1 THEN "
    "floor(m.mag * 1000000.0 / 32768 + 0.5)::BIGINT ELSE "
    "floor((1001 + 2 * (d.doc_id % 10000)) * 1000000.0 / 32768 "
    "+ 0.5)::BIGINT END AS rms_micro, "
    "CASE WHEN d.doc_id % 2 = 1 THEN "
    "floor(m.mag * 1000000.0 / 32768 + 0.5)::BIGINT ELSE "
    "floor((1001 + 2 * (d.doc_id % 10000)) * 1000000.0 / 32768 "
    "+ 0.5)::BIGINT END AS peak_micro "
    "FROM documents d JOIN m ON m.doc_id = d.doc_id"))
def _q_media_pcm_stats(spark, sf_dir):
    """Full audio decode, distributed: RIFF/WAVE PCM16 samples
    through analysis/pcm.py with exact integer-sum statistics."""
    return _pcm_stats(_media(
        spark, sf_dir, _pcm_wav_wrap_udf(),
        F.when(F.pmod("doc_id", F.lit(4)) == 2, F.lit("audio/flac"))
        .otherwise(F.lit("audio/wav"))))


@query("media_mp3_stats", oracle=(
    # silent multi-frame Layer III cycling all three Table
    # B.8 scalefactor-band geometries: structure closed-form,
    # samples exactly zero through the linear filterbank
    "SELECT doc_id AS id, "
    "(1 + doc_id % 2)::BIGINT AS n_channels, "
    "(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 "
    "ELSE 32000 END)::BIGINT AS sample_rate, "
    "((1 + doc_id % 4) * 1152)::BIGINT AS n_samples, "
    "((1 + doc_id % 4) * 1152 * 1000 // "
    "(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 "
    "ELSE 32000 END))::BIGINT AS duration_ms, "
    "0::BIGINT AS rms_micro, 0::BIGINT AS peak_micro "
    "FROM documents"))
def _q_media_mp3_stats(spark, sf_dir):
    """From-scratch MPEG-1 Layer III full decode, distributed
    (analysis/mp3codec.py): each row is a genuine multi-frame MP3 —
    cycling all three Table B.8 sample-rate geometries, varying
    frame count, mono/stereo, bitrate, scalefac_compress,
    nonzero scalefactors, and real count1 Huffman codes — whose
    spectra are all zero, so the closed-form oracle is exact
    (silence survives the linear filterbank bit-exactly) while the
    decoder must still parse headers/side info, Huffman-decode the
    count1 run, and run requantize→IMDCT→synthesis end to end."""
    import numpy as np

    from tika_spark.analysis.mp3codec import (BITRATES_L3,
                                              mp3_bytes)

    def build(i):
        n_frames = 1 + i % 4
        nch = 1 + i % 2
        z = np.zeros(576, dtype=np.int64)
        frame = [[z] * nch, [z] * nch]
        return mp3_bytes(
            [frame] * n_frames,
            rate=(44100, 48000, 32000)[i % 3],
            mode="mono" if nch == 1 else "stereo",
            bitrate=BITRATES_L3[1 + i % 14],
            count1_zeros=16 + i % 5,
            scalefac_compress=5 + i % 11,
            scalefactors=[1] * 21,
            scfsi=(1, 0, 1, 0) if i % 3 == 0 else (0,) * 4)

    return _pcm_stats(_media(spark, sf_dir, _by_id(build), "audio/mpeg"))


@query("media_mp2_stats", oracle=(
    # silent multi-frame Layer II cycling all four Annex B
    # allocation tables: structure closed-form, samples
    # exactly zero (mid-code) through the linear filterbank
    "SELECT doc_id AS id, "
    "(CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END)"
    "::BIGINT AS n_channels, "
    "(CASE doc_id % 4 WHEN 0 THEN 48000 WHEN 1 THEN 44100 "
    "WHEN 2 THEN 44100 ELSE 32000 END)"
    "::BIGINT AS sample_rate, "
    "((1 + doc_id % 3) * 1152)::BIGINT AS n_samples, "
    "((1 + doc_id % 3) * 1152 * 1000 // "
    "(CASE doc_id % 4 WHEN 0 THEN 48000 WHEN 1 THEN 44100 "
    "WHEN 2 THEN 44100 ELSE 32000 END))"
    "::BIGINT AS duration_ms, "
    "0::BIGINT AS rms_micro, 0::BIGINT AS peak_micro "
    "FROM documents"))
def _q_media_mp2_stats(spark, sf_dir):
    """From-scratch MPEG-1 Layer II full decode, distributed
    (analysis/mp2codec.py), reached through the layer-sniffing
    audio/mpeg front door (decode_mpeg_audio): each row is a genuine
    multi-frame MP2 stream cycling through all four Annex B
    allocation tables (B.2a at 48 kHz, B.2b at 44.1 kHz stereo, the
    low-rate B.2c/B.2d at <=48 kbps/ch), varying frame count, scfsi
    sharing pattern and Table B.1 scalefactor index. All subband
    targets are zero — exactly representable in every Layer II
    quantizer (mid-code) — so the closed-form oracle is exact while
    the decoder still walks allocation, scfsi, both scalefactor
    layouts, grouped/ungrouped sample codes, dequant and the 32-band
    synthesis filterbank end to end. Nonzero-value bit-exactness is
    pinned by tests/test_mp2.py."""
    import numpy as np

    from tika_spark.analysis.mp2codec import mp2_bytes

    def build(i):
        v = i % 4
        mode, rate, bitrate = (
            ("mono", 48000, 192), ("stereo", 44100, 320),
            ("mono", 44100, 48), ("mono", 32000, 48))[v]
        nch = 2 if mode == "stereo" else 1
        n_frames = 1 + i % 3
        z = np.zeros((36, 32, nch) if nch == 2 else (36, 32))
        return mp2_bytes(
            [z] * n_frames, rate=rate, mode=mode,
            bitrate=bitrate, scalefactor_idx=(i * 7) % 63,
            scfsi=i % 4)

    return _pcm_stats(_media(spark, sf_dir, _by_id(build), "audio/mpeg"))


@query("media_mp1_stats", oracle=(
    # silent multi-frame Layer I varying rate/mode/bitrate:
    # structure closed-form, samples exactly zero (mid-code)
    # through the linear filterbank
    "SELECT doc_id AS id, "
    "(CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END)"
    "::BIGINT AS n_channels, "
    "(CASE doc_id % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 "
    "ELSE 32000 END)::BIGINT AS sample_rate, "
    "((1 + doc_id % 2) * 384)::BIGINT AS n_samples, "
    "((1 + doc_id % 2) * 384 * 1000 // "
    "(CASE doc_id % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 "
    "ELSE 32000 END))::BIGINT AS duration_ms, "
    "0::BIGINT AS rms_micro, 0::BIGINT AS peak_micro "
    "FROM documents"))
def _q_media_mp1_stats(spark, sf_dir):
    """From-scratch MPEG-1 Layer I full decode, distributed
    (analysis/mp2codec.py decode_mp1), reached through the
    layer-sniffing audio/mpeg front door: each row is a genuine
    multi-frame Layer I stream varying sample rate, channel mode,
    bitrate, frame count and Table B.1 scalefactor index. Subband
    targets are zero (mid-code of every 2^k - 1 quantizer), so the
    closed-form oracle is exact while the decoder still walks the
    4-bit allocation, per-subband scalefactors, k-bit sample codes,
    dequant and the shared 32-band synthesis filterbank end to end.
    Nonzero-value bit-exactness is pinned by tests/test_mp2.py
    (TestLayerI vs an independent plain-loop reference)."""
    import numpy as np

    from tika_spark.analysis.mp2codec import mp1_bytes

    def build(i):
        mode, rate, bitrate = (
            ("mono", 48000, 192), ("stereo", 44100, 448),
            ("mono", 32000, 288))[i % 3]
        nch = 2 if mode == "stereo" else 1
        n_frames = 1 + i % 2
        z = np.zeros((12, 32, nch) if nch == 2 else (12, 32))
        return mp1_bytes(
            [z] * n_frames, rate=rate, mode=mode,
            bitrate=bitrate, scalefactor_idx=(i * 5) % 63)

    return _pcm_stats(_media(spark, sf_dir, _by_id(build), "audio/mpeg"))


@query("media_aac_stats", oracle=(
    # silent multi-frame ADTS AAC-LC: structure closed-form,
    # samples exactly zero through the linear tool chain
    "SELECT doc_id AS id, "
    "(1 + doc_id % 2)::BIGINT AS n_channels, "
    "(CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 44100 END)"
    "::BIGINT AS sample_rate, "
    "((1 + doc_id % 3) * 1024)::BIGINT AS n_samples, "
    "((1 + doc_id % 3) * 1024 * 1000 // "
    "(CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 44100 END))"
    "::BIGINT AS duration_ms, "
    "0::BIGINT AS rms_micro, 0::BIGINT AS peak_micro "
    "FROM documents"))
def _q_media_aac_stats(spark, sf_dir):
    """From-scratch ADTS AAC-LC full decode, distributed
    (analysis/aaccodec.py): each row is a genuine multi-frame ADTS
    stream — varying frame count, SCE/CPE channel elements, sample
    rate, window sequence (incl. EIGHT_SHORT grouped spectra and
    KBD window shape), spectral codebook, M/S stereo masks and TNS
    filters — whose quantized spectra are all zero, so the
    closed-form oracle is exact (silence survives dequant → TNS →
    IMDCT → overlap-add bit-exactly) while the decoder must still
    parse ADTS headers, section/scalefactor data, Huffman spectra
    and every tool in the chain. Nonzero-spectrum bit-exactness is
    pinned by tests/test_aac.py against plain-loop references."""
    import numpy as np

    from tika_spark.analysis.aaccodec import (EIGHT_SHORT,
                                              aac_bytes)

    def build(i):
        n_frames = 1 + i % 3
        nch = 1 + i % 2
        ws = i % 4
        if ws == EIGHT_SHORT:
            spec = [np.zeros(128, dtype=np.int64)] * 8
        else:
            spec = np.zeros(1024, dtype=np.int64)
        tns = None
        if ws == 0 and i % 5 == 0:       # long windows only
            tns = [[(49, 2, 0, 0, 1, [1, 2])]]
        return aac_bytes(
            [[spec] * nch] * n_frames,
            rate_index=3 + i % 2,
            window_sequence=ws,
            window_shape=1 if i % 3 == 0 else 0,
            codebook=1 + i % 4,
            global_gain=100 + i % 20,
            ms_mask_present=2 if (nch == 2 and i % 3 == 0)
            else 0,
            tns_filters=tns)

    return _pcm_stats(_media(spark, sf_dir, _by_id(build), "audio/x-aac"))


@query("media_m4a_stats", oracle=(
    # m4a_fixture closed forms: silent AAC-LC raw blocks in
    # a full ISO-BMFF mux — structure-only oracle
    "SELECT doc_id AS id, "
    "(1 + doc_id % 2)::BIGINT AS n_channels, "
    "(CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END)"
    "::BIGINT AS sample_rate, "
    "((1 + doc_id % 4) * 1024)::BIGINT AS n_samples, "
    "((1 + doc_id % 4) * 1024 * 1000 // "
    "(CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END))"
    "::BIGINT AS duration_ms, "
    "0::BIGINT AS rms_micro, 0::BIGINT AS peak_micro "
    "FROM documents"))
def _q_media_m4a_stats(spark, sf_dir):
    """MP4/ISO-BMFF audio demux + raw-block AAC-LC decode
    (analysis/isobmff.py): each row is a complete .m4a — ftyp,
    mdat, and a moov whose stsc×stco×stsz tables resolve the raw
    access units and whose esds AudioSpecificConfig parameterizes
    the decoder (aaccodec.decode_aac_raw, no ADTS headers to lean
    on). Silent spectra make the closed-form oracle exact while the
    demux walks every table; byte-exactness of the mux↔demux AU
    path and nonzero-spectrum decode are pinned in
    tests/test_isobmff.py and tests/test_aac.py."""
    from tika_spark.analysis.isobmff import m4a_fixture
    return _pcm_stats(_media(spark, sf_dir, _by_id(m4a_fixture), "audio/mp4"))


@query("media_flv_audio_stats", oracle=(
    # flv_fixture closed forms: even rows mono MP3 (1152
    # samples/frame), odd rows AAC raw blocks (1024/frame,
    # channels from doc_id//2)
    "SELECT doc_id AS id, "
    "(CASE WHEN doc_id % 2 = 0 THEN 1 "
    "ELSE 1 + (doc_id // 2) % 2 END)::BIGINT AS n_channels, "
    "44100::BIGINT AS sample_rate, "
    "((1 + doc_id % 3) * CASE WHEN doc_id % 2 = 0 "
    "THEN 1152 ELSE 1024 END)::BIGINT AS n_samples, "
    "((1 + doc_id % 3) * CASE WHEN doc_id % 2 = 0 "
    "THEN 1152 ELSE 1024 END * 1000 // 44100)"
    "::BIGINT AS duration_ms, "
    "0::BIGINT AS rms_micro, 0::BIGINT AS peak_micro "
    "FROM documents"))
def _q_media_flv_audio_stats(spark, sf_dir):
    """FLV tag demux + audio decode (analysis/flvdemux.py): each row
    is a real FLV whose audio tags alternate by row between MP3
    chunks (SoundFormat 2, bodies concatenate to a Layer III ES) and
    raw AAC access units after an AudioSpecificConfig tag
    (SoundFormat 10 — the MP4 esds arrangement in FLV clothing).
    Silent spectra keep the oracle closed-form; tag back-pointer
    chaining is validated on every walk."""
    from tika_spark.analysis.flvdemux import flv_fixture
    media = _media(spark, sf_dir, _by_id(flv_fixture), "video/x-flv")
    return _pcm_stats(media)


@query("media_ogg_flac_stats", oracle=(
    # ogg_flac_fixture ramp: s(t) = (t*amp) % 2048 - 1024;
    # rms from the exact integer sum of squares (channel
    # duplication cancels), peak from the integer max
    "WITH p AS (SELECT doc_id, "
    "512 + (doc_id % 4) * 256 AS n, "
    "64 + doc_id % 192 AS amp, "
    "8000 * (1 + doc_id % 3) AS rate, "
    "1 + doc_id % 2 AS nch FROM documents), "
    "v AS (SELECT p.doc_id, "
    "((r.range * p.amp) % 2048 - 1024) AS s "
    "FROM p, range(1280) r WHERE r.range < p.n), "
    "agg AS (SELECT doc_id, SUM(s * s) AS sq, "
    "MAX(ABS(s)) AS pk FROM v GROUP BY doc_id) "
    "SELECT p.doc_id AS id, p.nch::BIGINT AS n_channels, "
    "p.rate::BIGINT AS sample_rate, "
    "p.n::BIGINT AS n_samples, "
    "(p.n * 1000 // p.rate)::BIGINT AS duration_ms, "
    "FLOOR(1000000 * SQRT(agg.sq / p.n) / 32768 + 0.5)"
    "::BIGINT AS rms_micro, "
    "FLOOR(1000000.0 * agg.pk / 32768 + 0.5)"
    "::BIGINT AS peak_micro "
    "FROM p JOIN agg USING (doc_id)"))
def _q_media_ogg_flac_stats(spark, sf_dir):
    """Ogg container demux + FLAC-in-Ogg decode
    (analysis/oggdemux.py): each row is a CRC-correct Ogg stream
    (lacing tables, continued-packet spans, begin/end flags) whose
    packets carry the FLAC mapping — packet 1 wraps STREAMINFO,
    audio packets are native frames — reassembled and decoded
    through the MD5-self-verifying FLAC decoder. The ramp signal
    gives exact integer PCM, so rms/peak are closed-form; Vorbis
    and Opus payloads surface identification metadata instead
    (documented transform-decode hook)."""
    from tika_spark.analysis.oggdemux import ogg_flac_fixture
    media = _media(spark, sf_dir, _by_id(ogg_flac_fixture), "audio/ogg")
    return _pcm_stats(media)


_VORBIS_STATS_SQL = (
    # ogg_vorbis_fixture closed forms: silent floors through
    # the full Vorbis machinery — blocksize 256, one primer
    # packet, so (1 + doc_id % 3) * 128 samples
    "SELECT doc_id AS id, "
    "(1 + doc_id % 2)::BIGINT AS n_channels, "
    "(8000 * (1 + doc_id % 4))::BIGINT AS sample_rate, "
    "((1 + doc_id % 3) * 128)::BIGINT AS n_samples, "
    "((1 + doc_id % 3) * 128 * 1000 // "
    "(8000 * (1 + doc_id % 4)))::BIGINT AS duration_ms, "
    "0::BIGINT AS rms_micro, 0::BIGINT AS peak_micro "
    "FROM documents")


@query("media_vorbis_stats", oracle=_VORBIS_STATS_SQL)
def _q_media_vorbis_stats(spark, sf_dir):
    """From-scratch Vorbis I decode over the Ogg packet layer
    (analysis/vorbis.py): each row is a complete Ogg-Vorbis stream —
    identification/comment/SETUP headers with three codebooks
    (Huffman first-fit assignment, a VQ lookup-1 value table),
    floor-1 and type-2 residue configurations, mapping and mode —
    followed by audio packets whose floors are flagged unused, so
    the decode runs the full header/mode/window/overlap machinery
    and lands on exact silence. Nonzero floor-curve × VQ-residue ×
    IMDCT decode is pinned against a from-first-principles reference
    in tests/test_vorbis.py."""
    from tika_spark.analysis.vorbis import ogg_vorbis_fixture
    media = _media(spark, sf_dir, _by_id(ogg_vorbis_fixture), "audio/ogg")
    return _pcm_stats(media)


@query("media_webm_vorbis_stats", oracle=_VORBIS_STATS_SQL)
def _q_media_webm_vorbis_stats(spark, sf_dir):
    """Matroska/WebM EBML demux + Vorbis decode (analysis/ebml.py):
    each row is a real WebM — EBML header, Segment Info, a Vorbis
    TrackEntry whose CodecPrivate Xiph-laces the three header
    packets, and a Cluster of SimpleBlocks — demuxed by the vint
    element walk and decoded through the from-scratch Vorbis
    pipeline. Same closed forms as media_vorbis_stats (silent
    floors; structural counts)."""
    from tika_spark.analysis.ebml import mkv_vorbis_fixture
    media = _media(spark, sf_dir, _by_id(mkv_vorbis_fixture), "video/webm")
    return _pcm_stats(media)


@query("media_video_rle_frames", oracle=(
    # video_rle_fixture closed forms: frame 0 solid v0;
    # frame 1 mean (v0+v1)/2 (EOB skip = inter-frame);
    # frame 2 moves 4 px from v1 to v2 via delta+absolute
    "WITH p AS (SELECT doc_id, 16 + doc_id % 8 AS w, "
    "doc_id % 256 AS v0, (doc_id * 7 + 31) % 256 AS v1, "
    "(doc_id * 13 + 5) % 256 AS v2 FROM documents) "
    "SELECT doc_id AS id, CAST(f.frame_idx AS INT) "
    "AS frame_idx, CAST(3 AS INT) AS n_frames, "
    "w::BIGINT AS width, CAST(8 AS BIGINT) AS height, "
    "CASE f.frame_idx WHEN 0 THEN v0 * 1000000 "
    "ELSE ((4 * w * (v0 + v1) - 4 * v1 + 4 * v2) * 1000000 "
    "+ 4 * w) // (8 * w) END AS mean_gray "
    "FROM p, (VALUES (0), (2)) f(frame_idx)"))
def _q_media_video_rle_frames(spark, sf_dir):
    """INTER-frame video decode (analysis/video.py decode_rle8): the
    MS-RLE8 AVI codec's skip escapes (EOL, EOB, cursor delta) show
    the previous frame through, so frame 2's pixels depend on the
    whole composition chain — closed forms in video_rle_fixture's
    docstring. Closes the documented inter-frame hook with a real
    codec (runs, absolute mode, deltas all exercised)."""
    from tika_spark.analysis.video import video_rle_fixture
    media = _media(spark, sf_dir, _by_id(video_rle_fixture))
    return _frame_stats(media, 2, "mean_gray")


@query("media_msvc_frames", oracle=(
    # video_msvc_fixture closed forms; E(v) = 8v + v//4 is
    # the RGB555 5→8-bit expand; frame 2 composes onto the
    # skip-half frame 1 (sum1) minus block 0's old 16·e0
    # plus the 8-color block's 2·Σq
    "WITH p AS (SELECT doc_id, 16 + 4 * (doc_id % 3) AS w, "
    "CASE WHEN doc_id % 2 = 0 THEN doc_id % 256 "
    "ELSE 8 * (2 + doc_id % 30) + (2 + doc_id % 30) // 4 "
    "END AS e0, "
    "CASE WHEN doc_id % 2 = 0 THEN (doc_id * 7 + 31) % 128 "
    "ELSE 8 * ((doc_id * 3 + 7) % 32) "
    "+ ((doc_id * 3 + 7) % 32) // 4 END AS e1, "
    "CASE WHEN doc_id % 2 = 0 THEN (doc_id * 13 + 5) % 256 "
    "ELSE 8 * ((doc_id * 11 + 5) % 32) "
    "+ ((doc_id * 11 + 5) % 32) // 4 END AS e2, "
    "CASE WHEN doc_id % 2 = 0 "
    "THEN 8 * (128 + 4 * (doc_id % 28)) + 28 "
    "ELSE 264 * (doc_id % 7) + 228 END AS sq "
    "FROM documents), "
    "q AS (SELECT *, 16 * e0 * (w // 4) "
    "+ 8 * (e1 + e2) * (w // 2 - w // 4) AS sum1 FROM p) "
    "SELECT doc_id AS id, CAST(f.frame_idx AS INT) "
    "AS frame_idx, CAST(3 AS INT) AS n_frames, "
    "w::BIGINT AS width, CAST(8 AS BIGINT) AS height, "
    "CASE f.frame_idx WHEN 0 THEN e0 * 1000000 "
    "ELSE ((sum1 - 16 * e0 + 2 * sq) * 1000000 + 4 * w) "
    "// (8 * w) END AS mean_gray "
    "FROM q, (VALUES (0), (2)) f(frame_idx)"))
def _q_media_msvc_frames(spark, sf_dir):
    """MS Video 1 (CRAM) inter-frame decode (analysis/video.py
    decode_msvc) at BOTH pixel depths: even rows 8-bpp palettized,
    odd rows 16-bpp RGB555. Frame 1 skips half the blocks (previous
    frame shows through) and frame 2 paints one 8-color block then
    skips the rest, so the sampled frame-2 mean proves the whole
    composition chain — closed forms in video_msvc_fixture's
    docstring. Exercises 1-color, 2-color, 8-color quadrant pairs
    and multi-block skip codes."""
    from tika_spark.analysis.video import video_msvc_fixture
    media = _media(spark, sf_dir, _by_id(video_msvc_fixture))
    return _frame_stats(media, 2, "mean_gray")


@query("media_mpeg1_frames", oracle=(
    # mpeg1_fixture closed forms: frame 0 three flat intra
    # MBs; frame 2 = intra v3 | all-v1 (MC over composed
    # frame 1) | 3·v1 + 13·v2 columns; chroma flat 128
    "WITH p AS (SELECT doc_id, 16 + doc_id % 224 AS v0, "
    "16 + (doc_id * 7 + 31) % 224 AS v1, "
    "16 + (doc_id * 13 + 5) % 224 AS v2, "
    "16 + (doc_id * 11 + 3) % 224 AS v3 FROM documents) "
    "SELECT doc_id AS id, CAST(f.frame_idx AS INT) "
    "AS frame_idx, CAST(3 AS INT) AS n_frames, "
    "CAST(48 AS BIGINT) AS width, CAST(16 AS BIGINT) "
    "AS height, "
    "CASE f.frame_idx WHEN 0 "
    "THEN (256 * (v0 + v1 + v2) * 1000000 + 384) // 768 "
    "ELSE (16 * (16 * v3 + 19 * v1 + 13 * v2) * 1000000 "
    "+ 384) // 768 END AS mean_y, "
    "128000000 AS mean_cb "
    "FROM p, (VALUES (0), (2)) f(frame_idx)"))
def _q_media_mpeg1_frames(spark, sf_dir):
    """Motion-compensated MPEG-1 video decode (analysis/mpegvideo.py
    decode_mpeg1): a real ISO/IEC 11172-2 I/P elementary stream per
    row — intra DCT macroblocks with predicted DC, a P-picture
    composing forward full-pel motion (+2 / -2), a skipped
    macroblock, and a second P-picture with an intra refresh plus
    differential vectors over the COMPOSED frame 1, so the sampled
    frame-2 mean proves the whole motion-compensation chain.
    Chroma stays flat 128 (YCbCr output), pinning the 4:2:0 path.
    Closed forms in mpeg1_fixture's docstring."""
    from tika_spark.analysis.mpegvideo import mpeg1_fixture
    media = _media(spark, sf_dir, _by_id(mpeg1_fixture))
    return _frame_stats(media, 2, "mean_y", "mean_cb")


@query("media_mpeg_bps_frames", oracle=(
    # mpeg1_bps_fixture closed forms (display order I B P):
    # frame 1 is the B picture — 14·v0 + 2·v1 (fwd +2) |
    # 14·v1 + 2·v2 (skipped-B repeat) | 16·avg(v2, w2)
    # columns; frames 0/2 are flat three-MB anchors
    "WITH p AS (SELECT doc_id, 16 + doc_id % 224 AS v0, "
    "16 + (doc_id * 7 + 31) % 224 AS v1, "
    "16 + (doc_id * 13 + 5) % 224 AS v2, "
    "16 + (doc_id * 11 + 3) % 224 AS w0, "
    "16 + (doc_id * 17 + 9) % 224 AS w1, "
    "16 + (doc_id * 23 + 11) % 224 AS w2 FROM documents) "
    "SELECT doc_id AS id, CAST(f.frame_idx AS INT) "
    "AS frame_idx, CAST(3 AS INT) AS n_frames, "
    "CAST(48 AS BIGINT) AS width, CAST(16 AS BIGINT) "
    "AS height, "
    "CASE f.frame_idx WHEN 0 "
    "THEN (256 * (v0 + v1 + v2) * 1000000 + 384) // 768 "
    "WHEN 1 THEN (16 * (14 * v0 + 16 * v1 + 2 * v2 "
    "+ 16 * ((v2 + w2 + 1) // 2)) * 1000000 + 384) // 768 "
    "ELSE (256 * (w0 + w1 + w2) * 1000000 + 384) // 768 "
    "END AS mean_y, "
    "128000000 AS mean_cb "
    "FROM p, (VALUES (0), (1), (2)) f(frame_idx)"))
def _q_media_mpeg_bps_frames(spark, sf_dir):
    """MPEG-1 B-pictures + program-stream demux (mpegvideo.py
    ps_video_es / decode_mpeg1): each row is a pack/PES-wrapped
    ISO 11172 system stream whose video ES codes I P B — the
    pipeline demuxes the PES payloads, decodes bidirectional
    prediction (forward +2 motion, a skipped-B repeat, an averaged
    interpolated macroblock), and reorders coded→display, so the
    sampled middle frame IS the B picture. Closed forms in
    mpeg1_bps_fixture's docstring."""
    from tika_spark.analysis.mpegvideo import mpeg1_bps_fixture
    media = _media(spark, sf_dir, _by_id(mpeg1_bps_fixture))
    return _frame_stats(media, 1, "mean_y", "mean_cb")


_MPEG2_FRAMES_SQL = (
    # mpeg2_ps_fixture closed forms (display order I B P):
    # frame 1 is the B picture — 15·v0 + 1·v1 (fwd 1-pel
    # half-pel vector) | 15·v1 + 1·v2 (skipped-B repeat) |
    # 16·avg(v2, w2) columns; frames 0/2 flat anchors
    "WITH p AS (SELECT doc_id, 16 + doc_id % 224 AS v0, "
    "16 + (doc_id * 7 + 31) % 224 AS v1, "
    "16 + (doc_id * 13 + 5) % 224 AS v2, "
    "16 + (doc_id * 11 + 3) % 224 AS w0, "
    "16 + (doc_id * 17 + 9) % 224 AS w1, "
    "16 + (doc_id * 23 + 11) % 224 AS w2 FROM documents) "
    "SELECT doc_id AS id, CAST(f.frame_idx AS INT) "
    "AS frame_idx, CAST(3 AS INT) AS n_frames, "
    "CAST(48 AS BIGINT) AS width, CAST(16 AS BIGINT) "
    "AS height, "
    "CASE f.frame_idx WHEN 0 "
    "THEN (256 * (v0 + v1 + v2) * 1000000 + 384) // 768 "
    "WHEN 1 THEN (16 * (15 * v0 + 16 * v1 + v2 "
    "+ 16 * ((v2 + w2 + 1) // 2)) * 1000000 + 384) // 768 "
    "ELSE (256 * (w0 + w1 + w2) * 1000000 + 384) // 768 "
    "END AS mean_y, "
    "128000000 AS mean_cb "
    "FROM p, (VALUES (0), (1), (2)) f(frame_idx)")


@query("media_mpeg2_frames", oracle=_MPEG2_FRAMES_SQL)
def _q_media_mpeg2_frames(spark, sf_dir):
    """MPEG-2 (ISO 13818-2) Main-Profile decode (mpegvideo.py): each
    row is an ISO 13818-1 pack/PES program stream whose video ES
    varies intra_dc_precision (8/9/10), q_scale_type, and
    alternate_scan; the pipeline demuxes the MPEG-2 PES form,
    auto-detects the standard from the sequence extension, decodes
    I/P/B with always-half-pel vectors from per-dimension f_codes,
    applies §7.4.4 mismatch control, and reorders to display order.
    Closed forms in mpeg2_ps_fixture's docstring."""
    from tika_spark.analysis.mpegvideo import mpeg2_ps_fixture
    media = _media(spark, sf_dir, _by_id(mpeg2_ps_fixture))
    return _frame_stats(media, 1, "mean_y", "mean_cb")


@query("media_mpegts_frames", oracle=_MPEG2_FRAMES_SQL)
def _q_media_mpegts_frames(spark, sf_dir):
    """MPEG transport stream demux (analysis/mpegts.py): each row is
    a .ts capture (HLS-segment shape) — PAT → PMT → PES reassembly
    with CRC-verified PSI sections and continuity checking — whose
    video PID carries the MPEG-2 fixture stream, so the decoded
    display frames land on the same closed forms as
    media_mpeg2_frames while exercising the 188-byte packet layer
    end-to-end (adaptation-field stuffing, PUSI segmentation,
    per-row PID variation)."""
    from tika_spark.analysis.mpegts import mpegts_fixture
    media = _media(spark, sf_dir, _by_id(mpegts_fixture))
    return _frame_stats(media, 1, "mean_y", "mean_cb")


@query("media_apng_frames", oracle=(
    # frame 0: solid v0; frame 2: 6-px rect v2 over the v0
    # canvas (frame 1's v1 rect REVERTED by dispose=previous)
    "WITH p AS (SELECT doc_id, 12 + doc_id % 6 AS w, "
    "doc_id % 256 AS v0, (doc_id * 3 + 7) % 256 AS v2 "
    "FROM documents) "
    "SELECT doc_id AS id, CAST(f.frame_idx AS INT) "
    "AS frame_idx, CAST(3 AS INT) AS n_frames, "
    "w::BIGINT AS width, CAST(8 AS BIGINT) AS height, "
    "CASE f.frame_idx WHEN 0 THEN v0 * 1000000 "
    "ELSE ((v0 * (8 * w - 6) + v2 * 6) * 1000000 "
    "+ (8 * w) // 2) // (8 * w) END AS mean_gray "
    "FROM p, (VALUES (0), (2)) f(frame_idx)"))
def _q_media_apng_frames(spark, sf_dir):
    """APNG (animated PNG) frame compositing (pixels.apng_frames):
    acTL/fcTL/fdAT parse, per-frame sub-rectangle zlib+unfilter,
    disposal/blend composition. Fixture: frame 0 solid v0 full
    canvas; frame 1 paints a 24-px rect v1 with dispose=PREVIOUS
    (so its change reverts); frame 2 paints a 6-px rect v2 —
    sampled frames 0 and 2 have closed-form means that PROVE the
    dispose-previous semantics (frame 2's mean must not contain
    v1)."""
    import numpy as np

    from tika_spark.analysis.pixels import apng_bytes

    def build(i):
        w, h = 12 + i % 6, 8
        v0, v1, v2 = i % 256, (i * 5 + 19) % 256, (i * 3 + 7) % 256
        return apng_bytes(
            [(np.full((h, w), v0, np.uint8), 0, 0, 0, 0),
             (np.full((4, 6), v1, np.uint8), 2, 2, 2, 0),
             (np.full((2, 3), v2, np.uint8), 0, 0, 0, 0)],
            w, h)

    return _frame_stats(_media(spark, sf_dir, _by_id(build)), 2, "mean_gray")


@query("media_audio_features", oracle=(
    # sine fixtures: k odd cycles over 2048 samples →
    # 2k-1 strict sign changes (last zero beyond the final
    # sample), FFT peak at bin k, exact-zero sample sum by
    # construction; MP3 rows are silent
    "SELECT doc_id AS id, "
    "CASE WHEN doc_id % 7 = 0 THEN 2304 ELSE 2048 "
    "END::BIGINT AS n_samples, "
    "CASE WHEN doc_id % 7 = 0 THEN 0 "
    "ELSE 2 * (3 + 2 * (doc_id % 40)) - 1 "
    "END::BIGINT AS zero_crossings, "
    "CASE WHEN doc_id % 7 = 0 THEN 0 "
    "ELSE 3 + 2 * (doc_id % 40) END::BIGINT AS peak_bin, "
    "CASE WHEN doc_id % 7 = 0 THEN 0 "
    "ELSE (3 + 2 * (doc_id % 40)) * 16000 // 2048 "
    "END::BIGINT AS peak_hz, "
    "0::BIGINT AS sum_amp FROM documents"))
def _q_media_audio_features(spark, sf_dir):
    """Post-decode audio feature extraction (analysis/pcm.py
    audio_features): integer-robust spectral features over decoded
    samples. Fixture rows carry a 2048-sample sine of k cycles
    (k odd, amplitude 12000, explicitly odd-symmetric so the sample
    sum is exactly 0) as WAV or FLAC (lossless twins), or a silent
    2-frame MP3 — closed forms: zero_crossings = 2k-1 (the 2k-th
    zero of the sine falls past the last sample), peak FFT bin = k,
    peak_hz = k*16000//2048, sum_amp = 0."""
    import numpy as np

    from tika_spark.analysis.flac import flac_bytes
    from tika_spark.analysis.mp3codec import mp3_bytes
    from tika_spark.analysis.pcm import audio_features, wav_bytes

    n = 2048

    def build(i):
        if i % 7 == 0:
            z = np.zeros(576, dtype=np.int64)
            return mp3_bytes([[[z], [z]]] * 2, count1_zeros=8)
        k = 3 + 2 * (i % 40)
        half = np.rint(12000.0 * np.sin(
            2 * np.pi * k * (np.arange(n // 2) + 0.5) / n))
        x = np.empty(n, dtype=np.int16)
        x[:n // 2] = half
        x[n // 2:] = -half[::-1]    # exact odd symmetry
        return flac_bytes(x, 16000) if i % 2 else wav_bytes(x, 16000)

    media = _media(
        spark, sf_dir, _by_id(build),
        F.when(F.pmod("doc_id", F.lit(7)) == 0, F.lit("audio/mpeg"))
        .when(F.pmod("doc_id", F.lit(2)) == 1, F.lit("audio/flac"))
        .otherwise(F.lit("audio/wav")))
    return audio_features(media).select(
        "id", "n_samples", "zero_crossings", "peak_bin", "peak_hz",
        "sum_amp")


@query("ann_ivf_topk", oracle=None)
def _q_ann_ivf_topk(spark, sf_dir):
    # rows-only: approximate path (KMeans coarse quantizer + nprobe)
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk(emb, queries_df, k=10, nlist=16, nprobe=4)
    return out.select("query_id", "vec_id", "sim_micro",
                      F.col("rank").cast("long").alias("rank"))


@query("media_meta", oracle=(
    "SELECT doc_id AS id, 'ok' AS status, "
    "(16 + doc_id % 640)::BIGINT AS width, "
    "(16 + (doc_id * 3) % 480)::BIGINT AS height FROM documents"))
def _q_media_meta(spark, sf_dir):
    """Multimodal decode stage over REAL image headers: per-row PNG
    payloads whose IHDR dimensions the header-parse tier must read
    back exactly (no deterministic fake on this path)."""
    png = _png_udf()
    media = _media(spark, sf_dir, png, "image/png")
    out = multimodal.decode_media(media)
    return out.select("id", "status",
                      F.col("width").cast("long").alias("width"),
                      F.col("height").cast("long").alias("height"))


@query("media_xmp_meta", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    "'image/jpeg' AS mime, "
    "'Doc ' || doc_id AS title, lang AS author, "
    "'8' AS width FROM documents"))
def _q_media_xmp_meta(spark, sf_dir):
    """E12 XMP path end-to-end: per-row JPEGs carrying a real APP1
    XMP packet (dc:title + dc:creator in rdf:Alt/Seq lists); the
    media parser must surface both through the JempBox-equivalent
    packet walk (media.py:_jpeg_xmp/_parse_xmp), alongside the
    header-tier dimensions."""
    import struct as _st

    import numpy as np

    from tika_spark.analysis.jpegcodec import jpeg_bytes

    @pandas_udf(BinaryType())
    def wrap(ids: pd.Series, langs: pd.Series) -> pd.Series:
        base = jpeg_bytes(np.full((8, 8, 1), 90, np.uint8))
        out = []
        for i, lang in zip(ids, langs):
            xmp = (
                '<x:xmpmeta xmlns:x="adobe:ns:meta/"><rdf:RDF '
                'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
                '<rdf:Description '
                'xmlns:dc="http://purl.org/dc/elements/1.1/">'
                f'<dc:title><rdf:Alt><rdf:li>Doc {int(i)}</rdf:li>'
                "</rdf:Alt></dc:title>"
                f"<dc:creator><rdf:Seq><rdf:li>{lang}</rdf:li>"
                "</rdf:Seq></dc:creator>"
                "</rdf:Description></rdf:RDF></x:xmpmeta>"
            ).encode()
            seg = b"http://ns.adobe.com/xap/1.0/\x00" + xmp
            app1 = b"\xff\xe1" + _st.pack(">H", len(seg) + 2) + seg
            out.append(base[:2] + app1 + base[2:])
        return pd.Series(out)

    pages = _pages(spark, sf_dir, wrap(F.col("doc_id"), F.col("lang")))
    out = extract(pages, mode="metadata")
    md = F.col("metadata")
    return out.select(
        "url", F.col("mime"),
        F.element_at(md["title"], 1).alias("title"),
        F.element_at(md["Author"], 1).alias("author"),
        F.element_at(md["width"], 1).alias("width"))


@query("media_font_meta", oracle=(
    # name records are deterministic strings of the doc id;
    # TTF carries them raw, WOFF zlib-wrapped, WOFF2
    # brotli-wrapped (from-scratch codec) — same values
    "SELECT 'doc://' || doc_id AS url, "
    "CASE doc_id % 3 WHEN 0 THEN 'application/x-font-ttf' "
    "WHEN 1 THEN 'font/woff' ELSE 'font/woff2' END AS mime, "
    "'Fam ' || doc_id || ' Regular' AS title, "
    "'Fam ' || doc_id AS family FROM documents"))
def _q_media_font_meta(spark, sf_dir):
    """Font metadata end-to-end (reference: font/TrueTypeParser.java
    name records; media.py:_ttf_meta/_woff_meta/_woff2_meta): ids
    cycle a raw sfnt, the same name table zlib-wrapped in a WOFF 1.0
    directory, and a WOFF2 container whose table block rides the
    from-scratch brotli codec (id%6 rotates raw / literals-only /
    LZ-compressed meta-block forms) — all must surface the family
    and full-name records through the staged metadata pipeline."""
    import struct as _st
    import zlib as _zl

    from tika_spark.analysis.woff2 import woff2_bytes

    def _name_table(recs):
        strings = b""
        out = b""
        for nid, val in recs:
            enc = val.encode("utf-16-be")
            out += _st.pack(">HHHHHH", 3, 1, 0x409, nid,
                            len(enc), len(strings))
            strings += enc
        return _st.pack(">HHH", 0, len(recs),
                        6 + 12 * len(recs)) + out + strings

    def build(i):
        tbl = _name_table([(1, f"Fam {i}"),
                           (4, f"Fam {i} Regular")])
        if i % 3 == 0:                      # raw sfnt
            head = _st.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
            rec = b"name" + _st.pack(">III", 0, 28, len(tbl))
            return head + rec + tbl
        elif i % 3 == 1:                    # WOFF 1.0 wrapper
            comp = _zl.compress(tbl)
            if len(comp) >= len(tbl):
                comp = tbl
            hdr = b"wOFF" + _st.pack(">I", 0x00010000) \
                + _st.pack(">I", 64 + len(comp)) \
                + _st.pack(">HH", 1, 0) \
                + _st.pack(">I", 28 + len(tbl)) \
                + _st.pack(">HH", 1, 0) \
                + _st.pack(">IIIII", 0, 0, 0, 0, 0)
            rec = b"name" + _st.pack(">IIII", 64, len(comp),
                                     len(tbl), 0)
            return hdr + rec + comp
        else:                               # WOFF2 (brotli)
            # "ref" = reference brotli encoder at q11 (static
            # dictionary + context maps), decoded by the
            # from-scratch decoder — round-5 conformance widening
            mode = ("raw", "literals", "lz", "ref")[(i // 3) % 4]
            return woff2_bytes(
                [("head", b"\x00" * 54), ("name", tbl)],
                mode=mode)

    pages = _pages(spark, sf_dir, _by_id(build)(F.col("doc_id")))
    out = extract(pages, mode="metadata")
    md = F.col("metadata")
    return out.select(
        "url", "mime",
        F.element_at(md["title"], 1).alias("title"),
        F.element_at(md["font-family"], 1).alias("family"))


@query("media_font_glyphs", oracle=(
    # closed form: k = id%5+1 contours of (c+2) points each
    # -> k(k+3)/2 points; odd ids add one composite glyph
    "SELECT 'doc://' || doc_id AS url, "
    "'font/woff2' AS mime, "
    "CAST(2 + doc_id % 2 AS BIGINT) AS glyphs, "
    "CAST(doc_id % 5 + 1 AS BIGINT) AS contours, "
    "CAST((doc_id % 5 + 1) * (doc_id % 5 + 4) // 2 AS BIGINT)"
    " AS points, "
    "CAST(doc_id % 2 AS BIGINT) AS composites "
    "FROM documents"))
def _q_media_font_glyphs(spark, sf_dir):
    """WOFF2 glyf/loca geometry transform end-to-end (W3C WOFF2
    sections 5.1-5.3; analysis/woff2.py transform_glyf/
    reconstruct_glyf — no reference counterpart,
    font/TrueTypeParser.java stops at name records): each id builds
    a WOFF2 whose glyf table is stored TRANSFORMED (255UInt16 point
    counts, per-point flag bytes, triplet-coded deltas, bbox bitmap,
    zero-length loca stream), cycling both loca index formats and
    explicit-vs-recomputed bboxes; the metadata pipeline must
    reconstruct the outlines and report closed-form glyph/contour/
    point/composite counts."""
    import struct as _st

    from tika_spark.analysis.woff2 import build_glyf, woff2_bytes

    def build(i):
        k = i % 5 + 1
        pts, end_pts, n = [], [], 0
        x = y = 0
        for c in range(k):
            for j in range(c + 2):
                x += (c + 1) * 13 + j * 3 - 15
                y += 29 - j * 5
                pts.append((x, y, (j % 3) != 0))
                n += 1
            end_pts.append(n - 1)
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        simple = {"bbox": (min(xs), min(ys), max(xs), max(ys)),
                  "end_pts": end_pts, "points": pts,
                  "instructions": b"\xb0\x01" * (i % 3)}
        glyphs = [simple, None]
        if i % 2:
            comp = _st.pack(">HHhh", 0x0001 | 0x0100, 0, 7, -9)
            glyphs.append({"bbox": (-4, -4, 90, 90),
                           "composite": comp,
                           "instructions": b"\x4f"})
        fmt = i % 2
        glyf, loca = build_glyf(glyphs, index_format=fmt)
        head = bytearray(54)
        _st.pack_into(">h", head, 50, fmt)
        return woff2_bytes(
            [("head", bytes(head)), ("glyf", glyf),
             ("loca", loca)],
            mode=("raw", "literals", "lz")[i % 3],
            transform_glyphs=True, index_format=fmt)

    pages = _pages(spark, sf_dir, _by_id(build)(F.col("doc_id")))
    out = extract(pages, mode="metadata")
    md = F.col("metadata")
    return out.select(
        "url", "mime",
        F.element_at(md["font-glyph-count"], 1).cast("long")
        .alias("glyphs"),
        F.element_at(md["font-contour-count"], 1).cast("long")
        .alias("contours"),
        F.element_at(md["font-point-count"], 1).cast("long")
        .alias("points"),
        F.element_at(md["font-composite-count"], 1).cast("long")
        .alias("composites"))


def _zip_wrap_udf():
    """Deterministic one-member zip per document (fixture builder for
    the F1 recursion check; ZIP_STORED + fixed date → byte-stable)."""
    import io
    import zipfile
    @pandas_udf(BinaryType())
    def wrap(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
                info = zipfile.ZipInfo("doc.txt", (1980, 1, 1, 0, 0, 0))
                zf.writestr(info, (t or "").encode("utf-8"))
            out.append(buf.getvalue())
        return pd.Series(out)

    return wrap


@query("extract_recursive_zip", oracle=(
    "SELECT 'doc://' || doc_id || '.zip' AS url, "
    "CAST(0 AS BIGINT) AS depth, 'doc.txt' || chr(10) AS text "
    "FROM documents UNION ALL "
    "SELECT 'doc://' || doc_id || '.zip!/doc.txt' AS url, "
    "CAST(1 AS BIGINT) AS depth, text || chr(10) AS text "
    "FROM documents"))
def _q_extract_recursive_zip(spark, sf_dir):
    """F1 embedded-doc recursion: every doc wrapped in a zip; the
    parent row carries the entry-name text, the exploded child row the
    extracted member text."""
    wrap = _zip_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("text")), ".zip")
    out = extract_recursive(pages, mode="text")
    return out.select("url", F.col("depth").cast("long").alias("depth"),
                      "text")


@query("extract_recursive_zstd", oracle=(
    # parent rows: the member name text; children: the
    # losslessly decompressed document text
    "SELECT 'doc://' || doc_id || '.txt.zst' AS url, "
    "CAST(0 AS BIGINT) AS depth, "
    "CAST(doc_id AS VARCHAR) || '.txt' || chr(10) AS text "
    "FROM documents UNION ALL "
    "SELECT 'doc://' || doc_id || '.txt.zst!/' || doc_id "
    "|| '.txt' AS url, "
    "CAST(1 AS BIGINT) AS depth, text || chr(10) AS text "
    "FROM documents"))
def _q_extract_recursive_zstd(spark, sf_dir):
    """F1 recursion through the from-scratch Zstandard decoder
    (analysis/zstdcodec.py): every doc's text compressed as a genuine
    zstd frame, cycling the encoder's wire forms — raw blocks,
    literals-only, greedy-LZ with predefined FSE sequence tables,
    Huffman literals (direct weights), and explicit-FSE LL tables
    with FSE-coded Huffman weights. Parent rows carry the member
    name, exploded children the decompressed text. The reference
    needs the optional zstd-jni jar for this route
    (CompressorParser.java); here it is first-class."""

    @pandas_udf(BinaryType())
    def wrap(df: pd.DataFrame) -> pd.Series:
        from tika_spark.analysis.zstdcodec import compress
        out = []
        for i, t in zip(df["doc_id"], df["text"]):
            mode = ("raw", "literals", "lz", "huff",
                    "fse")[int(i) % 5]
            out.append(compress((t or "").encode("utf-8"),
                                mode=mode))
        return pd.Series(out)

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        _doc_url(".txt.zst").alias("url"),
        wrap(F.struct("doc_id", "text")).alias("html"))
    out = extract_recursive(pages, mode="text")
    return out.select("url", F.col("depth").cast("long").alias("depth"),
                      "text")


@query("extract_pdf_images", oracle=(
    # two embedded images per PDF: the DCTDecode JPEG and
    # the FlateDecode gray raster, child urls parent!/name
    "SELECT 'doc://' || doc_id || '.pdf!/Im0.jpg' AS url, "
    "'image/jpeg' AS mime, "
    "(4 + doc_id % 9)::VARCHAR AS width, "
    "(3 + doc_id % 5)::VARCHAR AS height FROM documents "
    "UNION ALL "
    "SELECT 'doc://' || doc_id || '.pdf!/Im1.png', "
    "'image/png', (5 + doc_id % 7)::VARCHAR, "
    "(2 + doc_id % 4)::VARCHAR FROM documents"))
def _q_extract_pdf_images(spark, sf_dir):
    """PDF embedded-image extraction (pdf/parser.py page_images →
    children → F1 recursion): each row is a PDF carrying one
    DCTDecode JPEG (solid gray, the DC closed form) and one
    FlateDecode DeviceGray raster; the exploded child rows re-enter
    detect → route and land in the media parser, whose header
    dimensions the oracle predicts. The reference's
    embedded-image-as-embedded-document route (PDFBox
    ExtractImages / PDF2XHTML), composed with the pixel tier."""
    import numpy as np
    from tika_spark.analysis.jpegcodec import jpeg_bytes
    from tika_spark.fixtures.pdfgen import make_pdf_images

    def build(i):
        jw, jh = 4 + i % 9, 3 + i % 5
        gw, gh = 5 + i % 7, 2 + i % 4
        jp = jpeg_bytes(np.full((jh, jw, 1), i % 256, np.uint8),
                        quality=50)
        gr = np.full((gh, gw), (i * 3) % 256, np.uint8)
        return make_pdf_images([f"pdf {i} with images"],
                               jpeg=jp, gray=gr)

    pages = _pages(spark, sf_dir, _by_id(build)(F.col("doc_id")), ".pdf")
    out = extract_recursive(pages, mode="metadata")
    kids = out.filter(F.col("depth") == 1)
    return kids.select(
        F.col("url"),
        F.element_at(F.col("metadata")["Content-Type"], 1)
        .alias("mime"),
        F.element_at(F.col("metadata")["width"], 1).alias("width"),
        F.element_at(F.col("metadata")["height"], 1).alias("height"))


def _sevenz_wrap_udf():
    """Deterministic 7z per document row (E6 family: pkg/sevenz.py),
    cycling codecs by doc_id so copy/LZMA1/LZMA2 and the encoded
    header all flow through the driver gate."""
    from tika_spark.fixtures.sevenzgen import make_7z

    codecs = ("copy", "lzma1", "lzma2")

    def build(i, t):
        return make_7z(
            [("doc.txt", (t or "").encode("utf-8"))],
            codec=codecs[i % 3],
            encoded_header=bool(i % 2))
    return _by_id_text(build)


@query("extract_sevenz_recursive", oracle=(
    "SELECT 'doc://' || doc_id || '.7z' AS url, "
    "CAST(0 AS BIGINT) AS depth, 'doc.txt' || chr(10) AS text "
    "FROM documents UNION ALL "
    "SELECT 'doc://' || doc_id || '.7z!/doc.txt' AS url, "
    "CAST(1 AS BIGINT) AS depth, text || chr(10) AS text "
    "FROM documents"))
def _q_extract_sevenz_recursive(spark, sf_dir):
    """E6 7z + F1 recursion: parent row carries the entry-name text,
    the exploded child row the member's parsed text."""
    wrap = _sevenz_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id"), F.col("text")), ".7z")
    out = extract_recursive(pages, mode="text")
    return out.select("url", F.col("depth").cast("long").alias("depth"),
                      "text")


def _sqlite_wrap_udf():
    """Deterministic SQLite database per document row (E12 family:
    dbparse.py — the reference's jdbc/SQLite3Parser table walk)."""
    from tika_spark.fixtures.dbgen import make_sqlite

    def build(i, t):
        return make_sqlite([("docs", ["id INTEGER", "body TEXT"],
                             [(i, t or "")])])
    return _by_id_text(build)


@query("extract_sqlite_text", oracle=(
    "SELECT 'doc://' || doc_id || '.sqlite' AS url, "
    "'application/x-sqlite3' AS mime, "
    "'docs' || chr(10) || 'id' || chr(9) || 'body' || chr(10) "
    "|| doc_id || chr(9) || text || chr(10) AS text "
    "FROM documents"))
def _q_extract_sqlite_text(spark, sf_dir):
    """SQLite route: magic detect → table walk → name + header + rows
    as TAB-joined lines."""
    wrap = _sqlite_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id"), F.col("text")),
                   ".sqlite")
    return extract(pages, mode="text").select("url", "mime", "text")


def _dbf_wrap_udf():
    """Deterministic dBase III .dbf per document row (dbf/DBFReader
    semantics: fixed-width records, trimmed cells)."""
    from tika_spark.fixtures.dbgen import make_dbf

    def build(i, t):
        return make_dbf([("ID", "N", 8), ("BODY", "C", 40)],
                        [(i, (t or "")[:40])])
    return _by_id_text(build)


@query("extract_subtitles", oracle=(
    # subtitle fixture closed forms: 2 + doc_id % 3 cues,
    # every doc_id % 3 == 0 row is WebVTT with a voice-tag
    # speaker prefix on cue 0
    "WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS nc, "
    "doc_id % 3 = 0 AS vtt FROM documents) "
    "SELECT 'doc://' || doc_id || "
    "CASE WHEN vtt THEN '.vtt' ELSE '.srt' END AS url, "
    "CASE WHEN vtt THEN 'text/vtt' "
    "ELSE 'application/x-subrip' END AS mime, "
    "(CASE WHEN vtt THEN 'Speaker ' || doc_id || ': ' "
    "ELSE '' END) || 'Cue ' || doc_id || ' line 0.' "
    "|| chr(10) || 'Cue ' || doc_id || ' line 1.' "
    "|| chr(10) || CASE WHEN nc >= 3 THEN 'Cue ' || doc_id "
    "|| ' line 2.' || chr(10) ELSE '' END "
    "|| CASE WHEN nc >= 4 THEN 'Cue ' || doc_id "
    "|| ' line 3.' || chr(10) ELSE '' END AS text "
    "FROM p"))
def _q_extract_subtitles(spark, sf_dir):
    """Subtitle cue extraction (tika_spark/subtitles.py): rows
    alternate SubRip (cue counters, comma decimals, name-glob
    detection) and WebVTT (signature magic, NOTE block, dot
    decimals, a <v Speaker> voice tag rendered as a speaker
    prefix); the pipeline must emit CLEAN dialogue — no counters,
    timestamps, or markup — one paragraph per cue."""

    def build(i):
        nc = 2 + i % 3
        vtt = i % 3 == 0
        lines = []
        if vtt:
            lines += ["WEBVTT", "", "NOTE skipped block", ""]
        for k in range(nc):
            t0, t1 = k * 2000, k * 2000 + 1500

            def fmt(ms):
                h, rem = divmod(ms, 3600000)
                m, rem = divmod(rem, 60000)
                s, mil = divmod(rem, 1000)
                sep = "." if vtt else ","
                return f"{h:02d}:{m:02d}:{s:02d}{sep}{mil:03d}"

            if not vtt:
                lines.append(str(k + 1))
            lines.append(f"{fmt(t0)} --> {fmt(t1)}")
            body = f"Cue {i} line {k}."
            if vtt and k == 0:
                body = f"<v Speaker {i}>" + body
            lines += [body, ""]
        return "\n".join(lines).encode()
    pages = _pages(spark, sf_dir, _by_id(build)(F.col("doc_id")),
                   F.when(F.col("doc_id") % 3 == 0, F.lit(".vtt"))
                   .otherwise(F.lit(".srt")))
    return extract(pages, mode="text").select("url", "mime", "text")


@query("extract_ass_subtitles", oracle=(
    # nc = 2 + id%2 cues; cue 0 carries the speaker prefix;
    # the Comment event and the {\p1} drawing cue emit nothing
    "WITH p AS (SELECT doc_id, 2 + doc_id % 2 AS nc "
    "FROM documents) "
    "SELECT 'doc://' || doc_id || '.ass' AS url, "
    "'text/x-ssa' AS mime, "
    "'Speaker ' || doc_id || ': Cue ' || doc_id || "
    "' part 0 next' || chr(10) || "
    "'Cue ' || doc_id || ' part 1 next' || chr(10) || "
    "CASE WHEN nc >= 3 THEN 'Cue ' || doc_id || "
    "' part 2 next' || chr(10) ELSE '' END AS text FROM p"))
def _q_extract_ass_subtitles(spark, sf_dir):
    """SubStation Alpha route (tika_spark/subtitles.py
    parse_ass_cues, glob-detected .ass → text/x-ssa): Format-line
    field mapping, centisecond H:MM:SS.cc times, override-block
    strip, soft-break flattening, Name→speaker prefix, Comment
    events and a {\\p1} drawing-only cue skipped."""

    def build(i):
        nc = 2 + i % 2
        lines = ["[Script Info]", "Title: Fixture " + str(i), "",
                 "[Events]",
                 "Format: Layer, Start, End, Style, Name, "
                 "MarginL, MarginR, MarginV, Effect, Text"]
        for k in range(nc):
            t0 = 1000 * k + (i % 5) * 10
            t1 = t0 + 900

            def fmt(ms):
                h, rem = divmod(ms, 3600000)
                m, rem = divmod(rem, 60000)
                s, mil = divmod(rem, 1000)
                return f"{h}:{m:02d}:{s:02d}.{mil // 10:02d}"

            name = f"Speaker {i}" if k == 0 else ""
            lines.append(
                f"Dialogue: 0,{fmt(t0)},{fmt(t1)},Default,"
                f"{name},0,0,0,,"
                f"{{\\i1}}Cue {i}{{\\i0}} part {k}\\Nnext")
        lines.append("Comment: 0,0:00:00.00,0:00:01.00,Default,"
                     ",0,0,0,,not a cue")
        lines.append("Dialogue: 0,0:00:00.00,0:00:01.00,Default,"
                     ",0,0,0,,{\\p1}m 0 0 l 10 0{\\p0}")
        return "\n".join(lines).encode()

    pages = _pages(spark, sf_dir, _by_id(build)(F.col("doc_id")), ".ass")
    return extract(pages, mode="text").select("url", "mime", "text")


@query("extract_dbf_text", oracle=(
    "SELECT 'doc://' || doc_id || '.dbf' AS url, "
    "'application/x-dbf' AS mime, "
    "'ID' || chr(9) || 'BODY' || chr(10) || doc_id || chr(9) "
    "|| trim(substr(text, 1, 40)) || chr(10) AS text "
    "FROM documents"))
def _q_extract_dbf_text(spark, sf_dir):
    """DBF route (glob-detected): header row + one trimmed record."""
    wrap = _dbf_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id"), F.col("text")), ".dbf")
    return extract(pages, mode="text").select("url", "mime", "text")


def _doc_wrap_udf():
    """Deterministic OLE2 .doc per document row (fixture builder for
    the E7 binary-Office chain: CFB container + piece-table text)."""
    from tika_spark.fixtures.olegen import make_doc

    def build(i):
        # full FIB subrange layout: header story, body, footnote,
        # comment, endnote, footer story (WordExtractor.java order)
        return make_doc([f"Office doc {i}", f"Body paragraph {i % 7}."],
                        title=f"T{i}", header=f"Hdr {i}",
                        footer=f"Ftr {i}", footnotes=[f"Note {i}"],
                        comments=[f"Cmt {i}"], endnotes=[f"End {i}"])
    return _by_id(build)


@query("extract_office_doc", oracle=(
    # WordExtractor.java emit order: header, body, footnotes,
    # comments, endnotes, footer
    "SELECT 'doc://' || doc_id || '.doc' AS url, "
    "'application/msword' AS mime, 'T' || doc_id AS title, "
    "'Hdr ' || doc_id || chr(10) || "
    "'Office doc ' || doc_id || chr(10) || 'Body paragraph ' || "
    "(doc_id % 7) || '.' || chr(10) || "
    "'Note ' || doc_id || chr(10) || 'Cmt ' || doc_id || "
    "chr(10) || 'End ' || doc_id || chr(10) || "
    "'Ftr ' || doc_id || chr(10) AS text FROM documents"))
def _q_extract_office_doc(spark, sf_dir):
    """E7/B8: magic → x-tika-msoffice → OLE2 entry-name refinement →
    Word piece-table text + SummaryInformation title."""
    wrap = _doc_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id")), ".doc")
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


def _chm_wrap_udf():
    """Deterministic CHM per document row (E11 chain: ITSF directory →
    entry → HTML chain), raw section-0 storage for byte-stable files."""
    from tika_spark.fixtures.chmgen import make_chm

    @pandas_udf(BinaryType())
    def wrap(texts: pd.Series) -> pd.Series:
        return pd.Series([
            make_chm({"/page.html":
                      ("<html><body><p>" + (t or "")
                       + "</p></body></html>").encode("utf-8")})
            for t in texts])
    return wrap


@query("extract_chm_text", oracle=(
    "SELECT 'doc://' || doc_id || '.chm' AS url, "
    "'application/vnd.ms-htmlhelp' AS mime, "
    "text || chr(10) AS text FROM documents WHERE lang = 'en'"))
def _q_extract_chm_text(spark, sf_dir):
    """E11: ITSF/PMGL walk → .html entry through the HTML chain."""
    wrap = _chm_wrap_udf()
    pages = _docs(spark, sf_dir).filter(F.col("lang") == "en").select(
        _doc_url(".chm").alias("url"),
        wrap(F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "text")


@query("extract_rtf_text", oracle=(
    "SELECT 'doc://' || doc_id || '.rtf' AS url, "
    "'application/rtf' AS mime, 'Doc ' || doc_id AS title, "
    "text || chr(10) AS text FROM documents"))
def _q_extract_rtf_text(spark, sf_dir):
    """E4: RTF group-state tokenizer — \\info title destination +
    body text + \\par paragraph break (rtf/TextExtractor.java
    semantics). Page bytes built as a pure column expression (corpus
    text is ascii-safe, no escaping needed)."""
    rtf = F.encode(F.concat(
        F.lit("{\\rtf1\\ansi\\deff0 {\\info{\\title Doc "),
        F.col("doc_id").cast("string"), F.lit("}}"),
        F.col("text"), F.lit("\\par}")), "UTF-8")
    pages = _pages(spark, sf_dir, rtf, ".rtf")
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


@query("extract_mail_text", oracle=(
    "SELECT 'doc://' || doc_id || '.eml' AS url, "
    "'message/rfc822' AS mime, 'Doc ' || doc_id AS title, "
    "'Doc ' || doc_id || chr(10) || text || chr(10) AS text "
    "FROM documents"))
def _q_extract_mail_text(spark, sf_dir):
    """E5: RFC822 — header metadata (Subject→title, From→Author) plus
    subject-heading + body emission (mail/MailContentHandler.java
    shape)."""
    eml = F.encode(F.concat(
        F.lit("From: Crawl Bot <bot@example.com>\r\nSubject: Doc "),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"),
        F.col("text")), "UTF-8")
    pages = _pages(spark, sf_dir, eml, ".eml")
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


def _iwork_numbers_wrap_udf():
    """Deterministic Numbers package per row: one workspace with a
    text note and a 2-column table derived from doc_id."""
    import io
    import zipfile

    def build(i):
        xml = (
            '<?xml version="1.0"?><ls:document xmlns:ls='
            '"http://developer.apple.com/namespaces/ls" xmlns:sf='
            '"http://developer.apple.com/namespaces/sf" xmlns:sfa='
            '"http://developer.apple.com/namespaces/sfa">'
            f'<ls:workspace ls:workspace-name="Sheet{i}">'
            f'<sf:text><sf:p>Note {i}</sf:p></sf:text>'
            '<sf:tabular-model><sf:grid sf:numcols="2"/>'
            f'<sf:ct sfa:s="r{i}c0"/><sf:ct sfa:s="r{i}c1"/>'
            f'<sf:n sf:v="{i}"/><sf:n sf:v="{i * 2}"/>'
            '</sf:tabular-model></ls:workspace></ls:document>')
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            d = (1980, 1, 1, 0, 0, 0)
            zf.writestr(
                zipfile.ZipInfo("buildVersionHistory.plist", d),
                "<plist/>")
            zf.writestr(zipfile.ZipInfo("index.xml", d), xml)
        return buf.getvalue()
    return _by_id(build)


@query("extract_iwork_numbers", oracle=(
    "SELECT 'doc://' || doc_id || '.numbers' AS url, "
    "'application/vnd.apple.numbers' AS mime, "
    "'Sheet' || doc_id AS sheet, "
    "'Note ' || doc_id || chr(10) || "
    "'r' || doc_id || 'c0' || chr(9) || 'r' || doc_id || 'c1' "
    "|| chr(10) || doc_id || chr(9) || (doc_id * 2) || chr(10) "
    "AS text FROM documents"))
def _q_extract_iwork_numbers(spark, sf_dir):
    """iWork Numbers oracle: workspace text + numcols-driven table
    rows (NumbersContentHandler parity)."""
    wrap = _iwork_numbers_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id")), ".numbers")
    out = extract(pages, mode="text")
    sheet = F.element_at(F.col("metadata"), "sheetNames")[0]
    return out.select("url", "mime", sheet.alias("sheet"), "text")


def _iwork_key_wrap_udf():
    """Deterministic Keynote package per row: metadata title, one
    slide with title + body placeholders."""
    import io
    import zipfile

    def build(i, t):
        xml = (
            '<?xml version="1.0"?><key:presentation xmlns:key='
            '"http://developer.apple.com/namespaces/keynote2" '
            'xmlns:sf="http://developer.apple.com/namespaces/sf" '
            'xmlns:sfa="http://developer.apple.com/namespaces/'
            'sfa"><key:metadata><key:title>'
            f'<key:string sfa:string="K{i}"/></key:title>'
            '</key:metadata>'
            '<key:slide><key:title-placeholder><sf:text-body>'
            f'Slide {i}</sf:text-body></key:title-placeholder>'
            '<key:body-placeholder><sf:text-body>'
            f'{t}</sf:text-body></key:body-placeholder>'
            '</key:slide></key:presentation>')
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            d = (1980, 1, 1, 0, 0, 0)
            zf.writestr(
                zipfile.ZipInfo("buildVersionHistory.plist", d),
                "<plist/>")
            zf.writestr(zipfile.ZipInfo("index.apxl", d), xml)
        return buf.getvalue()
    return _by_id_text(build)


@query("extract_iwork_keynote", oracle=(
    "SELECT 'doc://' || doc_id || '.key' AS url, "
    "'application/vnd.apple.keynote' AS mime, "
    "'K' || doc_id AS title, "
    "'Slide ' || doc_id || chr(10) || text || chr(10) AS text "
    "FROM documents WHERE lang = 'en' AND length(text) > 0"))
def _q_extract_iwork_keynote(spark, sf_dir):
    """iWork Keynote oracle: slide title placeholder + body text,
    metadata title (KeynoteContentHandler parity; en docs, non-empty
    body so the placeholder paragraph always emits)."""
    wrap = _iwork_key_wrap_udf()
    docs = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & (F.length("text") > 0))
    pages = docs.select(
        _doc_url(".key").alias("url"),
        wrap(F.col("doc_id"), F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


@query("extract_mbox_recursive", oracle=(
    "SELECT 'doc://' || doc_id || '.mbox' AS url, "
    "CAST(0 AS BIGINT) AS depth, "
    "'msg-0.eml' || chr(10) || 'msg-1.eml' || chr(10) AS text "
    "FROM documents UNION ALL "
    "SELECT 'doc://' || doc_id || '.mbox!/msg-' || part "
    "|| '.eml' AS url, CAST(1 AS BIGINT) AS depth, "
    "'Doc ' || doc_id || ' part ' || part || chr(10) || "
    "(CASE WHEN text = '' THEN '' ELSE text || chr(10) END) "
    "AS text FROM documents, (SELECT 0 AS part UNION ALL "
    "SELECT 1) parts"))
def _q_extract_mbox_recursive(spark, sf_dir):
    """E5 mbox + F1: each archive row carries two ``From ``-delimited
    messages; the parent row lists the member names, each message
    explodes into a child row parsed through the RFC822 chain
    (mbox/MboxParser.java:251 splitting)."""
    did = F.col("doc_id").cast("string")
    msg = (
        F.lit("From bot@example.com Thu Jan  1 00:00:00 2024\r\n"
              "From: Crawl Bot <bot@example.com>\r\nSubject: Doc "),
        did, F.lit(" part 0\r\nContent-Type: text/plain; "
                   "charset=utf-8\r\n\r\n"), F.col("text"),
        F.lit("\r\nFrom bot@example.com Thu Jan  1 00:01:00 2024\r\n"
              "From: Crawl Bot <bot@example.com>\r\nSubject: Doc "),
        did, F.lit(" part 1\r\nContent-Type: text/plain; "
                   "charset=utf-8\r\n\r\n"), F.col("text"))
    pages = _docs(spark, sf_dir).select(
        _doc_url(".mbox").alias("url"),
        F.encode(F.concat(*msg), "UTF-8").alias("html"),
        F.lit("application/mbox").alias("declared_type"))
    out = extract_recursive(pages, mode="text")
    return out.select("url", F.col("depth").cast("long").alias("depth"),
                      "text")


def _iwork_wrap_udf():
    """Deterministic single-page Pages '09 package per row (zip of
    buildVersionHistory.plist + index.xml with publication-info and
    one sf:p paragraph)."""
    import io
    import zipfile

    def build(i, t):
        xml = (
            '<?xml version="1.0"?><sl:document xmlns:sl='
            '"http://developer.apple.com/namespaces/sl" xmlns:sf='
            '"http://developer.apple.com/namespaces/sf" xmlns:sfa='
            '"http://developer.apple.com/namespaces/sfa">'
            '<sl:publication-info><sf:title>'
            f'<sl:string sfa:string="P{i}"/></sf:title>'
            '</sl:publication-info>'
            f'<sf:page-start/><sf:p>{t}</sf:p></sl:document>')
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            d = (1980, 1, 1, 0, 0, 0)
            zf.writestr(
                zipfile.ZipInfo("buildVersionHistory.plist", d),
                "<plist/>")
            zf.writestr(zipfile.ZipInfo("index.xml", d), xml)
        return buf.getvalue()
    return _by_id_text(build)


@query("extract_iwork_pages", oracle=(
    "SELECT 'doc://' || doc_id || '.pages' AS url, "
    "'application/vnd.apple.pages' AS mime, "
    "'P' || doc_id AS title, text || chr(10) AS text "
    "FROM documents WHERE lang = 'en'"))
def _q_extract_iwork_pages(spark, sf_dir):
    """iWork oracle: zip container refinement names vnd.apple.pages
    from the root QName; Pages handler emits publication-info title +
    per-page paragraph text (IWorkPackageParser + PagesContentHandler
    parity; en docs — plain ascii, no XML escaping needed)."""
    wrap = _iwork_wrap_udf()
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    pages = docs.select(
        _doc_url(".pages").alias("url"),
        wrap(F.col("doc_id"), F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


def _archive_wrap_udf():
    """doc_id%5 → gzip | bz2 | ar | cpio | xz single-member archive of
    the document text (E6's remaining container formats)."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma

    def ar_bytes(name, data):
        hdr = (f"{name:<16.16}{0:<12}{0:<6}{0:<6}{'100644':<8}"
               f"{len(data):<10}").encode() + b"\x60\x0a"
        return (b"!<arch>\n" + hdr + data
                + (b"\n" if len(data) % 2 else b""))

    def cpio_bytes(name, data):
        def rec(nm, d):
            hdr = (b"070701"
                   + (f"{0:08X}{0o100644:08X}{0:08X}{0:08X}{1:08X}"
                      f"{0:08X}{len(d):08X}{0:08X}{0:08X}{0:08X}"
                      f"{0:08X}{len(nm) + 1:08X}{0:08X}").encode())
            body = hdr + nm.encode() + b"\x00"
            body += b"\x00" * ((4 - len(body) % 4) % 4)
            body += d
            body += b"\x00" * ((4 - len(d) % 4) % 4)
            return body
        return rec(name, data) + rec("TRAILER!!!", b"")

    def build(i, t):
        data = (t or "").encode("utf-8")
        if i % 5 == 0:
            return _gzip.compress(data, mtime=0)
        elif i % 5 == 1:
            return _bz2.compress(data)
        elif i % 5 == 2:
            return ar_bytes("doc.txt", data)
        elif i % 5 == 3:
            return cpio_bytes("doc.txt", data)
        else:
            return _lzma.compress(data)
    return _by_id_text(build)


@query("extract_recursive_archives", oracle=(
    "WITH f AS (SELECT doc_id, text, CASE doc_id % 5 "
    "WHEN 0 THEN 'gz' WHEN 1 THEN 'bz2' WHEN 2 THEN 'ar' "
    "WHEN 3 THEN 'cpio' ELSE 'xz' END AS ext, "
    "CASE WHEN doc_id % 5 IN (2, 3) THEN 'doc.txt' "
    "ELSE doc_id::VARCHAR END AS member "
    "FROM documents) "
    "SELECT 'doc://' || doc_id || '.' || ext AS url, "
    "CAST(0 AS BIGINT) AS depth, member || chr(10) AS text "
    "FROM f UNION ALL "
    "SELECT 'doc://' || doc_id || '.' || ext || '!/' || "
    "member AS url, CAST(1 AS BIGINT) AS depth, "
    "text || chr(10) AS text FROM f"))
def _q_extract_recursive_archives(spark, sf_dir):
    """E6/F1 over the remaining archive formats: gzip, bz2, and xz
    member names derive from the stripped resource name; ar and cpio
    carry their entry names; every member re-enters the pipeline as a
    depth-1 text/plain child."""
    wrap = _archive_wrap_udf()
    ext = F.element_at(
        F.array(F.lit("gz"), F.lit("bz2"), F.lit("ar"),
                F.lit("cpio"), F.lit("xz")),
        (F.pmod("doc_id", F.lit(5)) + 1).cast("int"))
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id"), F.col("text")),
                   F.concat(F.lit("."), ext))
    out = extract_recursive(pages, mode="text")
    return out.select("url", F.col("depth").cast("long").alias("depth"),
                      "text")


def _tnef_wrap_udf():
    """TNEF (winmail.dat) per row: signature + key + level-prefixed
    subject/body attributes (MS-OXTNEF layout)."""
    import struct

    def attr(level, attr_id, attr_type, payload):
        checksum = sum(payload) & 0xFFFF
        return (bytes([level]) + struct.pack("<HH", attr_id, attr_type)
                + struct.pack("<I", len(payload)) + payload
                + struct.pack("<H", checksum))

    def build(i, t):
        parts = [struct.pack("<IH", 0x223E9F78, 0x1234),
                 attr(1, 0x8004, 0x0001,
                      f"Doc {i}".encode("cp1252") + b"\x00"),
                 attr(1, 0x800C, 0x0002,
                      (t or "").encode("cp1252", "replace")
                      + b"\x00")]
        return b"".join(parts)
    return _by_id_text(build)


@query("extract_tnef_text", oracle=(
    "SELECT 'doc://' || doc_id || '.dat' AS url, "
    "'application/vnd.ms-tnef' AS mime, "
    "'Doc ' || doc_id AS title, "
    "'Doc ' || doc_id || chr(10) || text || chr(10) AS text "
    "FROM documents WHERE lang = 'en' AND length(text) > 0"))
def _q_extract_tnef_text(spark, sf_dir):
    """E5 TNEF oracle: attribute-stream walk — subject heading + body
    (cp1252; en docs are ascii-safe)."""
    wrap = _tnef_wrap_udf()
    docs = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & (F.length("text") > 0))
    pages = docs.select(
        _doc_url(".dat").alias("url"),
        wrap(F.col("doc_id"), F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


@query("extract_unknown_fallback", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    "'application/octet-stream' AS mime, "
    "'no_parser' AS status, '' AS text FROM documents"))
def _q_extract_unknown_fallback(spark, sf_dir):
    """E13 oracle: a payload matching no magic rule on an
    extension-less url falls through the whole lattice to
    octet-stream and produces the EmptyParser-style no_parser status
    row (never a failure) with empty text."""
    payload = F.concat(
        F.lit(b"\xde\xad\xbe\xef\x99\x88\x77\x66"),
        F.encode(F.col("doc_id").cast("string"), "UTF-8"),
        F.lit(b"\xfe\xfe\xfe\xfe\x01\x02\x03\x04\x05\x06\x07\x08"
              b"\x90\x91\x92\x93\x94\x95\x96\x97"))
    pages = _pages(spark, sf_dir, payload)
    out = extract(pages, mode="text")
    return out.select("url", "mime", "status", "text")


@query("extract_spans", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    "2::BIGINT AS n_spans, 0::BIGINT AS s1_start, "
    "length('Doc ' || doc_id)::BIGINT AS s1_end, "
    "'p' AS s1_kind, "
    "(length('Doc ' || doc_id) + 1)::BIGINT AS s2_start, "
    "(length('Doc ' || doc_id) + 1 + length(text))::BIGINT "
    "AS s2_end FROM documents "
    "WHERE lang = 'en' AND length(text) > 0"))
def _q_extract_spans(spark, sf_dir):
    """A3/C5 span offsets oracle: the per-block [start, end) offsets
    into the emitted text (the north rule's "text+spans" contract) —
    two paragraphs whose boundaries are computable in SQL from the
    fixture shape."""
    html = F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>T</title>'
              "</head><body><p>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</p><p>"), F.col("text"),
        F.lit("</p></body></html>")), "UTF-8")
    docs = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & (F.length("text") > 0))
    pages = docs.select(
        _doc_url().alias("url"),
        html.alias("html"))
    out = extract(pages, mode="text")
    sp = F.col("spans")
    return out.select(
        "url", F.size(sp).cast("long").alias("n_spans"),
        sp[0]["start"].cast("long").alias("s1_start"),
        sp[0]["end"].cast("long").alias("s1_end"),
        sp[0]["kind"].alias("s1_kind"),
        sp[1]["start"].cast("long").alias("s2_start"),
        sp[1]["end"].cast("long").alias("s2_end"))


@query("extract_xml_routes", oracle=(
    "SELECT 'doc://' || doc_id || (CASE doc_id % 2 WHEN 0 "
    "THEN '.abw' ELSE '.fb2' END) AS url, "
    "CASE doc_id % 2 WHEN 0 THEN 'application/x-abiword' "
    "ELSE 'application/x-fictionbook+xml' END AS mime, "
    "text || chr(10) AS text FROM documents "
    "WHERE lang = 'en'"))
def _q_extract_xml_routes(spark, sf_dir):
    """Root-XML refinement routes: AbiWord (even doc_ids) and
    FictionBook (odd) resolve from the root element and extract
    through the generic XML chain (en docs, ascii-safe)."""
    did = F.col("doc_id")
    even = F.pmod("doc_id", F.lit(2)) == 0
    abw = F.concat(
        F.lit('<?xml version="1.0"?><abiword xmlns='
              '"http://www.abisource.com/awml.dtd"><section><p>'),
        F.col("text"), F.lit("</p></section></abiword>"))
    fb2 = F.concat(
        F.lit('<?xml version="1.0"?><FictionBook xmlns='
              '"http://www.gribuser.ru/xml/fictionbook/2.0"><body>'
              "<p>"),
        F.col("text"), F.lit("</p></body></FictionBook>"))
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    pages = docs.select(
        F.concat(F.lit("doc://"), did,
                 F.when(even, F.lit(".abw")).otherwise(F.lit(".fb2")))
        .alias("url"),
        F.encode(F.when(even, abw).otherwise(fb2), "UTF-8")
        .alias("html"))
    return extract(pages, mode="text").select("url", "mime", "text")


@query("extract_feed_text", oracle=(
    "SELECT 'doc://' || doc_id || (CASE doc_id % 2 WHEN 0 "
    "THEN '.rss' ELSE '.atom' END) AS url, "
    "(CASE doc_id % 2 WHEN 0 THEN 'application/rss+xml' "
    "ELSE 'application/atom+xml' END) AS mime, "
    "'Feed ' || doc_id AS title, "
    "'Feed ' || doc_id || chr(10) || text || chr(10) || chr(9) "
    "|| 'Doc ' || doc_id || chr(10) || text || chr(10) || "
    "chr(10) AS text, CAST(1 AS BIGINT) AS n_links "
    "FROM documents"))
def _q_extract_feed_text(spark, sf_dir):
    """E3: feed walk, both syndication formats — RSS 2.0
    channel+item on even doc_ids, Atom 1.0 feed+entry on odd — with
    identical emit shape (title/description heading, one TAB-indented
    item line per entry, item links; feed/FeedParser.java ROME
    normalization)."""
    did = F.col("doc_id").cast("string")
    rss = F.concat(
        F.lit("<?xml version='1.0'?><rss version='2.0'><channel>"
              "<title>Feed "), did,
        F.lit("</title><description>"), F.col("text"),
        F.lit("</description><item><title>Doc "), did,
        F.lit("</title><link>http://example.com/d"), did,
        F.lit("</link><description>"), F.col("text"),
        F.lit("</description></item></channel></rss>"))
    atom = F.concat(
        F.lit("<?xml version='1.0'?><feed "
              "xmlns='http://www.w3.org/2005/Atom'><title>Feed "), did,
        F.lit("</title><subtitle>"), F.col("text"),
        F.lit("</subtitle><entry><title>Doc "), did,
        F.lit("</title><link href='http://example.com/d"), did,
        F.lit("'/><summary>"), F.col("text"),
        F.lit("</summary></entry></feed>"))
    even = F.pmod("doc_id", F.lit(2)) == 0
    pages = _pages(spark, sf_dir,
                   F.encode(F.when(even, rss).otherwise(atom), "UTF-8"),
                   F.when(even, F.lit(".rss")).otherwise(F.lit(".atom")))
    out = extract(pages, mode="text")
    return out.select("url", "mime", "title", "text",
                      F.size("links").cast("long").alias("n_links"))


def _office_zip_udf(kind: str):
    """Deterministic OOXML/ODF/EPUB zip builder per document row
    (E8-E10 fixture chain: zip magic → container refinement →
    format-specific XML part extraction)."""
    import io
    import zipfile

    def zip_bytes(entries, first_stored=None):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            if first_stored:
                zf.writestr(first_stored[0], first_stored[1],
                            compress_type=zipfile.ZIP_STORED)
            for name, payload in entries.items():
                zf.writestr(name, payload)
        return buf.getvalue()

    def build(i, text):
        title = f"Doc {i}".encode()
        body = (text or "").encode()
        if kind == "docx":
            return zip_bytes({
                "[Content_Types].xml":
                    b'<Types xmlns="http://schemas.openxmlformats.'
                    b'org/package/2006/content-types"><Override '
                    b'PartName="/word/document.xml" ContentType='
                    b'"application/vnd.openxmlformats-officedocument'
                    b'.wordprocessingml.document.main+xml"/></Types>',
                "docProps/core.xml":
                    b'<cp:coreProperties xmlns:cp="http://schemas.'
                    b'openxmlformats.org/package/2006/metadata/'
                    b'core-properties" xmlns:dc="http://purl.org/dc/'
                    b'elements/1.1/"><dc:title>' + title
                    + b'</dc:title><dc:creator>Crawl Bot'
                    b'</dc:creator></cp:coreProperties>',
                "word/_rels/document.xml.rels":
                    b'<Relationships xmlns="http://schemas.'
                    b'openxmlformats.org/package/2006/relationships">'
                    b'<Relationship Id="rId1" Type="t" '
                    b'Target="header1.xml"/>'
                    b'<Relationship Id="rId2" Type="t" '
                    b'Target="footer1.xml"/></Relationships>',
                "word/header1.xml":
                    b'<w:hdr xmlns:w="http://schemas.openxml'
                    b'formats.org/wordprocessingml/2006/main">'
                    b'<w:p><w:r><w:t>Header ' + title
                    + b'</w:t></w:r></w:p></w:hdr>',
                "word/footer1.xml":
                    b'<w:ftr xmlns:w="http://schemas.openxml'
                    b'formats.org/wordprocessingml/2006/main">'
                    b'<w:p><w:r><w:t>Footer ' + title
                    + b'</w:t></w:r></w:p></w:ftr>',
                "word/footnotes.xml":
                    b'<w:footnotes xmlns:w="http://schemas.openxml'
                    b'formats.org/wordprocessingml/2006/main">'
                    b'<w:footnote w:id="1"><w:p><w:r><w:t>Footnote'
                    b' for ' + title
                    + b'</w:t></w:r></w:p></w:footnote>'
                    b'</w:footnotes>',
                "word/comments.xml":
                    b'<w:comments xmlns:w="http://schemas.openxml'
                    b'formats.org/wordprocessingml/2006/main">'
                    b'<w:comment w:id="0" w:author="Rev"><w:p>'
                    b'<w:r><w:t>Check ' + title
                    + b'</w:t></w:r></w:p></w:comment>'
                    b'</w:comments>',
                "word/document.xml":
                    b'<w:document xmlns:w="http://schemas.'
                    b'openxmlformats.org/wordprocessingml/2006/main"'
                    b' xmlns:r="http://schemas.openxmlformats.org/'
                    b'officeDocument/2006/relationships">'
                    b'<w:body><w:p><w:commentRangeStart w:id="0"/>'
                    b'<w:r><w:t>' + body
                    + b'</w:t></w:r><w:r><w:footnoteReference '
                    b'w:id="1"/></w:r></w:p><w:sectPr>'
                    b'<w:headerReference w:type="default" '
                    b'r:id="rId1"/><w:footerReference '
                    b'w:type="default" r:id="rId2"/></w:sectPr>'
                    b'</w:body></w:document>'})
        elif kind == "odt":
            return zip_bytes({
                "meta.xml":
                    b'<office:document-meta xmlns:office="urn:oasis:'
                    b'names:tc:opendocument:xmlns:office:1.0" '
                    b'xmlns:dc="http://purl.org/dc/elements/1.1/">'
                    b'<office:meta><dc:title>' + title
                    + b'</dc:title></office:meta>'
                    b'</office:document-meta>',
                "content.xml":
                    b'<office:document-content xmlns:office="urn:'
                    b'oasis:names:tc:opendocument:xmlns:office:1.0" '
                    b'xmlns:text="urn:oasis:names:tc:opendocument:'
                    b'xmlns:text:1.0"><office:body><office:text>'
                    b'<text:p>' + body + b'</text:p></office:text>'
                    b'</office:body></office:document-content>'},
                first_stored=(
                    "mimetype",
                    b"application/vnd.oasis.opendocument.text"))
        elif kind == "xlsx":
            return zip_bytes({
                "[Content_Types].xml":
                    b'<Types xmlns="http://schemas.openxmlformats.'
                    b'org/package/2006/content-types"><Override '
                    b'PartName="/xl/workbook.xml" ContentType='
                    b'"application/vnd.openxmlformats-officedocument'
                    b'.spreadsheetml.sheet.main+xml"/></Types>',
                "docProps/core.xml":
                    b'<cp:coreProperties xmlns:cp="http://schemas.'
                    b'openxmlformats.org/package/2006/metadata/'
                    b'core-properties" xmlns:dc="http://purl.org/dc/'
                    b'elements/1.1/"><dc:title>' + title
                    + b'</dc:title></cp:coreProperties>',
                "xl/workbook.xml":
                    b'<workbook xmlns="http://schemas.openxml'
                    b'formats.org/spreadsheetml/2006/main" '
                    b'xmlns:r="http://schemas.openxmlformats.org/'
                    b'officeDocument/2006/relationships"><sheets>'
                    b'<sheet name="Data" sheetId="1" r:id="rId1"/>'
                    b'</sheets></workbook>',
                "xl/_rels/workbook.xml.rels":
                    b'<Relationships xmlns="http://schemas.openxml'
                    b'formats.org/package/2006/relationships">'
                    b'<Relationship Id="rId1" Type="t" '
                    b'Target="worksheets/sheet1.xml"/>'
                    b'</Relationships>',
                "xl/worksheets/_rels/sheet1.xml.rels":
                    b'<Relationships xmlns="http://schemas.openxml'
                    b'formats.org/package/2006/relationships">'
                    b'<Relationship Id="rId7" Type="t" '
                    b'Target="../comments1.xml"/></Relationships>',
                "xl/comments1.xml":
                    b'<comments xmlns="http://schemas.openxml'
                    b'formats.org/spreadsheetml/2006/main">'
                    b'<authors><author>QA</author></authors>'
                    b'<commentList><comment ref="A2" authorId="0">'
                    b'<text><r><t>verify ' + title
                    + b'</t></r></text></comment></commentList>'
                    b'</comments>',
                "xl/sharedStrings.xml":
                    b'<sst xmlns="http://schemas.openxmlformats.'
                    b'org/spreadsheetml/2006/main"><si><t>' + title
                    + b'</t></si><si><t>' + body
                    + b'</t></si></sst>',
                "xl/worksheets/sheet1.xml":
                    b'<worksheet xmlns="http://schemas.'
                    b'openxmlformats.org/spreadsheetml/2006/main">'
                    b'<sheetData><row><c r="A1" t="s"><v>0</v></c>'
                    b'<c r="B1" t="s"><v>1</v></c></row>'
                    b'<row><c r="A2"><v>'
                    + str(i).encode() + b'</v></c></row>'
                    b'</sheetData><headerFooter><oddHeader>&amp;C'
                    + title + b' header</oddHeader><oddFooter>'
                    b'&amp;C' + title + b' footer</oddFooter>'
                    b'</headerFooter></worksheet>'})
        elif kind == "pptx":
            return zip_bytes({
                "[Content_Types].xml":
                    b'<Types xmlns="http://schemas.openxmlformats.'
                    b'org/package/2006/content-types"><Override '
                    b'PartName="/ppt/presentation.xml" ContentType='
                    b'"application/vnd.openxmlformats-officedocument'
                    b'.presentationml.presentation.main+xml"/>'
                    b'</Types>',
                "docProps/core.xml":
                    b'<cp:coreProperties xmlns:cp="http://schemas.'
                    b'openxmlformats.org/package/2006/metadata/'
                    b'core-properties" xmlns:dc="http://purl.org/dc/'
                    b'elements/1.1/"><dc:title>' + title
                    + b'</dc:title></cp:coreProperties>',
                "ppt/slides/slide1.xml":
                    b'<p:sld xmlns:a="http://schemas.openxmlformats'
                    b'.org/drawingml/2006/main" xmlns:p="http://'
                    b'schemas.openxmlformats.org/presentationml/'
                    b'2006/main"><p:cSld><p:spTree><p:sp><p:txBody>'
                    b'<a:p><a:r><a:t>' + body + b'</a:t></a:r>'
                    b'</a:p></p:txBody></p:sp></p:spTree></p:cSld>'
                    b'</p:sld>',
                "ppt/slides/_rels/slide1.xml.rels":
                    b'<Relationships xmlns="http://schemas.openxml'
                    b'formats.org/package/2006/relationships">'
                    b'<Relationship Id="rId2" Type="t" '
                    b'Target="../notesSlides/notesSlide1.xml"/>'
                    b'<Relationship Id="rId3" Type="t" '
                    b'Target="../comments/comment1.xml"/>'
                    b'</Relationships>',
                "ppt/notesSlides/notesSlide1.xml":
                    b'<p:notes xmlns:a="http://schemas.openxml'
                    b'formats.org/drawingml/2006/main" xmlns:p='
                    b'"http://schemas.openxmlformats.org/'
                    b'presentationml/2006/main"><p:cSld><p:spTree>'
                    b'<p:sp><p:txBody><a:p><a:r><a:t>Notes for '
                    + title + b'</a:t></a:r></a:p></p:txBody>'
                    b'</p:sp></p:spTree></p:cSld></p:notes>',
                "ppt/comments/comment1.xml":
                    b'<p:cmLst xmlns:p="http://schemas.openxml'
                    b'formats.org/presentationml/2006/main">'
                    b'<p:cm authorId="0"><p:text>Comment on '
                    + title + b'</p:text></p:cm></p:cmLst>'})
        else:  # epub
            return zip_bytes({
                "content.opf":
                    b'<package xmlns:dc="http://purl.org/dc/'
                    b'elements/1.1/"><metadata><dc:title>' + title
                    + b'</dc:title></metadata></package>',
                "ch1.xhtml":
                    b"<html><body><p>" + body
                    + b"</p></body></html>"},
                first_stored=("mimetype",
                          b"application/epub+zip"))
    return _by_id_text(build)


def _q_office_zip(kind: str, ext: str):
    def q(spark, sf_dir):
        wrap = _office_zip_udf(kind)
        pages = _pages(spark, sf_dir, wrap(F.col("doc_id"), F.col("text")),
                       "." + ext)
        return extract(pages, mode="text").select("url", "mime",
                                                  "title", "text")
    return q


query("extract_docx_text", oracle=(
    # XWPFWordExtractorDecorator emit order: header lines,
    # body paragraph + comment + footnote text, footer lines
    "SELECT 'doc://' || doc_id || '.docx' AS url, "
    "'application/vnd.openxmlformats-officedocument."
    "wordprocessingml.document' AS mime, "
    "'Doc ' || doc_id AS title, "
    "'Header Doc ' || doc_id || chr(10) || text || chr(9) || "
    "'Comment by Rev: Check Doc ' || doc_id || "
    "'[1: Footnote for Doc ' || doc_id || '] ' || chr(10) || "
    "'Footer Doc ' || doc_id || chr(10) AS text "
    "FROM documents"))(_q_office_zip("docx", "docx"))

query("extract_odt_text", oracle=(
    "SELECT 'doc://' || doc_id || '.odt' AS url, "
    "'application/vnd.oasis.opendocument.text' AS mime, "
    "'Doc ' || doc_id AS title, text || chr(10) AS text "
    "FROM documents"))(_q_office_zip("odt", "odt"))

query("extract_epub_text", oracle=(
    "SELECT 'doc://' || doc_id || '.epub' AS url, "
    "'application/epub+zip' AS mime, "
    "'Doc ' || doc_id AS title, text || chr(10) AS text "
    "FROM documents"))(_q_office_zip("epub", "epub"))

query("extract_xlsx_text", oracle=(
    # XSSFExcelExtractorDecorator order: sheet name, rows
    # (comment after its cell), headers, footers
    "SELECT 'doc://' || doc_id || '.xlsx' AS url, "
    "'application/vnd.openxmlformats-officedocument."
    "spreadsheetml.sheet' AS mime, "
    "'Doc ' || doc_id AS title, "
    "'Data' || chr(10) || "
    "'Doc ' || doc_id || chr(9) || text || chr(10) || doc_id "
    "|| chr(10) || 'QA: verify Doc ' || doc_id || chr(10) || "
    "'Doc ' || doc_id || ' header' || chr(10) || "
    "'Doc ' || doc_id || ' footer' || chr(10) "
    "AS text FROM documents"))(_q_office_zip("xlsx", "xlsx"))


@query("extract_pptx_text", oracle=(
    # XSLFPowerPointExtractorDecorator order: shapes,
    # comments, notes shapes
    "SELECT 'doc://' || doc_id || '.pptx' AS url, "
    "'application/vnd.openxmlformats-officedocument."
    "presentationml.presentation' AS mime, "
    "'Doc ' || doc_id AS title, "
    "text || chr(10) || 'Comment on Doc ' || doc_id || "
    "chr(10) || 'Notes for Doc ' || doc_id || chr(10) "
    "AS text FROM documents "
    "WHERE length(text) > 0"))
def _q_extract_pptx_text(spark, sf_dir):
    """E8 pptx: slide-run text through the OOXML chain (non-empty
    docs — an empty slide run has no deterministic paragraph)."""
    wrap = _office_zip_udf("pptx")
    docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
    pages = docs.select(
        _doc_url(".pptx").alias("url"),
        wrap(F.col("doc_id"), F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


def _ole_wrap_udf(kind: str):
    """Deterministic OLE2 .xls / .ppt / .msg per row (E7 CFB chain:
    BIFF8 SST+cells, PowerPoint text atoms, Outlook property
    streams)."""
    from tika_spark.fixtures.olegen import make_msg, make_ppt, make_xls

    def build(i, t):
        t = t or ""
        if kind == "xls":
            return make_xls(
                {"Sheet1": [[f"Doc {i}", t], [i]]},
                title=f"T{i}")
        elif kind == "ppt":
            return make_ppt([f"Doc {i}", t], title=f"T{i}")
        else:
            return make_msg(f"Doc {i}", t)
    return _by_id_text(build)


def _q_ole_kind(kind: str, ext: str):
    def q(spark, sf_dir):
        wrap = _ole_wrap_udf(kind)
        docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
        pages = docs.select(
            F.concat(F.lit("doc://"), F.col("doc_id"),
                     F.lit("." + ext)).alias("url"),
            wrap(F.col("doc_id"), F.col("text")).alias("html"))
        return extract(pages, mode="text").select("url", "mime",
                                                  "title", "text")
    return q


query("extract_xls_text", oracle=(
    "SELECT 'doc://' || doc_id || '.xls' AS url, "
    "'application/vnd.ms-excel' AS mime, "
    "'T' || doc_id AS title, "
    "'Sheet1' || chr(10) || 'Doc ' || doc_id || chr(9) || text "
    "|| chr(10) || doc_id || chr(10) AS text "
    "FROM documents WHERE length(text) > 0"))(_q_ole_kind("xls", "xls"))

query("extract_ppt_text", oracle=(
    "SELECT 'doc://' || doc_id || '.ppt' AS url, "
    "'application/vnd.ms-powerpoint' AS mime, "
    "'T' || doc_id AS title, "
    "'Doc ' || doc_id || chr(10) || text || chr(10) AS text "
    "FROM documents WHERE length(text) > 0"))(_q_ole_kind("ppt", "ppt"))

query("extract_msg_text", oracle=(
    "SELECT 'doc://' || doc_id || '.msg' AS url, "
    "'application/vnd.ms-outlook' AS mime, "
    "'Doc ' || doc_id AS title, text || chr(10) AS text "
    "FROM documents WHERE length(text) > 0"))(_q_ole_kind("msg", "msg"))


def _doc95_wrap_udf():
    """Word 95 (pre-piece-table) .doc per row (E7 legacy layout)."""
    from tika_spark.fixtures.olegen import make_doc95

    def build(i, t):
        return make_doc95([f"Doc {i}", t or ""])
    return _by_id_text(build)


@query("extract_doc95_text", oracle=(
    "SELECT 'doc://' || doc_id || '.doc' AS url, "
    "'application/msword' AS mime, "
    "'Doc ' || doc_id || chr(10) || text || chr(10) AS text "
    "FROM documents WHERE lang = 'en' AND length(text) > 0"))
def _q_extract_doc95_text(spark, sf_dir):
    """E7 legacy: Word 6/95 layout (no CLX piece table — contiguous
    cp1252 text run) through the same OLE chain."""
    wrap = _doc95_wrap_udf()
    docs = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & (F.length("text") > 0))
    pages = docs.select(
        _doc_url(".doc").alias("url"),
        wrap(F.col("doc_id"), F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "text")


def _visio_pub_wrap_udf():
    """doc_id%2 → Visio .vsd (HDGF pointer tree + LZSS chunk stream,
    compressed for half the rows) | Publisher .pub (Quill CONTENTS
    TEXT bits). Two stories per document: a ``Doc {id}`` heading and
    the document text."""
    from tika_spark.fixtures.olegen import make_pub, make_visio

    def build(i, t):
        t = t or ""
        if i % 2 == 0:
            return make_visio([f"Doc {i}", t], title=f"T{i}",
                              compress=(i % 4 == 0))
        else:
            return make_pub([f"Doc {i}", t], title=f"T{i}")
    return _by_id_text(build)


@query("extract_visio_pub", oracle=(
    "SELECT 'doc://' || doc_id || "
    "CASE doc_id % 2 WHEN 0 THEN '.vsd' ELSE '.pub' END "
    "AS url, "
    "CASE doc_id % 2 WHEN 0 THEN 'application/vnd.visio' "
    "ELSE 'application/x-mspublisher' END AS mime, "
    "'T' || doc_id AS title, "
    "'Doc ' || doc_id || chr(10) || text || chr(10) || "
    "CASE doc_id % 2 WHEN 0 THEN '' ELSE chr(10) END AS text "
    "FROM documents WHERE length(text) > 0"))
def _q_extract_visio_pub(spark, sf_dir):
    """E7 Visio/Publisher text chains (OfficeParser.java:197-218):
    every story is one <p> — Visio emits story+LF per story, Publisher
    emits the TEXT-bit accumulation wrapped in a single <p>."""
    wrap = _visio_pub_wrap_udf()
    docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
    ext = F.when(F.col("doc_id") % 2 == 0, ".vsd").otherwise(".pub")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id"), ext).alias("url"),
        wrap(F.col("doc_id"), F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


@query("extract_fodt_text", oracle=(
    "SELECT 'doc://' || doc_id || '.fodt' AS url, "
    "'application/vnd.oasis.opendocument.flat.text' AS mime, "
    "text || chr(10) AS text FROM documents "
    "WHERE lang = 'en'"))
def _q_extract_fodt_text(spark, sf_dir):
    """Flat (single-XML) ODF route: office:mimetype root attribute
    refinement, text:p paragraphs (FlatOpenDocumentParser parity)."""
    xml = F.encode(F.concat(
        F.lit('<?xml version="1.0"?><office:document xmlns:office='
              '"urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
              'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:'
              'text:1.0" office:mimetype='
              '"application/vnd.oasis.opendocument.text">'
              '<office:body><office:text><text:p>'),
        F.col("text"),
        F.lit("</text:p></office:text></office:body>"
              "</office:document>")), "UTF-8")
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    pages = docs.select(
        _doc_url(".fodt").alias("url"), xml.alias("html"))
    return extract(pages, mode="text").select("url", "mime", "text")


@query("extract_xhtml", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    "'<html xmlns=\"http://www.w3.org/1999/xhtml\">' || chr(10) "
    "|| '<head>' || chr(10) || '<title>Doc ' || doc_id || "
    "'</title>' || chr(10) || '</head>' || chr(10) || "
    "'<body><p>' || text || '</p>' || chr(10) || '</body>' || "
    "chr(10) || '</html>' AS text FROM documents"))
def _q_extract_xhtml(spark, sf_dir):
    """A4: normalized-XHTML sink (lazy-head skeleton, resolved hrefs,
    XHTMLContentHandler.java:124-196 contract) — byte-exact serialized
    document per url."""
    pages = _pages(spark, sf_dir, _html_wrap())
    return extract(pages, mode="xhtml").select("url", "text")


def _png_udf():
    """Deterministic minimal PNG per document (E12 fixture builder)."""
    import struct
    import zlib

    def build(i):
        w, h = 16 + i % 640, 16 + (i * 3) % 480
        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        chunk = b"IHDR" + ihdr
        return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr))
                + chunk + struct.pack(">I", zlib.crc32(chunk)))
    return _by_id(build)


@query("extract_media_dims", oracle=(
    "SELECT 'doc://' || doc_id || '.png' AS url, "
    "'image/png' AS mime, "
    "(16 + doc_id % 640)::BIGINT AS width, "
    "(16 + (doc_id * 3) % 480)::BIGINT AS height FROM documents"))
def _q_extract_media_dims(spark, sf_dir):
    png = _png_udf()
    pages = _pages(spark, sf_dir, png(F.col("doc_id")), ".png")
    out = extract(pages, mode="text")
    width = F.element_at(F.col("metadata"), "width")[0]
    height = F.element_at(F.col("metadata"), "height")[0]
    return out.select("url", "mime",
                      width.cast("long").alias("width"),
                      height.cast("long").alias("height"))


@query("media_heif_meta", oracle=(
    # ispe extents are pure doc_id arithmetic; thumbnails
    # (odd ids) are strictly smaller and must lose
    "SELECT 'doc://' || doc_id AS url, "
    "CASE WHEN doc_id % 2 = 0 THEN 'image/avif' "
    "ELSE 'image/heic' END AS mime, "
    "(64 + (doc_id * 13) % 1920)::BIGINT AS width, "
    "(48 + (doc_id * 7) % 1080)::BIGINT AS height "
    "FROM documents"))
def _q_media_heif_meta(spark, sf_dir):
    """AVIF/HEIC dimensions through the staged metadata pipeline:
    ISO-BMFF meta/iprp/ipco walk to the ispe extents
    (analysis/isobmff.py heif_dims); every odd id carries a smaller
    thumbnail ispe that must lose to the primary extent. Detection
    is the ftyp-brand magic; the reference's image tier is
    dimensions-only, matched here for the two modern web formats it
    predates."""
    from tika_spark.analysis.isobmff import heif_bytes

    def build(i):
        w = 64 + (i * 13) % 1920
        h = 48 + (i * 7) % 1080
        brand = b"avif" if i % 2 == 0 else b"heic"
        thumb = (w // 4, h // 4) if i % 2 else None
        return heif_bytes(w, h, brand=brand, thumb=thumb)

    pages = _pages(spark, sf_dir, _by_id(build)(F.col("doc_id")))
    out = extract(pages, mode="metadata")
    md = F.col("metadata")
    return out.select(
        "url", "mime",
        F.element_at(md["width"], 1).cast("long").alias("width"),
        F.element_at(md["height"], 1).cast("long").alias("height"))


@query("media_jxl_meta", oracle=(
    # three SizeHeader wire forms, all doc_id arithmetic;
    # ratio form: width = h * 16 / 9 floor
    "SELECT 'doc://' || doc_id || '.jxl' AS url, "
    "'image/jxl' AS mime, "
    "CASE doc_id % 3 "
    "WHEN 0 THEN 8 * (1 + (doc_id * 5) % 32) "
    "WHEN 1 THEN 64 + (doc_id * 13) % 3000 "
    "ELSE ((90 + (doc_id * 11) % 900) * 16) // 9 "
    "END::BIGINT AS width, "
    "CASE doc_id % 3 "
    "WHEN 0 THEN 8 * (1 + (doc_id * 3) % 32) "
    "WHEN 1 THEN 48 + (doc_id * 7) % 2000 "
    "ELSE 90 + (doc_id * 11) % 900 "
    "END::BIGINT AS height "
    "FROM documents"))
def _q_media_jxl_meta(spark, sf_dir):
    """JPEG XL dimensions through the staged metadata pipeline:
    LSB-first SizeHeader parse (small mode, U32 sizes, the 7-entry
    aspect-ratio table) for raw codestreams; ids rotate small-mode
    8x-multiple dims, explicit dims, and ratio-coded widths."""

    def jxl_bytes(w, h, small=False, ratio=0):
        bits = []

        def put(v, n):
            for k in range(n):
                bits.append((v >> k) & 1)

        def u32(v):
            for sel, n in enumerate((9, 13, 18, 30)):
                if v - 1 < (1 << n):
                    put(sel, 2)
                    put(v - 1, n)
                    return
            raise ValueError

        put(1 if small else 0, 1)
        if small:
            put(h // 8 - 1, 5)
        else:
            u32(h)
        put(ratio, 3)
        if ratio == 0:
            if small:
                put(w // 8 - 1, 5)
            else:
                u32(w)
        out = bytearray()
        for i2 in range(0, len(bits), 8):
            byte = 0
            for k, b in enumerate(bits[i2:i2 + 8]):
                byte |= b << k
            out.append(byte)
        return b"\xff\x0a" + bytes(out) + b"\x00" * 4

    def build(i):
        v = i % 3
        if v == 0:          # small mode: multiples of 8, <= 256
            w = 8 * (1 + (i * 5) % 32)
            h = 8 * (1 + (i * 3) % 32)
            return jxl_bytes(w, h, small=True)
        elif v == 1:        # explicit dims
            w = 64 + (i * 13) % 3000
            h = 48 + (i * 7) % 2000
            return jxl_bytes(w, h)
        else:               # 16:9 ratio-coded width
            h = 90 + (i * 11) % 900
            return jxl_bytes(0, h, ratio=5)

    pages = _pages(spark, sf_dir, _by_id(build)(F.col("doc_id")), ".jxl")
    out = extract(pages, mode="metadata")
    md = F.col("metadata")
    return out.select(
        "url", "mime",
        F.element_at(md["width"], 1).cast("long").alias("width"),
        F.element_at(md["height"], 1).cast("long").alias("height"))


def _swf_wrap_udf():
    """Uncompressed SWF header per row: version 9, 16-bit RECT fields
    in twips derived from doc_id."""

    def build(i):
        w = (100 + i % 800) * 20     # twips
        h = (100 + (i * 7) % 600) * 20
        nbits = 16
        bits = 0
        for v in (0, w, 0, h):
            bits = (bits << nbits) | v
        total = 5 + 4 * nbits
        pad = (8 - total % 8) % 8
        rect = ((nbits << (total - 5 + pad)) | (bits << pad)) \
            .to_bytes((total + pad) // 8, "big")
        body = rect + b"\x00" * 8
        hdr = b"FWS\x09" + (8 + len(body)).to_bytes(4, "little")
        return hdr + body
    return _by_id(build)


@query("media_swf_meta", oracle=(
    "SELECT 'doc://' || doc_id || '.swf' AS url, "
    "'application/x-shockwave-flash' AS mime, "
    "9::BIGINT AS version, "
    "(100 + doc_id % 800)::BIGINT AS width, "
    "(100 + (doc_id * 7) % 600)::BIGINT AS height "
    "FROM documents"))
def _q_media_swf_meta(spark, sf_dir):
    """E12 SWF oracle: version + variable-width RECT stage dimensions
    (twips/20) read from the header."""
    wrap = _swf_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id")), ".swf")
    out = extract(pages, mode="text")
    md = F.col("metadata")
    return out.select(
        "url", "mime",
        F.element_at(md, "swf-version")[0].cast("long").alias("version"),
        F.element_at(md, "width")[0].cast("long").alias("width"),
        F.element_at(md, "height")[0].cast("long").alias("height"))


def _mp3_wrap_udf():
    """ID3v2.3-tagged MP3 stub per row: TIT2/TPE1/TALB text frames
    (syncsafe tag size) ahead of an MPEG frame sync."""

    def frame(fid, text):
        payload = b"\x00" + text.encode("latin-1")
        return (fid + len(payload).to_bytes(4, "big")
                + b"\x00\x00" + payload)

    def build(i):
        frames = (frame(b"TIT2", f"Song {i}")
                  + frame(b"TPE1", f"Artist {i % 20}")
                  + frame(b"TALB", f"Album {i % 7}"))
        n = len(frames)
        size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F])
        return (b"ID3\x03\x00\x00" + size + frames
                + b"\xff\xfb\x90\x00" + b"\x00" * 32)
    return _by_id(build)


@query("media_id3_meta", oracle=(
    "SELECT 'doc://' || doc_id || '.mp3' AS url, "
    "'audio/mpeg' AS mime, 'Song ' || doc_id AS title, "
    "'Artist ' || (doc_id % 20) AS artist, "
    "'Album ' || (doc_id % 7) AS album FROM documents"))
def _q_media_id3_meta(spark, sf_dir):
    """E12 MP3 oracle: ID3v2.3 text frames (Mp3Parser/ID3v2Frame
    semantics) → title/Author/album metadata."""
    wrap = _mp3_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id")), ".mp3")
    out = extract(pages, mode="text")
    md = F.col("metadata")
    return out.select(
        "url", "mime", "title",
        F.element_at(md, "Author")[0].alias("artist"),
        F.element_at(md, "album")[0].alias("album"))


def _tiff_gps_wrap_udf():
    """Little-endian TIFF per row: IFD0 (dims + GPSInfo pointer) and a
    GPS IFD with DMS rationals derived from doc_id."""
    import struct

    def ifd_entry(tag, typ, count, value_or_off):
        return struct.pack("<HHII", tag, typ, count, value_or_off)

    def build(i):
        width, height = 32 + i % 500, 32 + (i * 3) % 400
        latd, latm = i % 90, i % 60
        lond, lonm = i % 180, (i * 3) % 60
        lat_ref = b"N\x00" if i % 2 == 0 else b"S\x00"
        lon_ref = b"E\x00" if i % 3 == 0 else b"W\x00"
        # IFD0 @8: 3 entries + next ptr
        gps_off = 8 + 2 + 3 * 12 + 4          # = 50
        gps_n = 4
        data_off = gps_off + 2 + gps_n * 12 + 4
        lat_rats = struct.pack("<IIIIII", latd, 1, latm, 1, 0, 1)
        lon_rats = struct.pack("<IIIIII", lond, 1, lonm, 1, 0, 1)
        ifd0 = struct.pack("<H", 3) \
            + ifd_entry(256, 3, 1, width) \
            + ifd_entry(257, 3, 1, height) \
            + ifd_entry(34853, 4, 1, gps_off) \
            + struct.pack("<I", 0)
        gps = struct.pack("<H", gps_n) \
            + ifd_entry(1, 2, 2,
                        int.from_bytes(lat_ref + b"\x00\x00",
                                       "little")) \
            + ifd_entry(2, 5, 3, data_off) \
            + ifd_entry(3, 2, 2,
                        int.from_bytes(lon_ref + b"\x00\x00",
                                       "little")) \
            + ifd_entry(4, 5, 3, data_off + 24) \
            + struct.pack("<I", 0)
        return (b"II*\x00" + struct.pack("<I", 8) + ifd0
                + gps + lat_rats + lon_rats)
    return _by_id(build)


@query("media_exif_gps", oracle=(
    "SELECT 'doc://' || doc_id || '.tif' AS url, "
    "'image/tiff' AS mime, "
    "printf('%.6f', (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 "
    "END) * ((doc_id % 90) + (doc_id % 60) / 60.0)) AS lat, "
    "printf('%.6f', (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 "
    "END) * ((doc_id % 180) + ((doc_id * 3) % 60) / 60.0)) "
    "AS lon FROM documents"))
def _q_media_exif_gps(spark, sf_dir):
    """E12 TIFF/EXIF oracle: IFD walk with GPS sub-IFD — DMS rationals
    to signed decimal geo:lat/geo:long (ImageMetadataExtractor GPS
    semantics)."""
    wrap = _tiff_gps_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id")), ".tif")
    out = extract(pages, mode="text")
    md = F.col("metadata")
    return out.select(
        "url", "mime",
        F.element_at(md, "geo:lat")[0].alias("lat"),
        F.element_at(md, "geo:long")[0].alias("lon"))


def _binmeta_wrap_udf():
    """doc_id%3 → TTF (name table) | FLV (onMetaData AMF0) | Java
    class file — the remaining E12 binary-metadata surfaces."""
    import struct as st

    def ttf(family, full):
        recs = [(1, family), (4, full)]
        strings = b""
        name_recs = b""
        for nid, val in recs:
            enc = val.encode("utf-16-be")
            name_recs += st.pack(">HHHHHH", 3, 1, 0x409, nid,
                                 len(enc), len(strings))
            strings += enc
        name_table = st.pack(">HHH", 0, len(recs),
                             6 + 12 * len(recs)) + name_recs + strings
        head = st.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
        rec = b"name" + st.pack(">III", 0, 12 + 16, len(name_table))
        return head + rec + name_table

    def flv(duration, width, height):
        def amf_str(s):
            return st.pack(">H", len(s)) + s.encode()
        body = (b"\x02" + amf_str("onMetaData") + b"\x08"
                + st.pack(">I", 3))
        for k, v in (("duration", duration), ("width", width),
                     ("height", height)):
            body += amf_str(k) + b"\x00" + st.pack(">d", float(v))
        body += st.pack(">H", 0) + b"\x09"
        tag = (b"\x12" + st.pack(">I", len(body))[1:] + b"\x00" * 7
               + body)
        return (b"FLV\x01\x05" + st.pack(">I", 9) + st.pack(">I", 0)
                + tag)

    def jclass(name):
        cp = (b"\x01" + st.pack(">H", len(name)) + name.encode()
              + b"\x07" + st.pack(">H", 1))
        return (b"\xca\xfe\xba\xbe" + st.pack(">HH", 0, 52)
                + st.pack(">H", 3) + cp + st.pack(">HH", 0x21, 2))

    def build(i):
        if i % 3 == 0:
            return ttf(f"Fam {i}", f"Fam {i} Regular")
        elif i % 3 == 1:
            return flv(float(10 + i % 50), 320 + i % 320,
                       240 + i % 240)
        else:
            return jclass(f"com/example/Widget{i}")
    return _by_id(build)


@query("media_binmeta", oracle=(
    "SELECT 'doc://' || doc_id || (CASE doc_id % 3 WHEN 0 "
    "THEN '.ttf' WHEN 1 THEN '.flv' ELSE '.class' END) AS "
    "url, CASE doc_id % 3 WHEN 0 THEN "
    "'application/x-font-ttf' WHEN 1 THEN 'video/x-flv' "
    "ELSE 'application/java-vm' END AS mime, "
    "CASE doc_id % 3 WHEN 0 THEN 'Fam ' || doc_id || "
    "' Regular' WHEN 2 THEN 'com.example.Widget' || doc_id "
    "END AS title, "
    "CASE WHEN doc_id % 3 = 1 THEN (320 + doc_id % 320) "
    "END::BIGINT AS width, "
    "CASE WHEN doc_id % 3 = 1 THEN (10 + doc_id % 50)"
    "::VARCHAR END AS duration FROM documents"))
def _q_media_binmeta(spark, sf_dir):
    """E12 oracle for the remaining binary-metadata parsers: TrueType
    name records (full name → title), FLV onMetaData (duration/width),
    Java class files (class name → title)."""
    wrap = _binmeta_wrap_udf()
    ext = F.element_at(F.array(F.lit("ttf"), F.lit("flv"),
                               F.lit("class")),
                       (F.pmod("doc_id", F.lit(3)) + 1).cast("int"))
    pages = _pages(spark, sf_dir, wrap(F.col("doc_id")),
                   F.concat(F.lit("."), ext))
    out = extract(pages, mode="text")
    md = F.col("metadata")
    return out.select(
        "url", "mime", "title",
        F.element_at(md, "width")[0].cast("long").alias("width"),
        F.element_at(md, "duration")[0].alias("duration"))


@query("extract_txt", oracle=(
    "SELECT 'doc://' || doc_id || '.txt' AS url, "
    "'text/plain' AS mime, 'utf-8' AS charset, "
    "text || chr(10) AS text FROM documents"))
def _q_extract_txt(spark, sf_dir):
    """E1 oracle: text/plain route — UTF-8 BOM detected then stripped,
    whole body in one block with the trailing block newline
    (txt/TXTParser.java:68-142 semantics)."""
    bom_text = F.concat(F.lit(b"\xef\xbb\xbf"),
                        F.encode(F.col("text"), "UTF-8"))
    pages = _pages(spark, sf_dir, bom_text, ".txt")
    return extract(pages, mode="text").select("url", "mime", "charset",
                                              "text")


@query("extract_xml_dc", oracle=(
    "SELECT 'doc://' || doc_id || '.xml' AS url, "
    "'application/xml' AS mime, 'T' || doc_id AS title, "
    "'T' || doc_id || text || chr(10) AS text "
    "FROM documents WHERE lang = 'en'"))
def _q_extract_xml_dc(spark, sf_dir):
    """E2 oracle: generic XML itertext + Dublin Core dc:title mapping
    (xml/XMLParser.java:37-82, DcXMLParser.java:30-55). en docs only
    (ascii-safe, no markup chars in the corpus words)."""
    xml = F.encode(F.concat(
        F.lit('<?xml version="1.0"?><doc xmlns:dc='
              '"http://purl.org/dc/elements/1.1/"><dc:title>T'),
        F.col("doc_id").cast("string"),
        F.lit("</dc:title><body>"), F.col("text"),
        F.lit("</body></doc>")), "UTF-8")
    pages = _docs(spark, sf_dir).filter(F.col("lang") == "en").select(
        _doc_url(".xml").alias("url"), xml.alias("html"))
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


@query("extract_output_guard", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    "'write_limit' AS status, 100000::BIGINT AS n_chars, "
    "substring(repeat('w' || (doc_id % 10) || ' ', 40000), "
    "1, 100000) AS text FROM documents"))
def _q_extract_output_guard(spark, sf_dir):
    """F4 oracle: WriteOutContentHandler write limit — a 160k-char body
    truncates at exactly 100 000 chars with status='write_limit'
    (sax/WriteOutContentHandler.java:125; Tika.java:64-66 default)."""
    from tika_spark.config import ExtractConfig
    body = F.repeat(F.concat(F.lit("w"),
                             F.pmod("doc_id", F.lit(10)).cast("string"),
                             F.lit(" ")), 40000)
    html = F.encode(F.concat(F.lit("<html><body><p>"), body,
                             F.lit("</p></body></html>")), "UTF-8")
    pages = _pages(spark, sf_dir, html)
    cfg = ExtractConfig(mode="text", write_limit=100_000)
    out = extract(pages, mode="text", config=cfg)
    return out.select("url", "status",
                      F.col("n_chars").cast("long").alias("n_chars"),
                      "text")


def _xps_wrap_udf():
    """Deterministic single-page XPS package per row (zip of fdseq +
    CoreProperties + one FixedPage with one Glyphs run)."""
    import io
    import zipfile

    def build(i, t):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            d = (1980, 1, 1, 0, 0, 0)
            zf.writestr(zipfile.ZipInfo("FixedDocSeq.fdseq", d),
                        "<FixedDocumentSequence/>")
            zf.writestr(
                zipfile.ZipInfo("docProps/core.xml", d),
                '<cp:coreProperties xmlns:cp="http://schemas.'
                'openxmlformats.org/package/2006/metadata/'
                'core-properties" xmlns:dc="http://purl.org/dc/'
                f'elements/1.1/"><dc:title>X{i}</dc:title>'
                '</cp:coreProperties>')
            zf.writestr(
                zipfile.ZipInfo("Documents/1/Pages/1.fpage", d),
                '<FixedPage xmlns="http://schemas.microsoft.com/'
                f'xps/2005/06"><Glyphs UnicodeString="{t}"/>'
                '</FixedPage>')
        return buf.getvalue()
    return _by_id_text(build)


@query("extract_xps_text", oracle=(
    "SELECT 'doc://' || doc_id || '.xps' AS url, "
    "'application/vnd.ms-xpsdocument' AS mime, "
    "'X' || doc_id AS title, text || chr(10) AS text "
    "FROM documents WHERE lang = 'en' AND length(text) > 0"))
def _q_extract_xps_text(spark, sf_dir):
    """XPS route oracle: fdseq container refinement → page-ordered
    Glyphs text + CoreProperties title (en, non-empty docs — plain
    ascii words need no attribute escaping)."""
    wrap = _xps_wrap_udf()
    docs = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & (F.length("text") > 0))
    pages = docs.select(
        _doc_url(".xps").alias("url"),
        wrap(F.col("doc_id"), F.col("text")).alias("html"))
    return extract(pages, mode="text").select("url", "mime", "title",
                                              "text")


def _wav_wrap_udf():
    """Deterministic RIFF/WAVE per row: fmt chunk fields derived from
    doc_id, data chunk sized for an exact integer duration."""
    import struct

    def build(i):
        ch = 1 + i % 2
        rate = 8000 * (1 + i % 3)
        bits = 16
        byterate = rate * ch * bits // 8
        secs = 1 + i % 5
        nbytes = byterate * secs
        hdr = (b"RIFF" + struct.pack("<I", 36 + nbytes) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate,
                                       byterate, ch * bits // 8,
                                       bits)
               + b"data" + struct.pack("<I", nbytes))
        # data chunk truncated (header-only parse): declared size
        # drives duration, as with real streaming header sniffs
        return hdr + b"\0" * 64
    return _by_id(build)


@query("media_audio_meta", oracle=(
    "SELECT 'doc://' || doc_id || '.wav' AS url, "
    "'audio/x-wav' AS mime, "
    "(1 + doc_id % 2)::BIGINT AS channels, "
    "(8000 * (1 + doc_id % 3))::BIGINT AS samplerate, "
    "(1 + doc_id % 5) || '.00' AS duration FROM documents"))
def _q_media_audio_meta(spark, sf_dir):
    """E12 audio-header oracle: WAV fmt/data chunks → channels, sample
    rate, duration (audio/AudioParser.java header semantics)."""
    pages = _pages(spark, sf_dir, _wav_wrap_udf()(F.col("doc_id")), ".wav")
    out = extract(pages, mode="text")
    md = F.col("metadata")
    return out.select(
        "url", "mime",
        F.element_at(md, "channels")[0].cast("long").alias("channels"),
        F.element_at(md, "samplerate")[0].cast("long")
        .alias("samplerate"),
        F.element_at(md, "xmpDM:duration")[0].alias("duration"))


def _tar_wrap_udf():
    """Deterministic one-member tar per document (E6 tar chain)."""
    import io
    import tarfile
    @pandas_udf(BinaryType())
    def wrap(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            buf = io.BytesIO()
            data = (t or "").encode("utf-8")
            with tarfile.open(fileobj=buf, mode="w",
                              format=tarfile.USTAR_FORMAT) as tf:
                ti = tarfile.TarInfo("doc.txt")
                ti.size = len(data)
                ti.mtime = 0
                tf.addfile(ti, io.BytesIO(data))
            out.append(buf.getvalue())
        return pd.Series(out)

    return wrap


@query("extract_recursive_tar", oracle=(
    "SELECT 'doc://' || doc_id || '.tar' AS url, "
    "CAST(0 AS BIGINT) AS depth, 'doc.txt' || chr(10) AS text "
    "FROM documents UNION ALL "
    "SELECT 'doc://' || doc_id || '.tar!/doc.txt' AS url, "
    "CAST(1 AS BIGINT) AS depth, text || chr(10) AS text "
    "FROM documents"))
def _q_extract_recursive_tar(spark, sf_dir):
    """E6/F1: ustar magic at 257 → tar member explode → text/plain
    child rows (pkg/PackageParser.java tar chain)."""
    wrap = _tar_wrap_udf()
    pages = _pages(spark, sf_dir, wrap(F.col("text")), ".tar")
    out = extract_recursive(pages, mode="text")
    return out.select("url", F.col("depth").cast("long").alias("depth"),
                      "text")


def _stream_dir(sf_dir, table):
    """The parquet file-stream source requires a *directory*; stage a
    one-symlink directory under /tmp pointing at the table file (the
    snapshot itself is never copied)."""
    import os

    d = os.path.join("/tmp", "tika_spark_stream",
                     sf_dir.strip("/").replace("/", "_"), table)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    src = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


@query("streaming_event_census", oracle=(
    "SELECT window_start, event_type, COUNT(*)::BIGINT AS n "
    "FROM (SELECT time_bucket(INTERVAL 1 HOUR, ts) "
    "AS window_start, event_type FROM events) "
    "WHERE window_start + INTERVAL 1 HOUR <= "
    "(SELECT max(ts) - INTERVAL 30 MINUTE FROM events) "
    "GROUP BY window_start, event_type"))
def _q_streaming_event_census(spark, sf_dir):
    """Structured-Streaming oracle: watermarked tumbling-window census
    over the events table replayed as a stream (availableNow), memory
    sink in append mode. Emitted set = windows whose end the final
    watermark (max ts - 30 min) passed — deterministic for a static
    snapshot, so the batch-SQL oracle reproduces it exactly."""
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .parquet(_stream_dir(sf_dir, "events"))
              .select(F.col("ts").alias("warc_ts"),
                      F.col("event_type").alias("mime")))
    from tika_spark.streaming.stateful import windowed_mime_counts
    out = windowed_mime_counts(stream, window="1 hour",
                               watermark="30 minutes")
    name = "stream_census_oracle"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return (spark.table(name)
            .select("window_start",
                    F.col("mime").alias("event_type"), "n"))


@query("streaming_dedup_fp", oracle=(
    "SELECT DISTINCT md5(regexp_replace(trim(text), '\\s+', "
    "' ', 'g')) AS fp_md5 FROM documents"))
def _q_streaming_dedup_fp(spark, sf_dir):
    """Streaming exact dedup oracle: dropDuplicatesWithinWatermark on
    the text fingerprint over a replayed documents stream. Which row
    survives per fingerprint is engine-order-dependent, so the query
    emits only the fingerprint set — deterministically the DISTINCT
    normalized-text md5s."""
    stream = (spark.readStream
              .schema("doc_id long, text string, lang string, "
                      "source string, n_chars long")
              .parquet(_stream_dir(sf_dir, "documents"))
              .select(
                  "text",
                  (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                   + F.make_interval(secs=F.col("doc_id")))
                  .alias("warc_ts")))
    from tika_spark.streaming.stateful import dedup_stream
    out = dedup_stream(stream).select("fp_md5")
    name = "stream_dedup_oracle"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(name).select("fp_md5").distinct()


@query("streaming_neardup_recall", oracle=(
    "WITH s AS (SELECT doc_id, "
    f"{_SHINGLES} AS sh FROM (SELECT doc_id, {_TOKS} AS w "
    "FROM documents)) "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "TRUE AS found "
    "FROM s a JOIN s b ON a.doc_id < b.doc_id "
    "WHERE CAST(round(len(list_intersect(a.sh, b.sh))::DOUBLE "
    "/ (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) "
    "* 1000000) AS BIGINT) >= 500000"))
def _q_streaming_neardup_recall(spark, sf_dir):
    """Streaming near-dup (MinHash bucket GroupState) recall vs the
    exact answer: every true pair (shingle Jaccard >= 0.5, the same
    deterministic-capture set the batch dedup_minhash_lsh oracle
    pins — see that query for the s-curve regime analysis) must be
    connected in the replayed stream's candidate graph — both
    endpoints of a true pair share a band bucket, so both link to
    that bucket's first-seen anchor."""
    from tika_spark.analysis.dedup import (connected_components,
                                           minhash_lsh_pairs)
    from tika_spark.streaming.stateful import neardup_stream
    stream = (spark.readStream
              .schema("doc_id long, text string, lang string, "
                      "source string, n_chars long")
              .parquet(_stream_dir(sf_dir, "documents")))
    name = "stream_neardup"
    q = (neardup_stream(stream, timeout_ms=None)
         .writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    cands = (spark.table(name).select("id_a", "id_b").distinct())
    comp = connected_components(cands)
    exact = minhash_lsh_pairs(_docs(spark, sf_dir),
                              threshold=0.5).select("id_a", "id_b")
    ca = comp.select(F.col("id").alias("id_a"),
                     F.col("cluster").alias("ca"))
    cb = comp.select(F.col("id").alias("id_b"),
                     F.col("cluster").alias("cb"))
    return (exact.join(ca, "id_a", "left").join(cb, "id_b", "left")
            .select("id_a", "id_b",
                    (F.col("ca").isNotNull()
                     & (F.col("ca") == F.col("cb"))).alias("found")))


@query("streaming_sessionize", oracle=(
    "WITH d AS (SELECT user_id::VARCHAR AS user_id, ts, "
    "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id "
    "ORDER BY ts) > INTERVAL 10 MINUTE THEN 1 ELSE 0 END "
    "AS brk FROM events), "
    "s AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY "
    "user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
    "FROM d), "
    "g AS (SELECT user_id, sid, min(ts) AS session_start, "
    "max(ts) AS session_end, COUNT(*)::BIGINT AS n_events "
    "FROM s GROUP BY user_id, sid) "
    "SELECT user_id, session_start, session_end, n_events "
    "FROM g WHERE sid < (SELECT max(sid) FROM g g2 "
    "WHERE g2.user_id = g.user_id)"))
def _q_streaming_sessionize(spark, sf_dir):
    """applyInPandasWithState oracle: gap sessionization over the
    replayed events stream with NoTimeout — only gap-closed sessions
    emit, a pure function of the static snapshot, so the batch window
    SQL reproduces it exactly (each user's final open session never
    appears)."""
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .parquet(_stream_dir(sf_dir, "events"))
              .select(F.col("user_id").cast("string").alias("user_id"),
                      "ts"))
    from tika_spark.streaming.stateful import sessionize_stream
    out = sessionize_stream(stream, gap="10 minutes", timeout_ms=None)
    name = "stream_sessionize_oracle"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return (spark.table(name)
            .select("user_id", "session_start", "session_end",
                    F.col("n_events").cast("long").alias("n_events")))


@query("fingerprint_winnow", oracle=(
    "WITH t AS (SELECT doc_id, " + _TOKS + " AS w "
    "FROM documents), "
    "s AS (SELECT doc_id, "
    "unnest(generate_series(1, len(w)-2)) AS pos, "
    "unnest(list_transform(generate_series(1, len(w)-2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh "
    "FROM t WHERE len(w) >= 3), "
    "h AS (SELECT doc_id, pos, ('0x' || substring(md5(sh), 1, "
    "8))::BIGINT AS hv FROM s), "
    "win AS (SELECT doc_id, min(hv) OVER (PARTITION BY doc_id "
    "ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) "
    "AS fp, count(*) OVER (PARTITION BY doc_id ORDER BY pos "
    "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n_in_win "
    "FROM h) "
    "SELECT DISTINCT doc_id, fp FROM win WHERE n_in_win = 4"))
def _q_fingerprint_winnow(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprints: window-min over
    md5-prefix shingle hashes, full windows only — the MOSS scheme as
    pure window SQL on both engines."""
    from tika_spark.analysis.textstats import winnow_fingerprints
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return winnow_fingerprints(docs)


# pattern shared with the Spark side; single quotes doubled
# for SQL embedding
@query("token_count_bpe", oracle=(
    "SELECT doc_id, len(regexp_extract_all(text, '"
    + __import__("tika_spark.analysis.textstats",
                 fromlist=["BPE_TOKEN_PATTERN"])
    .BPE_TOKEN_PATTERN.replace("'", "''")
    + "'))::BIGINT AS n_bpe_tokens FROM documents"))
def _q_token_count_bpe(spark, sf_dir):
    """BPE-ish pre-tokenizer count (GPT-2-style ASCII pattern) — the
    subword-budget estimate; RE2-safe pattern shared verbatim with the
    oracle."""
    from tika_spark.analysis.textstats import bpe_token_count
    return (_docs(spark, sf_dir)
            .select("doc_id",
                    bpe_token_count(F.col("text")).cast("long")
                    .alias("n_bpe_tokens")))


@query("docs_cap_per_source", oracle=(
    "SELECT doc_id, source FROM (SELECT doc_id, source, "
    "row_number() OVER (PARTITION BY source ORDER BY n_chars "
    "DESC, doc_id) AS rank FROM documents) WHERE rank <= 10"))
def _q_docs_cap_per_source(spark, sf_dir):
    """Crawl-curation per-host cap: at most 10 docs per source, ranked
    by n_chars desc then doc_id (deterministic total order); one
    hash-partition window, no global sort."""
    from tika_spark.analysis.textstats import cap_per_group
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return (cap_per_group(docs, "source", 10)
            .select("doc_id", "source"))


@query("docs_stratified_sample", oracle=(
    "SELECT doc_id, lang FROM documents WHERE "
    "(('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT "
    "/ 4294967296.0) < (CASE lang WHEN 'en' THEN 0.5 "
    "WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.25 ELSE 0.1 END)"))
def _q_docs_stratified_sample(spark, sf_dir):
    """Deterministic quota sampling by language: md5-keyed uniform
    draw (reproducible across retries/resumes, unlike rand()), rate
    per stratum, shuffle-free filter."""
    from tika_spark.analysis.textstats import stratified_sample
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    rates = {"en": 0.5, "de": 0.25, "fr": 0.25}
    return stratified_sample(docs, "lang", rates, default_rate=0.1)


@query("docs_repetition", oracle=(
    "WITH t AS (SELECT doc_id, text || chr(10) || "
    "substr(text, 1, 40) || chr(10) || substr(text, 1, 40) "
    "AS tx FROM documents), "
    "L AS (SELECT doc_id, unnest(list_filter("
    "string_split(tx, chr(10)), x -> x <> '')) AS line FROM t), "
    "lc AS (SELECT doc_id, line, count(*) AS c FROM L "
    "GROUP BY 1, 2), "
    "ls AS (SELECT doc_id, sum(c)::BIGINT AS n_lines, "
    "count(*)::BIGINT AS n_uniq_lines, "
    "sum(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END)"
    "::BIGINT AS dup_line_chars FROM lc GROUP BY 1), "
    "w AS (SELECT doc_id, regexp_split_to_array(trim(tx), "
    "'\\s+') AS w FROM t), "
    "g AS (SELECT doc_id, unnest(list_transform("
    "generate_series(1, len(w) - 1), "
    "i -> w[i] || ' ' || w[i+1])) AS g FROM w), "
    "gc AS (SELECT doc_id, g, count(*) AS c FROM g "
    "GROUP BY 1, 2), "
    "top AS (SELECT doc_id, g, c, row_number() OVER ("
    "PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn "
    "FROM gc) "
    "SELECT ls.doc_id, n_lines, n_uniq_lines, dup_line_chars, "
    "top.g AS top_2gram, top.c::BIGINT AS top_2gram_n, "
    "(top.c * length(top.g))::BIGINT AS top_2gram_chars "
    "FROM ls JOIN top ON ls.doc_id = top.doc_id "
    "AND top.rn = 1"))
def _q_docs_repetition(spark, sf_dir):
    """Gopher-style repetition signals (dup-line char mass + top
    bigram stats) over text with deterministic injected repetition
    (first-40-chars line repeated twice), per-row sorted-array
    run-length expressions — zero shuffle, zero UDFs."""
    from tika_spark.analysis.curation import repetition_features
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat("text", F.lit("\n"), F.substring("text", 1, 40),
                 F.lit("\n"), F.substring("text", 1, 40))
        .alias("text"))
    return repetition_features(docs).select(
        "doc_id", "n_lines", "n_uniq_lines", "dup_line_chars",
        "top_2gram", "top_2gram_n", "top_2gram_chars")


@query("docs_paragraph_dedup", oracle=(
    "WITH t AS (SELECT doc_id, 'COOKIE CONSENT BANNER' || "
    "chr(10) || text || chr(10) || 'FOOTER ' || (doc_id % 7) "
    "AS tx FROM documents), "
    "p AS (SELECT doc_id, unnest(generate_series(1, len(l))) "
    "AS pos, unnest(l) AS para FROM (SELECT doc_id, "
    "list_filter(string_split(tx, chr(10)), x -> x <> '') "
    "AS l FROM t)), "
    "c AS (SELECT para, count(DISTINCT doc_id) AS nd FROM p "
    "GROUP BY 1) "
    "SELECT p.doc_id, count(*)::BIGINT AS n_paras, "
    "sum(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END)::BIGINT "
    "AS n_shared, "
    "coalesce(string_agg(CASE WHEN c.nd = 1 THEN p.para END, "
    "chr(10) ORDER BY p.pos), '') AS text_clean "
    "FROM p JOIN c USING (para) GROUP BY p.doc_id"))
def _q_docs_paragraph_dedup(spark, sf_dir):
    """CCNet-style corpus paragraph dedup: shared boilerplate lines
    (an injected cookie banner on every doc + a footer shared by
    doc_id%7 cohorts) are dropped; per-doc line order is preserved.
    Shuffles 8-byte paragraph hashes, not documents."""
    from tika_spark.analysis.curation import paragraph_dedup
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("COOKIE CONSENT BANNER\n"), "text",
                 F.lit("\nFOOTER "), F.col("doc_id") % 7)
        .alias("text"))
    return paragraph_dedup(docs).select(
        "doc_id", "n_paras", "n_shared", "text_clean")


@query("url_canonicalize", oracle=(
    "SELECT doc_id, CASE doc_id % 4 "
    "WHEN 0 THEN 'http://www.site' || (doc_id % 20) || "
    "'.example.com/P' || doc_id || '?id=' || doc_id "
    "WHEN 1 THEN 'https://blog.example' || (doc_id % 20) || "
    "'.org/post/' || doc_id "
    "WHEN 2 THEN 'https://shop.example' || (doc_id % 20) || "
    "'.net/i' "
    "ELSE 'http://news.example' || (doc_id % 20) || "
    "'.com:8080/a/' || doc_id || '?id=1&x=2' END AS canon_url, "
    "CASE doc_id % 4 "
    "WHEN 0 THEN 'www.site' || (doc_id % 20) || '.example.com' "
    "WHEN 1 THEN 'blog.example' || (doc_id % 20) || '.org' "
    "WHEN 2 THEN 'shop.example' || (doc_id % 20) || '.net' "
    "ELSE 'news.example' || (doc_id % 20) || '.com' END "
    "AS host FROM documents"))
def _q_url_canonicalize(spark, sf_dir):
    """Crawl-frontier URL canonicalization: fragment strip, tracking
    params (utm_*/fbclid), case-folded authority, default-port strip
    — four deterministic dirty-URL shapes per doc_id%4."""
    from tika_spark.analysis.curation import canonical_url, url_host
    m = F.col("doc_id") % 4
    k = (F.col("doc_id") % 20).cast("string")
    i = F.col("doc_id").cast("string")
    dirty = (F.when(m == 0, F.concat(
                F.lit("HTTP://WWW.SITE"), k, F.lit(".Example.COM:80/P"),
                i, F.lit("?utm_source=x&id="), i,
                F.lit("&utm_campaign=y#sec")))
             .when(m == 1, F.concat(
                F.lit("https://Blog.Example"), k, F.lit(".ORG:443/post/"),
                i, F.lit("#top")))
             .when(m == 2, F.concat(
                F.lit("https://shop.example"), k, F.lit(".net/i?fbclid=f"),
                i))
             .otherwise(F.concat(
                F.lit("http://news.example"), k, F.lit(".com:8080/a/"),
                i, F.lit("?id=1&utm_medium=z&x=2"))))
    return (_docs(spark, sf_dir)
            .select("doc_id", dirty.alias("dirty"))
            .select("doc_id",
                    canonical_url(F.col("dirty")).alias("canon_url"))
            .withColumn("host", url_host(F.col("canon_url"))))


@query("host_rollup", oracle=(
    "WITH h AS (SELECT doc_id, n_chars, CASE doc_id % 4 "
    "WHEN 0 THEN 'www.site' || (doc_id % 20) || '.example.com' "
    "WHEN 1 THEN 'blog.example' || (doc_id % 20) || '.org' "
    "WHEN 2 THEN 'shop.example' || (doc_id % 20) || '.net' "
    "ELSE 'news.example' || (doc_id % 20) || '.com' END "
    "AS host FROM documents) "
    "SELECT host, count(*)::BIGINT AS n_docs, "
    "sum(n_chars)::BIGINT AS total_chars FROM h GROUP BY 1"))
def _q_host_rollup(spark, sf_dir):
    """Per-host corpus stats over the canonical URLs (domain-quality /
    politeness aggregate): one partial-aggregatable groupBy."""
    from tika_spark.analysis.curation import host_rollup
    with_urls = _q_url_canonicalize(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "n_chars"), "doc_id")
    return (host_rollup(with_urls, url_col="canon_url")
            .select("host", "n_docs", "total_chars"))


@query("docs_pii_scrub", oracle=(
    "SELECT doc_id, 1::BIGINT AS n_emails, "
    "1::BIGINT AS n_ipv4, "
    "text || ' Contact <EMAIL> or <IP> end.' AS text_scrubbed "
    "FROM documents"))
def _q_docs_pii_scrub(spark, sf_dir):
    """FineWeb-style PII pass: emails + IPv4 literals (deterministic
    injected tail) become placeholder tokens; removal counts kept."""
    from tika_spark.analysis.curation import pii_scrub
    i = F.col("doc_id").cast("string")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat("text", F.lit(" Contact user"), i, F.lit("@mail"),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(".org or 203.0."),
                 (F.col("doc_id") % 100).cast("string"), F.lit("."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(" end.")).alias("text"))
    return pii_scrub(docs).select("doc_id", "n_emails", "n_ipv4",
                                  "text_scrubbed")


@query("docs_contamination", oracle=(
    "WITH w AS (SELECT doc_id, regexp_split_to_array("
    "trim(text), '\\s+') AS w FROM documents), "
    "s AS (SELECT doc_id, list_distinct(list_transform("
    "generate_series(1, len(w) - 2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh "
    "FROM w), "
    "b AS (SELECT DISTINCT unnest(sh) AS g FROM s "
    "WHERE doc_id % 10 = 0), "
    "d AS (SELECT doc_id, unnest(sh) AS g FROM s "
    "WHERE doc_id % 10 <> 0) "
    "SELECT d.doc_id, count(*)::BIGINT AS n_grams, "
    "sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT "
    "AS n_hit FROM d LEFT JOIN b ON d.g = b.g "
    "GROUP BY d.doc_id"))
def _q_docs_contamination(spark, sf_dir):
    """Benchmark-decontamination scan: distinct word 3-grams of each
    corpus doc (doc_id%10 != 0) probed against the broadcast benchmark
    gram set (doc_id%10 == 0 docs); counts per doc."""
    from tika_spark.analysis.curation import contamination_check
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return contamination_check(corpus, bench, k=3).select(
        "doc_id", "n_grams", "n_hit")


_SHARED_SNIPPET = ("breaking news wire syndicated weather advisory "
                   "issued for the metro region tonight details follow")


@query("docs_substring_dedup", oracle=(
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim("
    "CASE WHEN doc_id % 3 = 0 THEN text || ' "
    + _SHARED_SNIPPET + "' ELSE text END), '\\s+') AS w "
    "FROM documents), "
    "s AS (SELECT doc_id, "
    "unnest(generate_series(1, len(w)-4)) - 1 AS pos, "
    "unnest(list_transform(generate_series(1, len(w)-4), "
    "i -> array_to_string(w[i:i+4], ' '))) AS sh "
    "FROM t WHERE len(w) >= 5), "
    "h AS (SELECT doc_id, pos, ('0x' || substring(md5(sh), 1, "
    "15))::BIGINT AS hv FROM s), "
    "dup AS (SELECT hv FROM (SELECT DISTINCT doc_id, hv "
    "FROM h) GROUP BY hv HAVING count(*) >= 2), "
    "d AS (SELECT doc_id, pos FROM h JOIN dup USING (hv)), "
    "b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER "
    "(PARTITION BY doc_id ORDER BY pos) < 5 THEN 0 ELSE 1 END "
    "AS brk FROM d), "
    "i AS (SELECT doc_id, pos, sum(coalesce(brk, 1)) OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS isl FROM b), "
    "sp AS (SELECT doc_id, isl, min(pos) AS st, max(pos) + 5 "
    "AS en FROM i GROUP BY 1, 2), "
    "agg AS (SELECT doc_id, count(*)::BIGINT AS n_dup_spans, "
    "sum(en - st)::BIGINT AS dup_tokens FROM sp GROUP BY 1) "
    "SELECT t.doc_id, len(w)::BIGINT AS n_toks, "
    "coalesce(n_dup_spans, 0)::BIGINT AS n_dup_spans, "
    "coalesce(dup_tokens, 0)::BIGINT AS dup_tokens "
    "FROM t LEFT JOIN agg USING (doc_id)"))
def _q_docs_substring_dedup(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022 at 5-token
    shingle granularity): doc_id%3==0 docs carry an injected shared
    14-token wire-copy tail, which must come back as merged duplicated
    spans; the join back touches only duplicated-shingle positions and
    the text never shuffles."""
    from tika_spark.analysis.dedup import substring_dup_spans
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat("text", F.lit(" " + _SHARED_SNIPPET)))
        .otherwise(F.col("text")).alias("text"))
    return substring_dup_spans(docs, k=5).select(
        "doc_id", "n_toks", "n_dup_spans", "dup_tokens")


@query("docs_pack_sequences", oracle=(
    "WITH RECURSIVE t AS (SELECT source, doc_id, "
    f"len({_TOKS})::BIGINT AS n_tok, "
    "row_number() OVER (PARTITION BY source ORDER BY doc_id) "
    "AS rn FROM documents), "
    "r AS ("
    "SELECT source, doc_id, n_tok, rn, 1::BIGINT AS chunk, "
    "n_tok AS acc FROM t WHERE rn = 1 "
    "UNION ALL "
    "SELECT t.source, t.doc_id, t.n_tok, t.rn, "
    "CASE WHEN r.acc + t.n_tok <= 200 THEN r.chunk "
    "ELSE r.chunk + 1 END AS chunk, "
    "CASE WHEN r.acc + t.n_tok <= 200 THEN r.acc + t.n_tok "
    "ELSE t.n_tok END AS acc "
    "FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1) "
    "SELECT source, doc_id, n_tok, chunk FROM r"))
def _q_docs_pack_sequences(spark, sf_dir):
    """Greedy next-fit sequence packing: documents fold into
    200-token training chunks per source shard in doc_id order — the
    context-window assembly step after curation. One shuffle on
    source; only (source, id, n_tok) rows move."""
    from tika_spark.analysis.curation import pack_sequences
    docs = _docs(spark, sf_dir).select("source", "doc_id", "text")
    return pack_sequences(docs, budget=200).select(
        "source", "doc_id", "n_tok", "chunk")


@query("pipeline_extract_curate", oracle=(
    "WITH e AS (SELECT 'doc://' || doc_id AS url, "
    "(CASE WHEN doc_id % 3 = 0 THEN "
    "'duplicated wire copy group ' || (doc_id % 7) "
    "ELSE text END) || chr(10) AS text FROM documents), "
    "c AS (SELECT url, "
    "len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT "
    "AS n_tokens, "
    "md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) "
    "AS fp_md5 FROM e) "
    "SELECT url, n_tokens, fp_md5, "
    "row_number() OVER (PARTITION BY fp_md5 ORDER BY url) = 1 "
    "AS is_rep FROM c"))
def _q_pipeline_extract_curate(spark, sf_dir):
    """End-to-end crawl-to-corpus composition in ONE plan: HTML pages
    (doc_id%3==0 rows carry one of 7 duplicated bodies) go through the
    full detect→parse→serialize extraction chain, then straight into
    the curation layer — token counts, md5 fingerprints, exact-dedup
    representative election — without materializing in between. The
    oracle replays the curation SQL over the known extraction output
    (extracted text = body text + trailing newline), so the compose
    seam itself is what the hash checks."""
    from tika_spark.analysis.textstats import fingerprint, token_count
    from tika_spark.pipeline.job import extract
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("duplicated wire copy group "),
                        (F.col("doc_id") % 7).cast("string")))
        .otherwise(F.col("text")).alias("text"))
    pages = docs.select(
        _doc_url().alias("url"),
        _html_wrap().alias("html"))
    extracted = extract(pages, mode="text").select("url", "text")
    curated = fingerprint(
        extracted.withColumn("n_tokens", token_count(F.col("text"))))
    w = Window.partitionBy("fp_64", "fp_md5").orderBy(F.asc("url"))
    return (curated.withColumn(
        "is_rep", F.row_number().over(w) == 1)
        .select("url", F.col("n_tokens").cast("long").alias("n_tokens"),
                "fp_md5", "is_rep"))


@query("docs_c4_rules", oracle=(
    "WITH t AS (SELECT doc_id AS id, "
    "'Generated sentence number 1 for doc ' || doc_id || '.' "
    "|| chr(10) || "
    "'Generated sentence number 2 for doc ' || doc_id || '.' "
    "|| chr(10) || "
    "CASE WHEN doc_id % 4 >= 1 THEN "
    "'Generated sentence number 3 for doc ' || doc_id || '.' "
    "|| chr(10) ELSE '' END || "
    "CASE WHEN doc_id % 4 >= 2 THEN "
    "'Generated sentence number 4 for doc ' || doc_id || '.' "
    "|| chr(10) ELSE '' END || "
    "CASE WHEN doc_id % 4 >= 3 THEN "
    "'Generated sentence number 5 for doc ' || doc_id || '.' "
    "|| chr(10) ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN "
    "'if (x) { return; }' || chr(10) ELSE '' END || text "
    "AS tx FROM documents), "
    "l AS (SELECT id, tx, "
    "list_filter(list_transform(string_split(tx, chr(10)), "
    "x -> trim(x)), x -> x <> '') AS lines FROM t), "
    "k AS (SELECT id, tx, lines, list_filter(lines, x -> "
    "regexp_matches(x, '[.!?\"”]$') AND "
    "len(regexp_split_to_array(x, '\\s+')) >= 3 AND NOT "
    "contains(lower(x), 'javascript')) AS kept FROM l), "
    "c AS (SELECT id, tx, lines, kept, "
    "array_to_string(kept, chr(10)) AS text_clean FROM k) "
    "SELECT id, len(lines)::BIGINT AS n_lines, "
    "len(kept)::BIGINT AS n_kept, "
    "length(regexp_replace(text_clean, '[^.!?]', '', 'g'))"
    "::BIGINT AS n_sentences, "
    "(length(regexp_replace(text_clean, '[^.!?]', '', 'g')) "
    ">= 3 AND NOT contains(lower(tx), 'lorem ipsum') "
    "AND NOT contains(tx, '{')) AS keep, text_clean FROM c"))
def _q_docs_c4_rules(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020): deterministic
    line-structured pages — 2..5 proper sentences by doc_id%4, the
    punctuation-free word-soup body (always line-filtered), a code
    line with '{' on doc_id%5==0 — through the composed line/page
    filter at min_sentences=3."""
    from tika_spark.analysis.curation import c4_rules
    i = F.col("doc_id").cast("string")
    nl = F.lit("\n")

    def sent(n):
        return F.concat(F.lit(f"Generated sentence number {n} "
                              "for doc "), i, F.lit("."))
    m4 = F.col("doc_id") % 4
    text2 = F.concat(
        sent(1), nl, sent(2), nl,
        F.when(m4 >= 1, F.concat(sent(3), nl)).otherwise(F.lit("")),
        F.when(m4 >= 2, F.concat(sent(4), nl)).otherwise(F.lit("")),
        F.when(m4 >= 3, F.concat(sent(5), nl)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("if (x) { return; }\n")).otherwise(F.lit("")),
        F.col("text"))
    docs = _docs(spark, sf_dir).select("doc_id", text2.alias("text"))
    return c4_rules(docs, min_sentences=3).select(
        "id", "n_lines", "n_kept", "n_sentences", "keep", "text_clean")


@query("docs_split_long", oracle=(
    "WITH t AS (SELECT doc_id AS id, "
    f"{_TOKS} AS w FROM documents), "
    "c AS (SELECT id, w, CASE WHEN len(w) <= 32 THEN 1 "
    "ELSE ceil((len(w) - 8)::DOUBLE / 24)::INT END AS nc "
    "FROM t) "
    "SELECT id, (i - 1)::BIGINT AS chunk_idx, "
    "least(len(w) - (i-1)*24, 32)::BIGINT AS n_tok, "
    "array_to_string(w[(i-1)*24 + 1 : (i-1)*24 + 32], ' ') "
    "AS chunk_text "
    "FROM c, unnest(generate_series(1, nc)) AS u(i)"))
def _q_docs_split_long(spark, sf_dir):
    """Long-document splitting into overlapping 32-token context
    chunks (stride 24): the complement of sequence packing. Pure
    per-row array expressions — zero exchanges added to the plan."""
    from tika_spark.analysis.curation import split_long_docs
    return split_long_docs(_docs(spark, sf_dir), max_tokens=32,
                           overlap=8).select(
        "id", "chunk_idx", "n_tok", "chunk_text")


@query("docs_mixture_weights", oracle=(
    "WITH g AS (SELECT source, count(*)::BIGINT AS n_docs, "
    f"sum(len({_TOKS}))::BIGINT AS n_tokens "
    "FROM documents GROUP BY 1), "
    "t AS (SELECT sum(n_tokens)::DOUBLE AS t_all FROM g), "
    "s AS (SELECT source, n_docs, n_tokens, "
    "round(n_tokens / t_all * 1000000)::BIGINT AS share_micro, "
    "round(pow(n_tokens / t_all, 0.7) * 1000000)::BIGINT "
    "AS s_tau FROM g, t), "
    "z AS (SELECT sum(s_tau)::DOUBLE AS z FROM s) "
    "SELECT source, n_docs, n_tokens, share_micro, "
    "round(s_tau / z * 1000000)::BIGINT AS weight_micro "
    "FROM s, z"))
def _q_docs_mixture_weights(spark, sf_dir):
    """Gopher/PaLM temperature data-mixing: per-source sampling
    weights proportional to token_share^0.7, micro-integer
    normalization (order-independent). One groupBy over 20 sources."""
    from tika_spark.analysis.curation import mixture_weights
    return mixture_weights(_docs(spark, sf_dir), tau=0.7).select(
        "source", "n_docs", "n_tokens", "share_micro", "weight_micro")


@query("docs_lm_perplexity", oracle=(
    "WITH t AS (SELECT doc_id AS id, "
    "regexp_split_to_array(lower(trim(text)), '\\s+') AS w "
    "FROM documents), "
    "bg AS (SELECT id, w[i] AS w1, w[i+1] AS w2 FROM t, "
    "unnest(generate_series(1, len(w)-1)) AS u(i) "
    "WHERE len(w) >= 2), "
    "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg "
    "GROUP BY 1, 2), "
    "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1), "
    "v AS (SELECT count(DISTINCT w) AS v FROM "
    "(SELECT w1 AS w FROM bg UNION SELECT w2 FROM bg)), "
    "s AS (SELECT id, round(-ln((c2.c2 + 0.5) / "
    "(c1.c1 + 0.5*v.v)) * 1000000)::BIGINT AS nll "
    "FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v), "
    "a AS (SELECT id, count(*)::BIGINT AS n_bigrams, "
    "sum(nll)::BIGINT AS nll_micro FROM s GROUP BY 1) "
    "SELECT t.id, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams, "
    "coalesce(nll_micro, 0)::BIGINT AS nll_micro "
    "FROM t LEFT JOIN a USING (id)"))
def _q_docs_lm_perplexity(spark, sf_dir):
    """CCNet-style perplexity filter: a bigram add-alpha LM trained
    distributed on the corpus scores each document's token sequence;
    per-bigram micro-nat rounding before the sum keeps the distributed
    aggregation order-independent and hash-exact."""
    from tika_spark.analysis.curation import lm_perplexity
    return lm_perplexity(_docs(spark, sf_dir)).select(
        "id", "n_bigrams", "nll_micro")


@query("docs_blocklist", oracle=(
    "WITH t AS (SELECT doc_id, text || "
    "CASE WHEN doc_id % 4 = 0 THEN ' Blockterm here' "
    "ELSE '' END || CASE WHEN doc_id % 6 = 0 THEN "
    "' otherbad twice otherbad' ELSE '' END AS tx "
    "FROM documents) "
    "SELECT doc_id AS id, len(regexp_extract_all(lower(tx), "
    "'\\b(blockterm|otherbad)\\b'))::BIGINT AS n_matches, "
    "len(regexp_extract_all(lower(tx), "
    "'\\b(blockterm|otherbad)\\b')) = 0 AS keep FROM t"))
def _q_docs_blocklist(spark, sf_dir):
    """C4 bad-word page filter (curation.blocklist_filter): injected
    blockterms on id%4==0 / id%6==0 rows must be caught by the single
    compiled word-boundary alternation; the oracle replays the same
    regex on the same constructed text."""
    from tika_spark.analysis.curation import blocklist_filter
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(" Blockterm here")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 6 == 0,
                   F.lit(" otherbad twice otherbad"))
            .otherwise(F.lit(""))).alias("text"))
    return blocklist_filter(docs, ["blockterm", "otherbad"])


@query("corpus_report", oracle=(
    "WITH b AS (SELECT lang, source, "
    "length(text)::BIGINT AS nc, "
    f"len({_TOKS})::BIGINT AS nt FROM documents) "
    "SELECT 'docs_total' AS metric, 'all' AS grp, "
    "count(*)::BIGINT AS value FROM b "
    "UNION ALL SELECT 'chars_total', 'all', "
    "sum(nc)::BIGINT FROM b "
    "UNION ALL SELECT 'tokens_total', 'all', "
    "sum(nt)::BIGINT FROM b "
    "UNION ALL SELECT 'docs_by_lang', lang, "
    "count(*)::BIGINT FROM b GROUP BY lang "
    "UNION ALL SELECT 'chars_by_lang', lang, "
    "sum(nc)::BIGINT FROM b GROUP BY lang "
    "UNION ALL SELECT 'avg_chars_by_lang_micro', lang, "
    "(sum(nc) * 1000000 // count(*))::BIGINT FROM b "
    "GROUP BY lang "
    "UNION ALL SELECT 'docs_by_source', source, "
    "count(*)::BIGINT FROM b GROUP BY source "
    "UNION ALL SELECT 'tokens_by_source', source, "
    "sum(nt)::BIGINT FROM b GROUP BY source"))
def _q_corpus_report(spark, sf_dir):
    """Mechanized corpus datasheet (textstats.corpus_report): global
    counts plus per-language/per-source composition as one tidy
    (metric, grp, value) table; averages in integer micro-units."""
    from tika_spark.analysis.textstats import corpus_report
    return corpus_report(_docs(spark, sf_dir))


@query("docs_epoch_mix", oracle=(
    # mixture_weights fragment + budget/epoch-cap arithmetic
    "WITH g AS (SELECT source, count(*)::BIGINT AS n_docs, "
    f"sum(len({_TOKS}))::BIGINT AS n_tokens "
    "FROM documents GROUP BY 1), "
    "t AS (SELECT sum(n_tokens)::DOUBLE AS t_all FROM g), "
    "s AS (SELECT source, n_tokens, "
    "round(pow(n_tokens / t_all, 0.7) * 1000000)::BIGINT "
    "AS s_tau FROM g, t), "
    "z AS (SELECT sum(s_tau)::DOUBLE AS z FROM s), "
    "w AS (SELECT source, n_tokens, "
    "round(s_tau / z * 1000000)::BIGINT AS wm FROM s, z), "
    "e AS (SELECT source, n_tokens, "
    "2500000 * wm // 1000000 AS target_tokens, "
    "LEAST(4000000, (2500000 * wm // 1000000) * 1000000 "
    "// n_tokens) AS epochs_micro FROM w) "
    "SELECT source, n_tokens, target_tokens::BIGINT AS "
    "target_tokens, epochs_micro::BIGINT AS epochs_micro, "
    "(epochs_micro * n_tokens // 1000000)::BIGINT AS "
    "served_tokens FROM e"))
def _q_docs_epoch_mix(spark, sf_dir):
    """Repetition-aware mixing plan (curation.epoch_mix, Muennighoff
    et al. 2023): a 2.5M-token budget allocated by temperature
    weights with each source capped at 4 epochs over its unique
    tokens — integer micro-units at every fixed point so the plan
    replays exactly."""
    from tika_spark.analysis.curation import epoch_mix
    return epoch_mix(_docs(spark, sf_dir),
                     budget_tokens=2_500_000, max_epochs=4)


@query("docs_pii_extended", oracle=(
    # base corpus carries no PII-shaped strings (same premise
    # as docs_pii_scrub); 4111... passes Luhn, 1234... fails
    "SELECT doc_id, 0::BIGINT AS n_emails, "
    "0::BIGINT AS n_ipv4, "
    "(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT "
    "AS n_phones, "
    "(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT "
    "AS n_cards, "
    "text || CASE WHEN doc_id % 3 = 0 THEN "
    "' card <CARD> ok' ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN "
    "' bogus 1234 5678 9012 3456 no' ELSE '' END || "
    "CASE WHEN doc_id % 2 = 1 THEN ' tel <PHONE>' "
    "ELSE '' END AS text_scrubbed FROM documents"))
def _q_docs_pii_extended(spark, sf_dir):
    """Extended PII pass (curation.pii_scrub_extended): +CC phone
    numbers and Luhn-verified card numbers join the email/IPv4
    scrub — the Luhn gate is exercised both ways (a valid test card
    scrubs, a card-shaped non-Luhn string survives); the checksum is
    a native array fold the oracle replays digit by digit."""
    from tika_spark.analysis.curation import pii_scrub_extended
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit(" card 4111 1111 1111 1111 ok"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" bogus 1234 5678 9012 3456 no"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 2 == 1,
                   F.lit(" tel +44 20 7946 0958"))
            .otherwise(F.lit(""))).alias("text"))
    return pii_scrub_extended(docs).select(
        "doc_id", "n_emails", "n_ipv4", "n_phones", "n_cards",
        "text_scrubbed")


@query("docs_lm_perplexity_kn", oracle=(
    # interpolated KN: (c2-D)/c1 + D*N1+(w1,*)/c1*N1+(*,w2)/T
    "WITH t AS (SELECT doc_id AS id, regexp_split_to_array("
    "lower(trim(text)), '\\s+') AS w FROM documents), "
    "bg AS (SELECT id, w[i] AS w1, w[i+1] AS w2 FROM t, "
    "unnest(generate_series(1, len(w)-1)) AS u(i) "
    "WHERE len(w) >= 2), "
    "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg "
    "GROUP BY 1, 2), "
    "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1), "
    "n1s AS (SELECT w1, count(*) AS n1s FROM c2 GROUP BY 1), "
    "n1p AS (SELECT w2, count(*) AS n1p FROM c2 GROUP BY 1), "
    "ty AS (SELECT count(*)::DOUBLE AS ty FROM c2), "
    "s AS (SELECT id, round(-ln((c2.c2 - 0.75) / c1.c1 "
    "+ 0.75 * n1s.n1s / c1.c1 * n1p.n1p / ty.ty) "
    "* 1000000)::BIGINT AS nll FROM bg "
    "JOIN c2 USING (w1, w2) JOIN c1 USING (w1) "
    "JOIN n1s USING (w1) JOIN n1p USING (w2), ty), "
    "a AS (SELECT id, count(*)::BIGINT AS n_bigrams, "
    "sum(nll)::BIGINT AS nll_micro FROM s GROUP BY 1) "
    "SELECT t.id, coalesce(n_bigrams, 0)::BIGINT AS "
    "n_bigrams, coalesce(nll_micro, 0)::BIGINT AS nll_micro "
    "FROM t LEFT JOIN a USING (id)"))
def _q_docs_lm_perplexity_kn(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (curation.py
    lm_perplexity_kn — the smoothing the real CCNet/KenLM stack
    uses): absolute discounting plus the continuation-count backoff,
    all from three vocabulary-scale count tables; per-bigram
    micro-nat rounding keeps the distributed sum order-independent
    and hash-exact."""
    from tika_spark.analysis.curation import lm_perplexity_kn
    return lm_perplexity_kn(_docs(spark, sf_dir)).select(
        "id", "n_bigrams", "nll_micro")


@query("embedding_hard_negatives", oracle=(
    # candidate cut at 16 (incl. self) by (sim desc, id),
    # drop self + same cluster (id%50), re-rank, keep 5
    "WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] "
    "AS qv, vec_id % 50 AS ca FROM embeddings), "
    "b AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS bv, "
    "vec_id % 50 AS cb FROM embeddings), "
    "s AS (SELECT qid, nid, ca, cb, CAST(round("
    "list_cosine_similarity(qv, bv) * 1000000) AS BIGINT) "
    "AS sim FROM q CROSS JOIN b), "
    "r0 AS (SELECT qid, nid, ca, cb, sim, row_number() "
    "OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) "
    "AS r FROM s), "
    "f AS (SELECT qid, nid, sim FROM r0 WHERE r <= 16 "
    "AND nid <> qid AND ca <> cb), "
    "rr AS (SELECT qid AS query_id, nid AS neg_id, sim AS "
    "sim_micro, row_number() OVER (PARTITION BY qid "
    "ORDER BY sim DESC, nid ASC)::BIGINT AS neg_rank "
    "FROM f) SELECT * FROM rr WHERE neg_rank <= 5"))
def _q_embedding_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negatives): per anchor,
    the top-5 most-similar vectors OUTSIDE its cluster (arithmetic
    clusters vec_id%50), from a 16-deep candidate list with self and
    same-cluster hits discarded then re-ranked — the contrastive-
    training pair miner; the oracle replays candidate cut, exclusion,
    and re-rank exactly."""
    from tika_spark.analysis.similarity import hard_negatives
    emb = _emb(spark, sf_dir)
    clusters = emb.select("vec_id",
                          (F.col("vec_id") % 50).alias("cluster"))
    return hard_negatives(emb, clusters, k=5)


@query("embedding_random_projection", oracle=(
    # sign(i,j) = -1 iff first hex digit of md5('i:j:rp')
    # is odd; proj[j] = sum_i v[i+1]*sign(i,j)
    "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] "
    "AS v FROM embeddings), "
    "c AS (SELECT id, j, SUM(v[i+1] * CASE WHEN "
    "substr(md5(i || ':' || j || ':rp'), 1, 1) IN "
    "('1','3','5','7','9','b','d','f') THEN -1 ELSE 1 END) "
    "AS val FROM e CROSS JOIN (SELECT unnest("
    "generate_series(0, 63)) AS i) a CROSS JOIN "
    "(SELECT unnest(generate_series(0, 7)) AS j) b "
    "WHERE i < len(v) GROUP BY id, j) "
    "SELECT id, CAST(j AS INT) AS dim, "
    "round(val * 1000000)::BIGINT AS val_micro FROM c"))
def _q_embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss shrink (similarity.random_projection):
    64-dim embeddings × a seeded ±1 Rademacher matrix (md5-parity
    signs the oracle rebuilds cell by cell) down to 8 dims — the
    map-only pre-shrink before ANN indexing at high dim."""
    from tika_spark.analysis.similarity import random_projection
    out = random_projection(_emb(spark, sf_dir), dim=64, d_out=8)
    return (out.select("id", F.posexplode("proj")
                       .alias("dim", "v"))
            .select("id", F.col("dim").cast("int").alias("dim"),
                    F.round(F.col("v") * 1_000_000).cast("long")
                    .alias("val_micro")))


@query("bm25_search", oracle=(
    "WITH d AS (SELECT doc_id AS id, "
    f"len({_TOKS})::DOUBLE AS dl, "
    "len(list_filter(list_transform(regexp_split_to_array("
    "trim(text), '\\s+'), y -> lower(y)), x -> x = 'hash'"
    "))::DOUBLE AS tf0, "
    "len(list_filter(list_transform(regexp_split_to_array("
    "trim(text), '\\s+'), y -> lower(y)), x -> x = 'join'"
    "))::DOUBLE AS tf1, "
    "len(list_filter(list_transform(regexp_split_to_array("
    "trim(text), '\\s+'), y -> lower(y)), x -> x = 'spark'"
    "))::DOUBLE AS tf2 FROM documents), "
    "s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, "
    "sum((tf0 > 0)::INT)::DOUBLE AS df0, "
    "sum((tf1 > 0)::INT)::DOUBLE AS df1, "
    "sum((tf2 > 0)::INT)::DOUBLE AS df2 FROM d) "
    "SELECT id, round(("
    "ln((n-df0+0.5)/(df0+0.5)+1.0) * "
    "(tf0*2.2/(tf0 + 1.2*(0.25 + 0.75*dl/avgdl))) + "
    "ln((n-df1+0.5)/(df1+0.5)+1.0) * "
    "(tf1*2.2/(tf1 + 1.2*(0.25 + 0.75*dl/avgdl))) + "
    "ln((n-df2+0.5)/(df2+0.5)+1.0) * "
    "(tf2*2.2/(tf2 + 1.2*(0.25 + 0.75*dl/avgdl)))"
    ") * 1000000)::BIGINT AS score_micro "
    "FROM d, s WHERE tf0 + tf1 + tf2 > 0"))
def _q_bm25_search(spark, sf_dir):
    """Okapi BM25 corpus relevance scores for the query "hash join
    spark" — the retrieval scorer used to mine domain-relevant
    subsets out of a crawl. One scan, one scalar stats row broadcast
    back, map-only scoring; micro-rounded longs compare exactly."""
    from tika_spark.analysis.textstats import bm25_scores
    return bm25_scores(_docs(spark, sf_dir), "hash join spark")


@query("hybrid_search_rrf", oracle=(
    # bm25 fragment = the bm25_search oracle verbatim; dense
    # fragment = the ann_topk cosine; RRF = 1e9 // (60+rank)
    "WITH d AS (SELECT doc_id AS id, "
    f"len({_TOKS})::DOUBLE AS dl, "
    "len(list_filter(list_transform(regexp_split_to_array("
    "trim(text), '\\s+'), y -> lower(y)), x -> x = 'hash'"
    "))::DOUBLE AS tf0, "
    "len(list_filter(list_transform(regexp_split_to_array("
    "trim(text), '\\s+'), y -> lower(y)), x -> x = 'join'"
    "))::DOUBLE AS tf1, "
    "len(list_filter(list_transform(regexp_split_to_array("
    "trim(text), '\\s+'), y -> lower(y)), x -> x = 'spark'"
    "))::DOUBLE AS tf2 FROM documents), "
    "s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, "
    "sum((tf0 > 0)::INT)::DOUBLE AS df0, "
    "sum((tf1 > 0)::INT)::DOUBLE AS df1, "
    "sum((tf2 > 0)::INT)::DOUBLE AS df2 FROM d), "
    "scored AS (SELECT id, round(("
    "ln((n-df0+0.5)/(df0+0.5)+1.0) * "
    "(tf0*2.2/(tf0 + 1.2*(0.25 + 0.75*dl/avgdl))) + "
    "ln((n-df1+0.5)/(df1+0.5)+1.0) * "
    "(tf1*2.2/(tf1 + 1.2*(0.25 + 0.75*dl/avgdl))) + "
    "ln((n-df2+0.5)/(df2+0.5)+1.0) * "
    "(tf2*2.2/(tf2 + 1.2*(0.25 + 0.75*dl/avgdl)))"
    ") * 1000000)::BIGINT AS score_micro "
    "FROM d, s WHERE tf0 + tf1 + tf2 > 0), "
    "lex AS (SELECT id, row_number() OVER (ORDER BY "
    "score_micro DESC, id ASC) AS r FROM scored), "
    "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings "
    "WHERE vec_id = 3), "
    "dn AS (SELECT vec_id AS id, CAST(round("
    "list_cosine_similarity(qv, embedding::DOUBLE[]) "
    "* 1000000) AS BIGINT) AS sim FROM embeddings, q), "
    "dense AS (SELECT id, row_number() OVER (ORDER BY "
    "sim DESC, id ASC) AS r FROM dn), "
    "c AS (SELECT id, 1000000000 // (60 + r) AS contrib "
    "FROM lex WHERE r <= 50 UNION ALL "
    "SELECT id, 1000000000 // (60 + r) FROM dense "
    "WHERE r <= 50), "
    "f AS (SELECT id, SUM(contrib)::BIGINT AS rrf_nano, "
    "COUNT(*)::BIGINT AS n_lists FROM c GROUP BY id) "
    "SELECT id, rrf_nano, n_lists, rank FROM ("
    "SELECT id, rrf_nano, n_lists, row_number() OVER ("
    "ORDER BY rrf_nano DESC, id ASC)::BIGINT AS rank FROM f"
    ") WHERE rank <= 20"))
def _q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval (analysis/retrieval.py): BM25 lexical top-50
    for "hash join spark" fused with the exact-cosine dense top-50
    for the query embedding (vec_id 3) by reciprocal-rank fusion
    (Cormack et al. 2009). Contributions are integer nano-units
    (1e9 div (60+rank)) so the fused scores hash bit-exactly; the
    fusion itself touches only the two bounded top-depth lists."""
    from tika_spark.analysis.retrieval import hybrid_topk
    return hybrid_topk(_docs(spark, sf_dir), _emb(spark, sf_dir),
                       "hash join spark", query_vec_id=3,
                       k=20, depth=50)


_BM25_INDEXED_SQL = (
    # postings-only scoring; per-term micro rounding before
    # the per-doc sum (order-independent)
    "WITH b0 AS (SELECT doc_id AS id, "
    "list_transform(regexp_split_to_array(trim(text), "
    "'\\s+'), y -> lower(y)) AS w FROM documents), "
    "dl AS (SELECT id, len(w)::BIGINT AS dl FROM b0), "
    "p AS (SELECT id, x AS term, count(*)::BIGINT AS tf "
    "FROM (SELECT id, unnest(w) AS x FROM b0) "
    "WHERE x IN ('hash', 'join', 'spark') GROUP BY 1, 2), "
    "s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl "
    "FROM dl), "
    "d AS (SELECT term, count(*)::DOUBLE AS dft FROM p "
    "GROUP BY 1), "
    "c AS (SELECT p.id, round(ln((n - dft + 0.5) / "
    "(dft + 0.5) + 1.0) * (tf * 2.2 / (tf + 1.2 * (0.25 "
    "+ 0.75 * dl.dl / avgdl))) * 1000000)::BIGINT AS c "
    "FROM p JOIN dl USING (id) JOIN d USING (term), s) "
    "SELECT id, count(*)::BIGINT AS n_terms_hit, "
    "sum(c)::BIGINT AS score_micro FROM c GROUP BY id")


@query("bm25_indexed_search", oracle=_BM25_INDEXED_SQL)
def _q_bm25_indexed_search(spark, sf_dir):
    """Index-once/query-many BM25 (textstats.inverted_index +
    bm25_indexed): the query touches only its terms' postings rows —
    no corpus rescan, unlike bm25_search's single-scan form.
    Per-term contributions round to micro-units before the per-doc
    sum so the aggregation is order-independent and hash-exact."""
    from tika_spark.analysis.textstats import (bm25_indexed,
                                               inverted_index)
    postings, doclens = inverted_index(_docs(spark, sf_dir))
    return bm25_indexed(postings, doclens, "hash join spark")


@query("docs_token_budget", oracle=(
    "WITH t AS (SELECT doc_id AS id, n_chars::BIGINT AS score, "
    f"len({_TOKS})::BIGINT AS n_tok FROM documents), "
    "c AS (SELECT id, score, n_tok, sum(n_tok) OVER "
    "(ORDER BY score DESC, id) AS cum_tok FROM t) "
    "SELECT id, score, n_tok, cum_tok FROM c "
    "WHERE cum_tok <= 15000"))
def _q_docs_token_budget(spark, sf_dir):
    """Global greedy token-budget selection ("best 15k tokens of the
    corpus" by n_chars score): the scalable two-phase prefix sum —
    range partition, per-partition subtotals, broadcast offsets,
    parallel per-partition windows — instead of the single-task
    global-window formulation the oracle runs."""
    from tika_spark.analysis.curation import select_token_budget
    docs = _docs(spark, sf_dir)
    return select_token_budget(docs, budget=15000,
                               score_col="n_chars").select(
        "id", F.col("score").cast("long").alias("score"),
        "n_tok", "cum_tok")


_WARC_PAGES_SQL = (
    "SELECT 'doc://' || doc_id AS url, "
    "TIMESTAMP '2026-01-17 08:30:00' AS warc_ts, "
    "'Doc ' || doc_id AS title, "
    "text || chr(10) AS text FROM documents")


@query("extract_warc_pages", oracle=_WARC_PAGES_SQL)
def _q_extract_warc_pages(spark, sf_dir):
    """End-to-end Common-Crawl shape: documents wrapped into
    multi-record .warc.gz blobs (one gzip member per response record,
    the CC framing), stream-parsed back into pages by the
    sources.warc reader, then through the full extraction chain. Each
    Arrow batch becomes one multi-record archive, so member chaining
    and the HTTP-envelope strip are both exercised distributed."""
    from tika_spark.sources.warc import warc_pages

    def build(batches):
        # html bytes are built natively by _html_wrap (one canonical
        # page shape for the whole contract); the UDF only frames
        # them into WARC records
        from tika_spark.fixtures import warcgen
        for pdf in batches:
            recs = [(f"doc://{i}", "2026-01-17T08:30:00Z", bytes(h))
                    for i, h in zip(pdf["doc_id"], pdf["html"])]
            yield pd.DataFrame({"blob": [warcgen.warc_gz(recs)]})

    blobs = (_docs(spark, sf_dir)
             .select("doc_id", _html_wrap().alias("html"))
             .mapInPandas(build, "blob binary"))

    def parse(batches):
        for pdf in batches:
            rows = [(p["url"], p["warc_date"], p["html"])
                    for b in pdf["blob"]
                    for p in warc_pages(bytes(b))
                    if p["status"] == "ok"]
            out = pd.DataFrame(rows,
                               columns=["url", "warc_date", "html"])
            out["warc_ts"] = pd.to_datetime(
                out["warc_date"], format="ISO8601", utc=True
            ).dt.tz_localize(None)
            yield out[["url", "warc_ts", "html"]]
    pages = blobs.mapInPandas(
        parse, "url string, warc_ts timestamp, html binary")
    # warc_ts rides through the extraction stage (no rejoin — the
    # parse stage runs once)
    return (extract(pages, mode="text")
            .select("url", "warc_ts", "title", "text"))


@query("extract_warc_zst_pages", oracle=_WARC_PAGES_SQL)
def _q_extract_warc_zst_pages(spark, sf_dir):
    """The .warc.zst shape of extract_warc_pages: one from-scratch
    zstd frame per response record (sources/warc.py
    iter_zstd_members_from walks frame boundaries by header
    arithmetic and skips the IIPC dictionary skippable frame), then
    the full extraction chain. Wire forms cycle all five encoder
    modes (analysis/zstdcodec.py)."""
    from tika_spark.sources.warc import warc_pages_from

    def build(batches):
        from tika_spark.fixtures import warcgen
        for pdf in batches:
            recs = [(f"doc://{i}", "2026-01-17T08:30:00Z", bytes(h))
                    for i, h in zip(pdf["doc_id"], pdf["html"])]
            yield pd.DataFrame({"blob": [warcgen.warc_zst(recs)]})

    blobs = (_docs(spark, sf_dir)
             .select("doc_id", _html_wrap().alias("html"))
             .mapInPandas(build, "blob binary"))

    def parse(batches):
        import io
        for pdf in batches:
            rows = [(p["url"], p["warc_date"], p["html"])
                    for b in pdf["blob"]
                    for p in warc_pages_from(io.BytesIO(bytes(b)).read,
                                             zst=True)
                    if p["status"] == "ok"]
            out = pd.DataFrame(rows,
                               columns=["url", "warc_date", "html"])
            out["warc_ts"] = pd.to_datetime(
                out["warc_date"], format="ISO8601", utc=True
            ).dt.tz_localize(None)
            yield out[["url", "warc_ts", "html"]]
    pages = blobs.mapInPandas(
        parse, "url string, warc_ts timestamp, html binary")
    return (extract(pages, mode="text")
            .select("url", "warc_ts", "title", "text"))


@query("extract_warc_zst_dict_pages", oracle=_WARC_PAGES_SQL)
def _q_extract_warc_zst_dict_pages(spark, sf_dir):
    """The dictionary-compressed .warc.zst shape: a structured zstd
    dictionary (RFC 8878 section 5 — entropy tables + repeat ring +
    shared-boilerplate content) rides the leading IIPC 0x184D2A5D
    skippable frame, itself zstd-compressed; every record frame
    names its Dictionary_ID and cycles window-only and entropy-reuse
    wire forms (analysis/zstdcodec.py parse_dict/build_dict;
    sources/warc.py iter_zstd_members_from consumes the dictionary
    frame). Then the full extraction chain, as extract_warc_pages."""
    from tika_spark.sources.warc import warc_pages_from

    def build(batches):
        from tika_spark.fixtures import warcgen
        for pdf in batches:
            recs = [(f"doc://{i}", "2026-01-17T08:30:00Z", bytes(h))
                    for i, h in zip(pdf["doc_id"], pdf["html"])]
            yield pd.DataFrame(
                {"blob": [warcgen.warc_zst_dict(recs)]})

    blobs = (_docs(spark, sf_dir)
             .select("doc_id", _html_wrap().alias("html"))
             .mapInPandas(build, "blob binary"))

    def parse(batches):
        import io
        for pdf in batches:
            rows = [(p["url"], p["warc_date"], p["html"])
                    for b in pdf["blob"]
                    for p in warc_pages_from(io.BytesIO(bytes(b)).read,
                                             zst=True)
                    if p["status"] == "ok"]
            out = pd.DataFrame(rows,
                               columns=["url", "warc_date", "html"])
            out["warc_ts"] = pd.to_datetime(
                out["warc_date"], format="ISO8601", utc=True
            ).dt.tz_localize(None)
            yield out[["url", "warc_ts", "html"]]
    pages = blobs.mapInPandas(
        parse, "url string, warc_ts timestamp, html binary")
    return (extract(pages, mode="text")
            .select("url", "warc_ts", "title", "text"))


_DOC_TEXT_SQL = (
    "SELECT 'doc://' || doc_id AS url, text FROM documents")


@query("warc_zst_dict_train_roundtrip", oracle=_DOC_TEXT_SQL)
def _q_warc_zst_dict_train_roundtrip(spark, sf_dir):
    """Crawl-tier egress: TRAIN a zstd dictionary over the corpus
    (analysis/dicttrain.py train_zstd_dict — COVER-style recurring
    shingle counting as one JVM-side groupBy whose shuffle carries
    16-byte shingles, never documents), export every document as
    dictionary-compressed .warc.zst shards (one per partition, each
    led by the IIPC dictionary skippable frame so shards stay
    independently readable / splittable), then read the shards back
    through the same sources/warc.py path that ingests CommonCrawl
    archives. Hash-exact roundtrip proves the trained dictionary,
    the RFC 8878 structured-dict encoder, and the shard reader agree
    byte-for-byte; the compression-wins-over-no-dict property is
    pinned in tests/test_dicttrain.py."""
    from tika_spark.analysis.dicttrain import (
        export_warc_zst, read_warc_zst_shards, train_zstd_dict)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    blob = train_zstd_dict(docs, dict_size=4096, dict_id=2026)
    shards = export_warc_zst(docs, blob)
    return (read_warc_zst_shards(shards)
            .select("url", "text"))


_CKPT_BUCKETS_SQL = (
    "SELECT CAST((ascii(substr(md5('doc://' || doc_id), 1, 1)) "
    "* 16 + ascii(substr(md5('doc://' || doc_id), 2, 1))) % 8 "
    "AS INT) AS ckpt_bucket, count(*) AS n_rows "
    "FROM documents GROUP BY 1")


@query("extract_checkpointed_table", oracle=_CKPT_BUCKETS_SQL)
def _q_extract_checkpointed_table(spark, sf_dir):
    """extract_checkpointed with checkpoint manifests AS snapshot
    commits (pipeline/checkpoint.py run_checkpointed_table over
    pipeline/table.py): interrupted after one wave, resumed, then the
    per-bucket counts are read from the table itself. Crash semantics
    are strictly stronger than the directory variant — an uncommitted
    wave is invisible, so no overwrite is needed on retry. Same
    DuckDB oracle as extract_checkpointed (pure-SQL md5 bucket
    replay)."""
    import shutil
    import tempfile

    from tika_spark.pipeline import checkpoint as ck
    from tika_spark.pipeline.table import SnapshotTable
    pages = _pages_mixed(_docs(spark, sf_dir))
    root = tempfile.mkdtemp(prefix="tika_ckpt_tab_")
    shutil.rmtree(root)

    def bucket_fn(col):
        return F.pmod(
            F.ascii(F.substring(F.md5(col), 1, 1)) * 16
            + F.ascii(F.substring(F.md5(col), 2, 1)),
            F.lit(8)).cast("int")

    try:
        ck.run_checkpointed_table(pages, root, n_buckets=8,
                                  wave_size=3, max_waves=1,
                                  bucket_fn=bucket_fn)  # interrupted
        ck.run_checkpointed_table(pages, root, n_buckets=8,
                                  wave_size=3,
                                  bucket_fn=bucket_fn)  # resume
        t = SnapshotTable.load(spark, root)
        pdf = (t.read().groupBy("ckpt_bucket")
               .agg(F.count("*").alias("n_rows"))
               .toPandas())                 # materialize before rmtree
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf.astype({"ckpt_bucket": "int32", "n_rows": "int64"}),
        "ckpt_bucket int, n_rows bigint")


@query("streaming_table_sink", oracle=(
    "SELECT doc_id, CAST(length(text) AS INT) AS n_chars "
    "FROM documents"))
def _q_streaming_table_sink(spark, sf_dir):
    """Exactly-once streaming ingest into the snapshot table
    (streaming/table_sink.py): documents replayed as a file stream
    (availableNow) through foreachBatch, each micro-batch one atomic
    snapshot commit carrying its batch id (the Delta/Iceberg
    streaming-sink idempotence pattern). The table's final contents
    must equal the batch projection exactly. Materialized to pandas
    before the temp roots are removed (fixture-scale)."""
    import shutil
    import tempfile

    from tika_spark.pipeline.table import SnapshotTable
    from tika_spark.streaming.table_sink import stream_to_table
    root = tempfile.mkdtemp(prefix="snapstream-")
    shutil.rmtree(root)
    ckpt = tempfile.mkdtemp(prefix="snapstream-ckpt-")
    try:
        stream = (spark.readStream
                  .schema("doc_id long, text string, lang string, "
                          "source string, n_chars long")
                  .parquet(_stream_dir(sf_dir, "documents"))
                  .select("doc_id",
                          F.length("text").cast("int")
                          .alias("n_chars")))
        q = stream_to_table(stream, root, ckpt,
                            query_name="docs_ingest",
                            available_now=True)
        q.awaitTermination(300)
        t = SnapshotTable.load(spark, root)
        pdf = t.read().toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        pdf.astype({"doc_id": "int64", "n_chars": "int32"}),
        "doc_id bigint, n_chars int")


@query("html_image_candidates", oracle=(
    "WITH d AS (SELECT 'doc://' || doc_id AS url, doc_id "
    "FROM documents) "
    "SELECT url, 'source' AS tag, 'p' || doc_id || '.webp' "
    "AS cand_url, '1x' AS descriptor FROM d "
    "UNION ALL SELECT url, 'source', 'p' || doc_id || "
    "'-hd.webp', '2x' FROM d "
    "UNION ALL SELECT url, 'img', 'm' || doc_id || '.jpg', "
    "'' FROM d "
    "UNION ALL SELECT url, 'img', 'x' || doc_id || '.png', "
    "'' FROM d WHERE doc_id % 2 = 1 "
    "UNION ALL SELECT url, 'img-srcset', 'x' || doc_id || "
    "'-640.png', '640w' FROM d WHERE doc_id % 2 = 1"))
def _q_html_image_candidates(spark, sf_dir):
    """Responsive-image harvest (structdata.image_candidates): img
    src + srcset and picture>source srcset candidates with their
    width/density descriptors — the high-resolution variants a
    src-only harvester misses; fixture markup is doc_id arithmetic
    the oracle rebuilds row for row."""
    from tika_spark.html.structdata import image_candidate_rows
    nimg = 1 + F.col("doc_id") % 2
    html = F.concat(
        F.lit('<picture><source srcset="p'),
        F.col("doc_id"), F.lit('.webp 1x, p'),
        F.col("doc_id"), F.lit('-hd.webp 2x"><img src="m'),
        F.col("doc_id"), F.lit('.jpg"></picture>'),
        F.when(nimg == 2, F.concat(
            F.lit('<img src="x'), F.col("doc_id"),
            F.lit('.png" srcset="x'), F.col("doc_id"),
            F.lit('-640.png 640w">'))).otherwise(F.lit(""))).cast("binary")
    pages = _pages(spark, sf_dir, html)
    return image_candidate_rows(pages)


@query("html_structured_data", oracle=(
    # 11 rows per doc: og:title, twitter:card, 3 json-ld
    # props, Product(+name,offers->#1) and Offer(+price)
    "WITH d AS (SELECT 'doc://' || doc_id AS url, doc_id "
    "FROM documents) "
    "SELECT url, 'opengraph' AS fmt, 0 AS entity, "
    "'og:title' AS prop, 'Title ' || doc_id AS value FROM d "
    "UNION ALL SELECT url, 'twitter', 0, 'twitter:card', "
    "'summary' FROM d "
    "UNION ALL SELECT url, 'json-ld', 0, '@type', "
    "'Article' FROM d "
    "UNION ALL SELECT url, 'json-ld', 0, 'headline', "
    "'Head ' || doc_id FROM d "
    "UNION ALL SELECT url, 'json-ld', 0, 'wordCount', "
    "CAST(doc_id % 100 AS VARCHAR) FROM d "
    "UNION ALL SELECT url, 'microdata', 0, '@type', "
    "'https://schema.org/Product' FROM d "
    "UNION ALL SELECT url, 'microdata', 0, 'name', "
    "'Item ' || doc_id FROM d "
    "UNION ALL SELECT url, 'microdata', 1, '@type', "
    "'https://schema.org/Offer' FROM d "
    "UNION ALL SELECT url, 'microdata', 0, 'offers', "
    "'#1' FROM d "
    "UNION ALL SELECT url, 'microdata', 1, 'price', "
    "(doc_id % 50) || '.99' FROM d"))
def _q_html_structured_data(spark, sf_dir):
    """Structured-data mining (html/structdata.py): JSON-LD,
    OpenGraph/Twitter meta, and nested HTML5 microdata flattened to
    (url, fmt, entity, prop, value) rows — the schema.org extraction
    stage of a web corpus pipeline. Fixture pages carry all three
    encodings with doc_id-arithmetic values the oracle rebuilds."""
    from tika_spark.html.structdata import structured_data
    html = F.concat(
        F.lit('<html><head><meta property="og:title" '
              'content="Title '),
        F.col("doc_id"),
        F.lit('"><meta name="twitter:card" content="summary">'
              '<script type="application/ld+json">'
              '{"@type":"Article","headline":"Head '),
        F.col("doc_id"),
        F.lit('","wordCount":'),
        (F.col("doc_id") % 100).cast("string"),
        F.lit('}</script></head><body>'
              '<div itemscope itemtype='
              '"https://schema.org/Product">'
              '<span itemprop="name">Item '),
        F.col("doc_id"),
        F.lit('</span><div itemprop="offers" itemscope '
              'itemtype="https://schema.org/Offer">'
              '<meta itemprop="price" content="'),
        (F.col("doc_id") % 50).cast("string"),
        F.lit('.99"></div></div></body></html>')).cast("binary")
    pages = _pages(spark, sf_dir, html)
    return structured_data(pages)


@query("unigram_seed_vocab", oracle=(
    # chars ∪ top-50 len-2..3 substrings, word-freq weighted
    "WITH w AS (SELECT unnest(regexp_split_to_array("
    "trim(text), '\\s+')) AS word FROM documents), "
    "wc AS (SELECT substr(word, 1, 64) AS word, "
    "COUNT(*)::BIGINT AS cnt FROM w WHERE word <> '' "
    "GROUP BY 1), "
    "subs AS (SELECT substr(word, i, ln) AS piece, cnt "
    "FROM wc CROSS JOIN (SELECT unnest(generate_series(1, "
    "64)) AS i) a CROSS JOIN (SELECT unnest("
    "generate_series(1, 3)) AS ln) b "
    "WHERE i <= length(word) AND ln <= length(word) - i + 1), "
    "pc AS (SELECT piece, SUM(cnt)::BIGINT AS count "
    "FROM subs GROUP BY piece), "
    "multi AS (SELECT piece, count, row_number() OVER ("
    "ORDER BY count DESC, piece ASC) AS r FROM pc "
    "WHERE length(piece) >= 2) "
    "SELECT piece, count FROM pc WHERE length(piece) = 1 "
    "UNION ALL SELECT piece, count FROM multi WHERE r <= 50"))
def _q_unigram_seed_vocab(spark, sf_dir):
    """Unigram-LM seed vocabulary (analysis/unigram.py seed_vocab):
    every single character plus the top-50 length-2..3 substrings of
    corpus words weighted by word frequency — the relational half of
    SentencePiece-style training (one corpus scan to the word vocab,
    per-row substring explosion, one top-k window)."""
    from tika_spark.analysis.unigram import seed_vocab
    return seed_vocab(_docs(spark, sf_dir), max_piece_len=3,
                      top_k=50)


@query("unigram_train_pieces", oracle=None)
def _q_unigram_train_pieces(spark, sf_dir):
    """Unigram-LM tokenizer training (analysis/unigram.py
    unigram_train, Kudo 2018): EM forward-backward over each word's
    segmentation lattice + lowest-count pruning rounds down to a
    48-piece vocabulary. Iterative EM is not SQL-expressible, so this
    is a rows-only driver check; the hand-computed posterior goldens
    and bit-reproducibility are pinned in tests/test_unigram.py.
    Expected counts aggregate as integer micro-units, making the
    whole run deterministic under any partitioning."""
    from tika_spark.analysis.unigram import unigram_train
    return unigram_train(_docs(spark, sf_dir), vocab_size=48,
                         n_iters=2, seed_top=120, max_piece_len=3)


@query("unigram_encode_docs", oracle=(
    # 2+id%2 words of 'ab'*((id+k)%3+1) -> m pieces each;
    # id%5==0 adds an 'xq' word -> 2 unk char pieces
    "WITH s AS (SELECT doc_id, "
    "SUM((doc_id + k) % 3 + 1)::BIGINT AS base, "
    "COUNT(*)::BIGINT AS nw FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 2)) AS k) t "
    "WHERE k <= 1 + doc_id % 2 GROUP BY doc_id) "
    "SELECT doc_id AS id, "
    "(nw + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)"
    "::BIGINT AS n_words, "
    "(base + CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END)"
    "::BIGINT AS n_pieces, "
    "(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END)::BIGINT "
    "AS n_unk FROM s"))
def _q_unigram_encode_docs(spark, sf_dir):
    """The APPLY half of the unigram tokenizer (unigram_encode):
    Viterbi segmentation under a fixed piece table {a,b,ab} over
    constructed doc_id-arithmetic text ('ab'*m words, one 'xq' word
    per doc_id%5==0 exercising the unk fallback); the oracle rebuilds
    the piece/unk counts in closed form."""
    from tika_spark.analysis.unigram import unigram_encode
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), (F.col("doc_id") % 2) + 1),
                lambda k: F.repeat(
                    F.lit("ab"),
                    ((F.col("doc_id") + k) % 3 + 1).cast("int"))),
            F.when(F.col("doc_id") % 5 == 0, F.array(F.lit("xq")))
            .otherwise(F.array().cast("array<string>")))
        .alias("text"))
    pieces = [("a", -2.0), ("b", -2.0), ("ab", -1.0)]
    return unigram_encode(docs, pieces, max_piece_len=2)


@query("table_merge_delete", oracle=(
    # upsert: %7==0 re-texted, 30 new ids; then delete %5==3
    "WITH m AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 "
    "THEN 'upd-' || doc_id ELSE text END AS text "
    "FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, 'ins-' || doc_id "
    "AS text FROM documents WHERE doc_id < 30) "
    "SELECT doc_id, text FROM m WHERE doc_id % 5 <> 3"))
def _q_table_merge_delete(spark, sf_dir):
    """Copy-on-write MERGE + DELETE on the snapshot table layer
    (pipeline/table.py merge/delete_where): two appends, then an
    upsert (every doc_id%7==0 re-crawled with new text, 30 brand-new
    ids inserted), then a predicate delete (doc_id%5==3). File-level
    pruning rewrites only files holding matched keys; the final-state
    collect materializes rows before the temp root is removed —
    harness bookkeeping, not an operator collect."""
    import shutil
    import tempfile

    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="mergetab-")
    shutil.rmtree(root)
    try:
        t = SnapshotTable.create(spark, root)
        t.append(docs.filter(F.col("doc_id") % 2 == 0))
        t.append(docs.filter(F.col("doc_id") % 2 == 1))
        src = (docs.filter(F.col("doc_id") % 7 == 0)
               .withColumn("text", F.concat(
                   F.lit("upd-"), F.col("doc_id").cast("string")))
               .unionByName(
                   docs.filter(F.col("doc_id") < 30).select(
                       (F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.lit("ins-"),
                                F.col("doc_id").cast("string"))
                       .alias("text"))))
        t.merge(src, ["doc_id"])
        sid = t.delete_where(F.col("doc_id") % 5 == 3)
        rows = [(int(r["doc_id"]), r["text"])
                for r in t.read(sid).collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@query("table_zorder_key", oracle=(
    "WITH s AS (SELECT min(doc_id) AS mna, max(doc_id) AS "
    "mxa, min(n_chars) AS mnb, max(n_chars) AS mxb "
    "FROM documents), "
    "v AS (SELECT doc_id, CASE WHEN mxa > mna THEN "
    "(doc_id - mna) * 255 // (mxa - mna) ELSE 0 END AS x, "
    "CASE WHEN mxb > mnb THEN (n_chars - mnb) * 255 // "
    "(mxb - mnb) ELSE 0 END AS y FROM documents, s) "
    f"SELECT doc_id, ({_Z_INTERLEAVE})::BIGINT AS zkey "
    "FROM v"))
def _q_table_zorder_key(spark, sf_dir):
    """Z-order clustering key (pipeline/table.py zorder_key): doc_id
    and n_chars range-scale to 8 bits off one broadcast stats row and
    interleave into a Morton key — integer arithmetic end to end, so
    the oracle rebuilds every bit. Writing sorted by this key makes
    read_where's file skipping work on BOTH columns (pinned in
    tests/test_table.py)."""
    from tika_spark.pipeline.table import zorder_key
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    return zorder_key(docs, ["doc_id", "n_chars"], bits=8).select(
        "doc_id", "zkey")


@query("table_schema_evolution", oracle=(
    "SELECT doc_id, CAST(NULL AS VARCHAR) AS lang "
    "FROM documents UNION ALL "
    "SELECT doc_id + 1000000, lang FROM documents"))
def _q_table_schema_evolution(spark, sf_dir):
    """Additive schema evolution (table.evolve_schema): the lang
    column appears by metadata commit only — pre-evolution files
    read it as NULL via by-name parquet resolution, post-evolution
    appends carry values, no data file rewritten."""
    import shutil
    import tempfile

    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="evotab-")
    shutil.rmtree(root)
    try:
        t = SnapshotTable.create(spark, root,
                                 docs.select("doc_id", "text"))
        t.evolve_schema([("lang", "string")])
        t.append(docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "text", "lang"))
        rows = [(int(r["doc_id"]), r["lang"])
                for r in t.read().collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, lang string")


@query("table_incremental_index", oracle=_BM25_INDEXED_SQL)
def _q_table_incremental_index(spark, sf_dir):
    """Incremental search-index maintenance: the inverted index
    lives IN the snapshot table layer — postings/doclens of the
    first crawl half committed, the second half appended as a delta
    (no rebuild), then bm25_indexed queries the table head. The
    result must equal a from-scratch index over the full corpus
    (the oracle is exactly bm25_indexed_search's)."""
    import shutil
    import tempfile

    from tika_spark.analysis.textstats import (bm25_indexed,
                                               inverted_index)
    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="idxtab-")
    shutil.rmtree(root)
    try:
        p1, d1 = inverted_index(docs.filter(F.col("doc_id") % 2
                                            == 0))
        tp = SnapshotTable.create(spark, root + "-p", p1)
        td = SnapshotTable.create(spark, root + "-d", d1)
        p2, d2 = inverted_index(docs.filter(F.col("doc_id") % 2
                                            == 1))
        tp.append(p2)
        td.append(d2)
        out = bm25_indexed(tp.read(), td.read(),
                           "hash join spark")
        rows = [(int(r["id"]), int(r["n_terms_hit"]),
                 int(r["score_micro"])) for r in out.collect()]
    finally:
        shutil.rmtree(root + "-p", ignore_errors=True)
        shutil.rmtree(root + "-d", ignore_errors=True)
    return spark.createDataFrame(
        rows, "id bigint, n_terms_hit bigint, score_micro bigint")


@query("table_pruned_scan", oracle=(
    "SELECT doc_id, text FROM documents "
    "WHERE doc_id BETWEEN 130 AND 260"))
def _q_table_pruned_scan(spark, sf_dir):
    """Iceberg-style file skipping (pipeline/table.py stats_cols +
    read_where): four disjoint doc_id-range appends record per-file
    min/max in the manifest; a range scan opens only overlapping
    files (pruning pinned in tests/test_table.py) and the residual
    filter makes the rows exactly match a full-scan filter."""
    import shutil
    import tempfile

    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="prunetab-")
    shutil.rmtree(root)
    try:
        t = SnapshotTable.create(spark, root,
                                 stats_cols=["doc_id"])
        for k in range(4):
            t.append(docs.filter(
                (F.col("doc_id") >= k * 125)
                & (F.col("doc_id") < (k + 1) * 125)).coalesce(1))
        t.append(docs.filter(F.col("doc_id") >= 500).coalesce(1))
        rows = [(int(r["doc_id"]), r["text"]) for r in
                t.read_where("doc_id", 130, 260).collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@query("table_bloom_lookup", oracle=(
    "SELECT doc_id, lang, 1::BIGINT AS n_kept, "
    "4::BIGINT AS n_total FROM documents "
    "WHERE doc_id IN (7, 133, 261, 389, 444)"))
def _q_table_bloom_lookup(spark, sf_dir):
    """Per-file Bloom filters in the snapshot table layer
    (pipeline/table.py bloom_cols + read_eq — the Iceberg
    puffin/Delta bloom analog): four disjoint doc_id appends each
    record a 32 Kbit md5 Bloom bitmap per file; a point lookup opens
    only the file whose filter admits the key (no stats recorded, so
    the skipping is bloom-only; no false negatives by construction,
    zero false positives for these keys pinned by the oracle's
    n_kept = 1)."""
    import shutil
    import tempfile

    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    root = tempfile.mkdtemp(prefix="bloomtab-")
    shutil.rmtree(root)
    rows = []
    try:
        t = SnapshotTable.create(spark, root, bloom_cols=["doc_id"])
        for k in range(4):
            t.append(docs.filter(
                (F.col("doc_id") >= k * 125)
                & (F.col("doc_id") < (k + 1) * 125)).coalesce(1))
        for key in (7, 133, 261, 389, 444, 100444):
            kept, total = t.prune_files_eq("doc_id", key)
            for r in t.read_eq("doc_id", key).collect():
                rows.append((int(r["doc_id"]), r["lang"],
                             len(kept), total))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id bigint, lang string, n_kept bigint, "
              "n_total bigint")


@query("table_snapshot_reads", oracle=(
    "WITH base AS (SELECT doc_id, length(text) AS c "
    "FROM documents) "
    "SELECT CAST(1 AS INT) AS snap_seq, 'append_even' AS op, "
    "COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS "
    "sum_ids, CAST(SUM(c) AS BIGINT) AS sum_chars "
    "FROM base WHERE doc_id % 2 = 0 "
    "UNION ALL SELECT CAST(2 AS INT), 'append_odd', COUNT(*), "
    "CAST(SUM(doc_id) AS BIGINT), CAST(SUM(c) AS BIGINT) "
    "FROM base "
    "UNION ALL SELECT CAST(3 AS INT), 'compact', COUNT(*), "
    "CAST(SUM(doc_id) AS BIGINT), CAST(SUM(c) AS BIGINT) "
    "FROM base "
    "UNION ALL SELECT CAST(4 AS INT), 'overwrite', COUNT(*), "
    "CAST(SUM(doc_id) AS BIGINT), CAST(SUM(c) AS BIGINT) "
    "FROM base WHERE doc_id < 50"))
def _q_table_snapshot_reads(spark, sf_dir):
    """Snapshot-versioned table layer (pipeline/table.py — the
    Iceberg-style atomic-rename commit protocol): append evens,
    append odds, compact, overwrite doc_id<50, then time-travel read
    each snapshot and aggregate it. The 4-row collect materializes
    the per-snapshot aggregates before the temp table root is
    removed — harness bookkeeping, not an operator collect."""
    import shutil
    import tempfile

    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="snaptab-")
    shutil.rmtree(root)                  # create() wants a fresh root
    try:
        t = SnapshotTable.create(spark, root)
        steps = [
            ("append_even",
             t.append(docs.filter(F.col("doc_id") % 2 == 0))),
            ("append_odd",
             t.append(docs.filter(F.col("doc_id") % 2 == 1))),
        ]
        steps.append(("compact", t.compact(target_bytes=1 << 30)))
        steps.append(("overwrite",
                      t.overwrite(docs.filter(F.col("doc_id") < 50))))
        rows = []
        for seq, (op, sid) in enumerate(steps, 1):
            r = (t.read(sid)
                 .agg(F.count("*").alias("n"),
                      F.sum("doc_id").alias("s"),
                      F.sum(F.length("text")).alias("c"))
                 .collect()[0])
            rows.append((seq, op, int(r["n"]), int(r["s"]),
                         int(r["c"])))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "snap_seq int, op string, n_rows bigint, "
              "sum_ids bigint, sum_chars bigint")


@query("table_incremental_read", oracle=(
    "SELECT doc_id, CAST(length(text) AS INT) AS n_chars "
    "FROM documents WHERE doc_id % 2 = 1"))
def _q_table_incremental_read(spark, sf_dir):
    """Incremental consumption off the snapshot table: the rows in
    files added between two snapshots (the per-crawl delta feed) —
    here, the odd-doc_id append. Materialized to pandas before the
    temp root is removed (fixture-scale)."""
    import shutil
    import tempfile

    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="snapinc-")
    shutil.rmtree(root)
    try:
        t = SnapshotTable.create(spark, root)
        s1 = t.append(docs.filter(F.col("doc_id") % 2 == 0))
        s2 = t.append(docs.filter(F.col("doc_id") % 2 == 1))
        pdf = (t.incremental(s1, s2)
               .select("doc_id",
                       F.length("text").alias("n_chars"))
               .toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf.astype(
        {"doc_id": "int64", "n_chars": "int32"}),
        "doc_id bigint, n_chars int")


@query("docs_dsir", oracle=(
    "WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), "
    r"'\s+') AS w FROM documents), "
    "g AS (SELECT doc_id, unnest(w || list_transform("
    "generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]))"
    " AS g FROM w), "
    "b AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT "
    "% 8192 AS b FROM g), "
    "t AS (SELECT b, count(*) AS ct FROM b WHERE doc_id % 10 = 0 "
    "GROUP BY 1), "
    "r AS (SELECT b, count(*) AS cr FROM b WHERE doc_id % 10 <> 0 "
    "GROUP BY 1), "
    "tot AS (SELECT (SELECT count(*) FROM b WHERE doc_id % 10 = 0)"
    " AS nt, (SELECT count(*) FROM b WHERE doc_id % 10 <> 0) AS nr), "
    "ratio AS (SELECT coalesce(t.b, r.b) AS b, "
    "ln((coalesce(ct, 0) + 1)::DOUBLE / (nt + 8192)) - "
    "ln((coalesce(cr, 0) + 1)::DOUBLE / (nr + 8192)) AS lw "
    "FROM t FULL JOIN r ON t.b = r.b CROSS JOIN tot) "
    "SELECT doc_id, CAST(round(sum(lw) * 1000000) AS BIGINT) AS "
    "dsir_micro FROM b JOIN ratio USING (b) "
    "WHERE doc_id % 10 <> 0 GROUP BY doc_id"))
def _q_docs_dsir(spark, sf_dir):
    """DSIR-style importance reweighting: doc_id%10==0 docs play the
    target distribution, the rest are the raw pool scored by hashed
    unigram+bigram log-probability ratios (md5-bucket hashing shared
    verbatim with the oracle; scores in exact micro-units)."""
    from tika_spark.analysis.curation import dsir_scores
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    return dsir_scores(raw, target).select("doc_id", "dsir_micro")


@query("export_wet_roundtrip", oracle=_DOC_TEXT_SQL)
def _q_export_wet_roundtrip(spark, sf_dir):
    """CC-shaped text egress: documents → WET blobs (WARC conversion
    records, one gzip member each, one blob per Arrow batch) →
    stream-parsed back. Pins that the sink's records carry the exact
    text and that member framing survives multi-doc batches."""
    from tika_spark.sources.warc import to_wet, wet_texts
    docs = _docs(spark, sf_dir).select(
        _doc_url().alias("url"), "text")
    blobs = to_wet(docs)

    def parse(batches):
        for pdf in batches:
            rows = [(p["url"], p["text"])
                    for b in pdf["blob"] for p in wet_texts(bytes(b))
                    if p["status"] == "ok"]
            yield pd.DataFrame(rows, columns=["url", "text"])
    return blobs.mapInPandas(parse, "url string, text string")


@query("frontier_assign_fetchers", oracle=(
    "WITH h AS (SELECT DISTINCT 'h' || (doc_id % 97) || "
    "'.example' AS host FROM documents), "
    "d AS (SELECT host, k, ('0x' || substring(md5(host || "
    "':' || k), 1, 15))::BIGINT AS w FROM h CROSS JOIN "
    "(SELECT unnest(generate_series(0, 6)) AS k) t), "
    "r AS (SELECT host, k, row_number() OVER (PARTITION BY "
    "host ORDER BY w DESC, k ASC) AS rn FROM d) "
    "SELECT host, CAST(k AS INT) AS fetcher FROM r "
    "WHERE rn = 1"))
def _q_frontier_assign_fetchers(spark, sf_dir):
    """Rendezvous-hash fetcher assignment (robots.assign_fetchers):
    each of 97 hosts lands on argmax_k md5(host:k) of 7 fetchers —
    the 1/n-churn sharding real crawlers use; the oracle replays the
    draws and the argmax tie-break."""
    from tika_spark.sources.robots import assign_fetchers
    frontier = _docs(spark, sf_dir).select(
        F.concat(F.lit("h"), F.col("doc_id") % 97,
                 F.lit(".example")).alias("host"))
    return assign_fetchers(frontier, n_fetchers=7)


@query("crawl_redirect_resolve", oracle=(
    "SELECT 'a' || doc_id AS url, "
    "'c' || ((doc_id % 50) % 10) AS final_url, "
    "2::BIGINT AS hops, TRUE AS terminal FROM documents "
    "UNION ALL SELECT 'b' || doc_id, 'c' || (doc_id % 10), "
    "1::BIGINT, TRUE FROM documents WHERE doc_id < 50 "
    "UNION ALL SELECT 'l' || doc_id, 'l' || doc_id, "
    "5::BIGINT, FALSE FROM documents "
    "WHERE doc_id % 100 = 0"))
def _q_crawl_redirect_resolve(spark, sf_dir):
    """Redirect-chain canonicalization (webgraph.resolve_redirects):
    a→b→c chains resolve to the terminal in 2 hops, direct b→c
    edges in 1, and self-loop l→l rows are cut at max_hops with
    terminal=false — all keyed equi-joins, no driver loop state."""
    from tika_spark.analysis.webgraph import resolve_redirects
    docs = _docs(spark, sf_dir)
    e1 = docs.select(
        F.concat(F.lit("a"), F.col("doc_id")).alias("url"),
        F.concat(F.lit("b"), F.col("doc_id") % 50)
        .alias("location"))
    e2 = docs.filter(F.col("doc_id") < 50).select(
        F.concat(F.lit("b"), F.col("doc_id")).alias("url"),
        F.concat(F.lit("c"), F.col("doc_id") % 10)
        .alias("location"))
    e3 = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.concat(F.lit("l"), F.col("doc_id")).alias("url"),
        F.concat(F.lit("l"), F.col("doc_id")).alias("location"))
    return resolve_redirects(e1.unionByName(e2).unionByName(e3),
                             max_hops=5)


@query("warc_http_census", oracle=(
    "SELECT 'http://h' || (doc_id % 7) || '.example/p' || "
    "doc_id AS url, "
    "CAST(([200, 404, 503, 301])[(doc_id % 4) + 1] AS INT) "
    "AS status, "
    "'text/html; charset=utf-8' AS content_type, "
    "'srv' || (doc_id % 5) AS server, "
    "CASE WHEN doc_id % 4 = 3 THEN "
    "'https://moved.example/' || doc_id ELSE '' END "
    "AS location, "
    "octet_length(encode(text))::BIGINT AS payload_len "
    "FROM documents"))
def _q_warc_http_census(spark, sf_dir):
    """Crawl HTTP analytics (sources/warc.py http_headers_census):
    response-envelope status / content-type / server / redirect
    Location mined from .warc.gz shards without moving payloads —
    every field doc_id arithmetic (3xx rows on id%4==3 carry a
    Location), replayed by the oracle."""
    from collections.abc import Iterator

    from tika_spark.sources.warc import (build_record, gzip_member,
                                         http_headers_census)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parts = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                status = (200, 404, 503, 301)[i % 4]
                extra = [("Server", f"srv{i % 5}")]
                if status == 301:
                    extra.append(("Location",
                                  f"https://moved.example/{i}"))
                parts.append(gzip_member(build_record(
                    f"http://h{i % 7}.example/p{i}",
                    "2026-01-17T08:30:00Z",
                    str(t).encode("utf-8"),
                    http_status=status,
                    http_headers=tuple(extra))))
            yield pd.DataFrame({"blob": [b"".join(parts)]})

    shards = (_docs(spark, sf_dir).select("doc_id", "text")
              .mapInPandas(build, "blob binary"))
    return http_headers_census(shards)


@query("export_wat_roundtrip", oracle=(
    # fixture links: a + img always, extra <a> on odd ids
    "SELECT 'doc://' || doc_id AS url, 'T' AS title, "
    "(2 + doc_id % 2)::BIGINT AS n_links, "
    "'a>http://ex.com/a>a|img>http://ex.com/i.png>im' || "
    "CASE WHEN doc_id % 2 = 1 THEN '|a>http://ex.com/' || "
    "doc_id || '/x>extra' ELSE '' END AS links_sig "
    "FROM documents"))
def _q_export_wat_roundtrip(spark, sf_dir):
    """CC-shaped metadata egress (sources/warc.py to_wat): the WAT
    sibling of the WET sink — WARC metadata records whose sorted-key
    JSON envelope carries Head.Title plus the outlink list, one gzip
    member per record, stream-parsed back by wat_entries. Completes
    the Common-Crawl WARC/WET/WAT surface."""
    from tika_spark.sources.warc import to_wat, wat_entries

    docs = _docs(spark, sf_dir)
    extra = F.when(F.pmod("doc_id", F.lit(2)) == 1, F.concat(
        F.lit(' <a href="http://ex.com/'),
        F.col("doc_id").cast("string"),
        F.lit('/x">extra</a>'))).otherwise(F.lit(""))
    html = F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>T</title>'
              '</head><body><p>t <a href="http://ex.com/a">a</a>'
              ' <img src="http://ex.com/i.png" alt="im"/>'), extra,
        F.lit("</p></body></html>")), "UTF-8")
    pages = docs.select(
        _doc_url().alias("url"),
        html.alias("html"))
    blobs = to_wat(extract(pages, mode="text"))

    def parse(batches):
        for pdf in batches:
            rows = []
            for b in pdf["blob"]:
                for p in wat_entries(bytes(b)):
                    if p["status"] != "ok":
                        continue
                    sig = "|".join(
                        f"{lk['path']}>{lk['url']}>{lk['text']}"
                        for lk in p["links"])
                    rows.append((p["url"], p["title"],
                                 len(p["links"]), sig))
            yield pd.DataFrame(rows, columns=[
                "url", "title", "n_links", "links_sig"])
    return blobs.mapInPandas(
        parse, "url string, title string, n_links long, "
               "links_sig string")


@query("docs_host_boilerplate", oracle=(
    "WITH t AS (SELECT doc_id, source, "
    "'NAV ' || source || chr(10) || text || chr(10) || "
    "'CONTACT ' || source AS tx FROM documents), "
    "p AS (SELECT doc_id, source, unnest(generate_series("
    "1, len(l))) AS pos, unnest(l) AS para FROM (SELECT "
    "doc_id, source, list_filter(string_split(tx, chr(10)), "
    "x -> x <> '') AS l FROM t)), "
    "c AS (SELECT source, para, count(DISTINCT doc_id) AS nd "
    "FROM p GROUP BY 1, 2) "
    "SELECT p.doc_id, count(*)::BIGINT AS n_lines, "
    "sum(CASE WHEN c.nd >= 3 THEN 1 ELSE 0 END)::BIGINT "
    "AS n_boiler, "
    "coalesce(string_agg(CASE WHEN c.nd < 3 THEN p.para "
    "END, chr(10) ORDER BY p.pos), '') AS text_clean "
    "FROM p JOIN c USING (source, para) GROUP BY p.doc_id"))
def _q_docs_host_boilerplate(spark, sf_dir):
    """Host-conditioned boilerplate strip (curation.py
    host_boilerplate_removal): per-source NAV/CONTACT furniture lines
    injected on every page of a source must vanish (>= 3 pages of
    that host carry them) while each page's own lines survive; the
    oracle replays the (host, line) doc-count logic verbatim."""
    from tika_spark.analysis.curation import host_boilerplate_removal
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.concat(F.lit("NAV "), F.col("source"), F.lit("\n"),
                 F.col("text"), F.lit("\nCONTACT "),
                 F.col("source")).alias("text"))
    return host_boilerplate_removal(docs).select(
        "doc_id", "n_lines", "n_boiler", "text_clean")


_SNAPSHOT_DELTA_SQL = (
    "WITH fp AS (SELECT doc_id, md5(regexp_replace(trim(text), "
    "'\\s+', ' ', 'g')) AS fp_md5 FROM documents), "
    "fresh AS (SELECT * FROM fp WHERE fp_md5 NOT IN "
    "(SELECT fp_md5 FROM fp WHERE doc_id % 2 = 0)) "
    "SELECT doc_id, fp_md5 FROM (SELECT doc_id, fp_md5, "
    "row_number() OVER (PARTITION BY fp_md5 ORDER BY doc_id) "
    "AS rn FROM fresh) WHERE rn = 1")


@query("docs_snapshot_delta", oracle=_SNAPSHOT_DELTA_SQL)
def _q_docs_snapshot_delta(spark, sf_dir):
    """Incremental crawl-snapshot dedup: even-id docs play the prior
    corpus (fingerprint index only — 8/16-byte keys, no old text is
    read), the full table plays snapshot N+1. Survivors are odd-id
    docs whose text duplicates no even doc, lowest id per duplicate
    group within the snapshot."""
    from tika_spark.analysis.curation import snapshot_delta_dedup
    from tika_spark.analysis.textstats import fingerprint
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seen = fingerprint(docs.filter(F.col("doc_id") % 2 == 0)) \
        .select("fp_64", "fp_md5")
    return (snapshot_delta_dedup(docs, seen)
            .select("doc_id", "fp_md5"))


@query("table_incremental_dedup", oracle=_SNAPSHOT_DELTA_SQL)
def _q_table_incremental_dedup(spark, sf_dir):
    """The 'new monthly crawl' composition over the snapshot table:
    the prior corpus is snapshot 1 (even docs), the new crawl append
    is snapshot 2 (the full table — evens arrive again as dupes);
    the table's incremental delta feed deduplicates against the
    prior snapshot's fingerprint index (curation.snapshot_delta_dedup
    — 8/16-byte keys, no old text re-read), so only genuinely-new
    content survives. Same closed form as docs_snapshot_delta, now
    driven through pipeline/table.py's delta read. Materialized
    before the temp root is removed (fixture-scale)."""
    import shutil
    import tempfile

    from tika_spark.analysis.curation import snapshot_delta_dedup
    from tika_spark.analysis.textstats import fingerprint
    from tika_spark.pipeline.table import SnapshotTable
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="snapdelta-")
    shutil.rmtree(root)
    try:
        t = SnapshotTable.create(spark, root)
        s1 = t.append(docs.filter(F.col("doc_id") % 2 == 0))
        s2 = t.append(docs)                  # the new crawl, dupes in
        seen = (fingerprint(t.read(s1))
                .select("fp_64", "fp_md5"))
        delta = t.incremental(s1, s2)
        pdf = (snapshot_delta_dedup(delta, seen)
               .select("doc_id", "fp_md5").toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf.astype({"doc_id": "int64"}),
                                 "doc_id bigint, fp_md5 string")


@query("docs_normalize", oracle=(
    "SELECT doc_id, regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(nfc_normalize("
    "'  Heading e' || chr(769) || chr(13) || chr(10) || "
    "chr(13) || chr(10) || chr(13) || chr(10) || chr(9) || "
    "'body:' || chr(7) || ' ' || text || ' ' || chr(13) || "
    "chr(10) || ' tail  '), "
    r"'\r\n?', chr(10), 'g'), "
    r"'[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'), "
    r"'[ \t]+', ' ', 'g'), "
    r"' ?\n ?', chr(10), 'g'), "
    r"'\n{3,}', chr(10) || chr(10), 'g'), "
    r"'^\s+|\s+$', '', 'g') AS text_norm FROM documents"))
def _q_docs_normalize(spark, sf_dir):
    """Unicode/whitespace normalization over deterministically dirtied
    text (NFD combining accent, CRLF runs, BEL control, tab/space
    runs): NFC via an Arrow-batch UDF behind an ASCII fast-path, then
    a codegen'd regexp chain. Oracle replays the identical chain on
    DuckDB's nfc_normalize."""
    from tika_spark.analysis.curation import normalize_text
    raw = F.concat(F.lit("  Heading e\u0301\r\n\r\n\r\n\tbody:\x07 "),
                   F.col("text"), F.lit(" \r\n tail  "))
    docs = _docs(spark, sf_dir).select("doc_id", raw.alias("raw"))
    return normalize_text(docs, "raw").select("doc_id", "text_norm")


@query("length_histogram", oracle=(
    "SELECT CAST(least(floor(n_chars / 100.0), 9) AS BIGINT) AS "
    "bucket, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY 1"))
def _q_length_histogram(spark, sf_dir):
    b = F.least(F.floor(F.col("n_chars") / 100), F.lit(9)).cast("long")
    return (_docs(spark, sf_dir).select(b.alias("bucket"))
            .groupBy("bucket").agg(F.count("*").cast("long")
                                   .alias("n_docs")))


@query("latest_event_per_user", oracle=(
    "SELECT user_id, event_id FROM (SELECT user_id, event_id, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, "
    "event_id DESC) AS rn FROM events) WHERE rn = 1"))
def _q_latest_event_per_user(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"),
                                              F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("user_id", "event_id"))


@query("ngram_profile_topk", oracle=(
    "WITH g AS (SELECT unnest(list_transform("
    "generate_series(1, greatest(length(norm)-2, 0)), "
    "i -> substring(norm, i, 3))) AS ngram FROM ("
    "SELECT regexp_replace(lower(text), '[^a-z]', '_', 'g') "
    "AS norm FROM documents WHERE lang = 'en')) "
    "SELECT ngram, COUNT(*)::BIGINT AS n FROM g GROUP BY ngram "
    "ORDER BY n DESC, ngram ASC LIMIT 30"))
def _q_ngram_profile_topk(spark, sf_dir):
    """G3 profile-builder aggregation: char 3-grams of the normalized
    text (lowercase, non-letters → '_', ProfilingWriter.java:66-94),
    explode → groupBy → count → top 30. Restricted to lang='en' so the
    ascii normalization is oracle-exact."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    norm = F.regexp_replace(F.lower("text"), "[^a-z]", "_")
    grams = F.expr(
        "transform(sequence(1, greatest(length(norm)-2, 0)), "
        "i -> substring(norm, i, 3))")
    exploded = docs.select(norm.alias("norm")).select(
        F.explode(grams).alias("ngram"))
    return (exploded.groupBy("ngram")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("ngram")).limit(30))


@query("language_profile_build", oracle=(
    "WITH words AS (SELECT unnest(regexp_split_to_array("
    "lower(text), '[^a-z]+')) AS w FROM documents "
    "WHERE lang = 'en'), padded AS ("
    "SELECT '_' || w || '_' AS p FROM words WHERE w <> ''), "
    "grams AS (SELECT unnest(list_transform("
    "generate_series(1, length(p)-2), i -> substring(p, i, 3))) "
    "AS ngram FROM padded), counted AS ("
    "SELECT ngram, COUNT(*)::BIGINT AS n FROM grams "
    "GROUP BY ngram) SELECT ngram, n, rank FROM ("
    "SELECT ngram, n, row_number() OVER (ORDER BY n DESC, "
    "ngram ASC)::BIGINT AS rank FROM counted) WHERE rank <= 30"))
def _q_language_profile_build(spark, sf_dir):
    """G3 LanguageProfilerBuilder as a distributed agg: per-word
    ``_word_`` 3-gram windows (ProfilingWriter reset semantics) →
    groupBy → count → rank → top-30. English-only so the letter class
    is oracle-exact in ascii."""
    from tika_spark.language.builder import build_profiles
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    return (build_profiles(docs, lang_col=None, top_k=30)
            .select("ngram", "n", F.col("rank").cast("long").alias("rank")))


@query("events_sessionize", oracle=(
    "WITH marked AS (SELECT user_id, CASE WHEN lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER ("
    "PARTITION BY user_id "
    "ORDER BY ts, event_id))) > 1800 THEN 1 ELSE 0 END AS "
    "new_sess FROM events) "
    "SELECT user_id, SUM(new_sess)::BIGINT AS n_sessions, "
    "COUNT(*)::BIGINT AS n_events FROM marked GROUP BY user_id"))
def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): per-user session
    count — the batch form of the session-window op (§2.I), all native
    lag/sum window functions."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts").over(w))) > 1800
    new_sess = F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0)
    sess = (ev.withColumn("new_sess", new_sess)
            .groupBy("user_id")
            .agg(F.sum("new_sess").cast("long").alias("n_sessions"),
                 F.count("*").cast("long").alias("n_events")))
    return sess


@query("events_asof_profile", oracle=(
    "WITH snaps AS (SELECT user_id, ts, value FROM events "
    "WHERE event_id % 5 = 0), "
    "probes AS (SELECT event_id, user_id, ts FROM events "
    "WHERE event_id % 5 <> 0) "
    "SELECT p.event_id, "
    "CAST(round(s.value * 100) AS BIGINT) AS profile_c "
    "FROM probes p ASOF LEFT JOIN snaps s "
    "ON p.user_id = s.user_id AND p.ts >= s.ts"))
def _q_events_asof_profile(spark, sf_dir):
    """As-of join (§2.I): every 5th event acts as a profile snapshot;
    each other event picks the latest snapshot at-or-before its ts per
    user. Spark side is the union+window form (one shuffle, no
    theta-join explosion); oracle is DuckDB's native ASOF LEFT JOIN."""
    from tika_spark.analysis.relational import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = (ev.filter(F.pmod("event_id", F.lit(5)) == 0)
             .select("user_id", "ts", F.col("value").alias("profile")))
    probes = (ev.filter(F.pmod("event_id", F.lit(5)) != 0)
              .select("event_id", "user_id", "ts"))
    out = asof_join(probes, snaps, "user_id", "ts")
    return out.select(
        "event_id",
        F.round(F.col("profile") * 100).cast("long").alias("profile_c"))


@query("events_range_join", oracle=(
    "WITH intervals AS (SELECT event_id AS interval_id, "
    "user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e "
    "FROM events WHERE event_id % 20 = 0) "
    "SELECT i.interval_id, ev.event_id FROM events ev "
    "JOIN intervals i ON ev.user_id = i.user_id "
    "AND ev.ts >= i.s AND ev.ts <= i.e"))
def _q_events_range_join(spark, sf_dir):
    """Range join (§2.I): every 20th event opens a 30-minute per-user
    interval; all of that user's events inside it match. Spark side is
    the bucketed equi-join (candidates via (user, hour-bucket) keys,
    then exact filter) — never a BroadcastNestedLoopJoin; oracle is
    the plain BETWEEN theta-join DuckDB runs natively."""
    from tika_spark.analysis.relational import range_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    intervals = (ev.filter(F.pmod("event_id", F.lit(20)) == 0)
                 .select(F.col("event_id").alias("interval_id"),
                         "user_id", F.col("ts").alias("start"),
                         (F.col("ts") + F.expr("INTERVAL 30 MINUTE"))
                         .alias("end")))
    out = range_join(ev.select("event_id", "user_id", "ts"),
                     intervals, key="user_id")
    return out.select("interval_id", "event_id")


@query("events_time_rollup", oracle=(
    "SELECT coalesce(day, 'ALL') AS day, "
    "coalesce(hour, 'ALL') AS hour, "
    "coalesce(event_type, 'ALL') AS event_type, "
    "COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS sum_cents "
    "FROM (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') "
    "AS day, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') "
    "AS hour, event_type, "
    "CAST(round(value * 100) AS BIGINT) AS cents FROM events) "
    "GROUP BY ROLLUP (day, hour, event_type)"))
def _q_events_time_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate shape (§2.I): hierarchical
    ROLLUP over (day, hour, event_type) — the multi-resolution
    materialization a time-series store keeps per chunk. Values are
    summed as integer cents (per-row cast) so the aggregate is
    order-independent and hash-stable."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    hour = F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH")
    cents = F.round(F.col("value") * 100).cast("long")
    out = (ev.select(day.alias("day"), hour.alias("hour"),
                     "event_type", cents.alias("cents"))
           .rollup("day", "hour", "event_type")
           .agg(F.count("*").cast("long").alias("n"),
                F.sum("cents").cast("long").alias("sum_cents")))
    return out.select(F.coalesce("day", F.lit("ALL")).alias("day"),
                      F.coalesce("hour", F.lit("ALL")).alias("hour"),
                      F.coalesce("event_type", F.lit("ALL"))
                      .alias("event_type"), "n", "sum_cents")


@query("docs_rollup", oracle=(
    "SELECT coalesce(lang, 'ALL') AS lang, "
    "coalesce(source, 'ALL') AS source, "
    "COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS "
    "sum_chars FROM documents GROUP BY ROLLUP (lang, source)"))
def _q_docs_rollup(spark, sf_dir):
    """Rollup aggregate over (lang, source) — §2.I grouping-sets
    coverage; NULL group keys coalesced to 'ALL' for hash stability."""
    out = (_docs(spark, sf_dir)
           .rollup("lang", "source")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars")))
    return out.select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                      F.coalesce("source", F.lit("ALL")).alias("source"),
                      "n_docs", "sum_chars")


@query("extract_main_justext", oracle=(
    "WITH w AS (SELECT doc_id, text, "
    "list_filter(string_split_regex(lower(text), '\\s+'), "
    "x -> x <> '') AS words FROM documents), "
    "s AS (SELECT doc_id, text, length(text) AS n_chars, "
    "len(words) AS n_words, len(list_filter(words, x -> x IN "
    + "(" + ", ".join(
        f"'{w}'" for w in sorted(__import__(
            "tika_spark.html.justext",
            fromlist=["STOPLIST_EN"]).STOPLIST_EN))
    + "))) AS sw FROM w) "
    "SELECT 'doc://' || doc_id AS url, "
    "CASE WHEN n_chars > 200 AND n_words > 0 "
    "AND sw * 1.0 / n_words >= 0.32 "
    "THEN text || chr(10) ELSE '' END AS text FROM s"))
def _q_extract_main_justext(spark, sf_dir):
    """jusText block classification (html/justext.py — Pomikálek
    2011), the second main-content scorer beside Boilerpipe: nav and
    copyright blocks are bad, the document paragraph classifies by
    (char length, stopword density) with bad neighbours on both
    sides, so the kept text is empty unless length > 200 and
    stopword density >= 0.32 — a decision function the DuckDB oracle
    replays in SQL over the same tokenization."""
    html = F.encode(F.concat(
        F.lit('<html><body><div><a href="/h">Home</a> '
              '<a href="/n">News</a> <a href="/c">Contact</a></div><p>'),
        F.col("text"),
        F.lit("</p><p>\xa9 2026 Example Corp all rights reserved</p>"
              "</body></html>")), "UTF-8")
    pages = _pages(spark, sf_dir, html)
    return (extract(pages, mode="text-main-justext")
            .select("url", "text"))


@query("extract_main_readability", oracle=(
    "WITH b AS (SELECT doc_id, "
    "'Article lead paragraph, with context, ' || text AS p, "
    "trim(substr(text, 1, 160)) AS sub FROM documents), "
    "s AS (SELECT doc_id, p, sub, "
    "31 + (length(p) - length(replace(p, ',', ''))) "
    "+ least(length(p) // 100, 3) AS top_score, "
    "6 + (length(sub) - length(replace(sub, ',', ''))) "
    "+ least(length(sub) // 100, 3) AS extras_score FROM b) "
    "SELECT 'doc://' || doc_id AS url, p || chr(10) || "
    "CASE WHEN length(sub) >= 25 AND extras_score >= "
    "greatest(10.0, 0.2 * top_score) "
    "THEN sub || chr(10) ELSE '' END AS text FROM s"))
def _q_extract_main_readability(spark, sf_dir):
    """Arc90 Readability container scoring (html/readability.py),
    the third main-content scorer beside Boilerpipe and jusText: a
    nav of links, a positive-class content div holding the lead
    paragraph, and a neutral extras div holding a 160-char teaser.
    The content div always wins (class weight +25); the extras div is
    re-attached as a qualifying sibling iff its own candidate score
    (6 + commas + length bonus) clears max(10, 0.2 * top score) — a
    decision function the DuckDB oracle replays arithmetically."""
    lead = F.concat(F.lit("Article lead paragraph, with context, "),
                    F.col("text"))
    teaser = F.substring(F.col("text"), 1, 160)
    html = F.encode(F.concat(
        F.lit('<html><body><div class="nav"><a href="/h">Home</a> '
              '<a href="/n">News</a></div><div class="content"><p>'),
        lead,
        F.lit('</p></div><div id="extras"><p>'),
        teaser,
        F.lit("</p></div></body></html>")), "UTF-8")
    pages = _pages(spark, sf_dir, html)
    return (extract(pages, mode="text-main-readability")
            .select("url", "text"))


@query("media_video_frames", oracle=(
    # fixture: n = 3 + id%4 solid-gray frames, sampled every
    # 2; per-frame v = (id*11 + 17*idx) % 256. Even ids are
    # MJPEG AVI (JPEG DC closed form); odd ids are animated
    # GIF (lossless: mean = v exactly).
    "WITH f AS (SELECT doc_id, frame_idx, "
    "(doc_id * 11 + 17 * frame_idx) % 256 AS v, "
    "3 + doc_id % 4 AS n FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 5)) AS frame_idx) s "
    "WHERE frame_idx % 2 = 0 AND frame_idx < 3 + doc_id % 4) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS frame_idx, "
    "CAST(n AS INT) AS n_frames, "
    "(16 + doc_id % 8)::BIGINT AS width, "
    "CAST(8 AS BIGINT) AS height, "
    "CASE WHEN doc_id % 2 = 1 THEN v * 1000000 ELSE "
    "LEAST(255, CASE WHEN v >= 128 "
    "THEN 128 + 2 * ((8 * (v - 128) + 8) // 16) "
    "ELSE 128 - 2 * ((8 * (128 - v) + 8) // 16) END) "
    "* 1000000 END AS mean_gray FROM f"))
def _q_media_video_frames(spark, sf_dir):
    """Video-column frame sampling: MJPEG AVI demux (analysis/video.py)
    + per-frame baseline-JPEG decode, one output row per sampled frame
    (indices 0,2,4,…). Solid-gray fixture frames make every decoded
    mean the DC-quantization closed form the DuckDB oracle replays in
    SQL. Reference's video coverage is metadata-only (FLVParser.java);
    frame decode is the training-pipeline extension."""
    from tika_spark.analysis.video import video_fixture
    media = _media(spark, sf_dir, _by_id(video_fixture))
    return _frame_stats(media, 2, "mean_gray")


@query("media_webm_vp8_frames", oracle=(
    # n = 2 + id%3 solid 16x16 VP8 keyframes in a WebM;
    # per-frame color through the integer BT.601 round trip
    # (same algebra as media_webp_lossy_stats, per frame)
    "WITH f AS (SELECT doc_id AS id, frame_idx, "
    "2 + doc_id % 3 AS n, "
    "(doc_id * 7 + 29 * frame_idx) % 256 AS r, "
    "(doc_id * 3 + 31 * frame_idx) % 256 AS g, "
    "(doc_id * 5 + 37 * frame_idx + 2) % 256 AS b "
    "FROM documents CROSS JOIN (SELECT "
    "unnest(generate_series(0, 4)) AS frame_idx) s "
    "WHERE frame_idx < 2 + doc_id % 3), "
    "yuv AS (SELECT id, frame_idx, n, "
    "CAST(FLOOR((66*r + 129*g + 25*b + 128) / 256.0) AS "
    "BIGINT) + 16 AS y, "
    "CAST(FLOOR((-38*r - 74*g + 112*b + 128) / 256.0) AS "
    "BIGINT) + 128 AS u, "
    "CAST(FLOOR((112*r - 94*g - 18*b + 128) / 256.0) AS "
    "BIGINT) + 128 AS v FROM f) "
    "SELECT id, CAST(frame_idx AS INT) AS frame_idx, "
    "CAST(n AS INT) AS n_frames, 16::BIGINT AS width, "
    "16::BIGINT AS height, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "+ 409*(v-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_r, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "- 100*(u-128) - 208*(v-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_g, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y-16) "
    "+ 516*(u-128) + 128) / 256.0) AS BIGINT))) "
    "* 1000000 AS mean_b "
    "FROM yuv"))
def _q_media_webm_vp8_frames(spark, sf_dir):
    """WebM (Matroska) video frame sampling: EBML demux of the V_VP8
    track (analysis/ebml.py webm_vp8_frames) + the from-scratch VP8
    keyframe decoder (analysis/vp8.py), one row per frame. Fixture
    frames are solid colors through the DC-exact encode, so each
    frame's mean is the integer BT.601 YUV round-trip closed form —
    the same oracle algebra as media_webp_lossy_stats, replayed per
    frame index."""
    import numpy as np

    from tika_spark.analysis.ebml import mkv_wrap_video
    from tika_spark.analysis.vp8 import (encode_vp8_yuv,
                                         rgb_to_yuv420)

    def build(i):
        n = 2 + i % 3
        frames = []
        for k in range(n):
            img = np.zeros((16, 16, 3), dtype=np.uint8)
            img[:] = ((i * 7 + 29 * k) % 256,
                      (i * 3 + 31 * k) % 256,
                      (i * 5 + 37 * k + 2) % 256)
            payload, _ = encode_vp8_yuv(*rgb_to_yuv420(img),
                                        exact=True)
            frames.append(payload)
        return mkv_wrap_video(frames, 16, 16)

    media = _media(spark, sf_dir, _by_id(build))
    return _frame_stats(media, 1, "mean_r", "mean_g", "mean_b")


@query("media_webm_vp8p_frames", oracle=(
    # two-tone exact keyframe (c0|c1) + 1-2 interframes that
    # pan one MB left -> every interframe solid c1; means by
    # the integer BT.601 round trip per color
    "WITH f AS (SELECT doc_id AS id, frame_idx, "
    "2 + doc_id % 2 AS n FROM documents CROSS JOIN (SELECT "
    "unnest(generate_series(0, 2)) AS frame_idx) s "
    "WHERE frame_idx < 2 + doc_id % 2), "
    "c AS (SELECT id, frame_idx, n, "
    "(id * 7) % 256 AS r0, (id * 3) % 256 AS g0, "
    "(id * 5 + 2) % 256 AS b0, "
    "(id * 11 + 5) % 256 AS r1, (id * 13 + 7) % 256 AS g1, "
    "(id * 17 + 11) % 256 AS b1 FROM f), "
    "yuv AS (SELECT *, "
    "CAST(FLOOR((66*r0 + 129*g0 + 25*b0 + 128) / 256.0) AS "
    "BIGINT) + 16 AS y0, "
    "CAST(FLOOR((-38*r0 - 74*g0 + 112*b0 + 128) / 256.0) AS "
    "BIGINT) + 128 AS u0, "
    "CAST(FLOOR((112*r0 - 94*g0 - 18*b0 + 128) / 256.0) AS "
    "BIGINT) + 128 AS v0, "
    "CAST(FLOOR((66*r1 + 129*g1 + 25*b1 + 128) / 256.0) AS "
    "BIGINT) + 16 AS y1, "
    "CAST(FLOOR((-38*r1 - 74*g1 + 112*b1 + 128) / 256.0) AS "
    "BIGINT) + 128 AS u1, "
    "CAST(FLOOR((112*r1 - 94*g1 - 18*b1 + 128) / 256.0) AS "
    "BIGINT) + 128 AS v1 FROM c), "
    "rt AS (SELECT *, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y0-16) "
    "+ 409*(v0-128) + 128) / 256.0) AS BIGINT))) AS rr0, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y0-16) "
    "- 100*(u0-128) - 208*(v0-128) + 128) / 256.0) AS "
    "BIGINT))) AS gg0, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y0-16) "
    "+ 516*(u0-128) + 128) / 256.0) AS BIGINT))) AS bb0, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y1-16) "
    "+ 409*(v1-128) + 128) / 256.0) AS BIGINT))) AS rr1, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y1-16) "
    "- 100*(u1-128) - 208*(v1-128) + 128) / 256.0) AS "
    "BIGINT))) AS gg1, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(y1-16) "
    "+ 516*(u1-128) + 128) / 256.0) AS BIGINT))) AS bb1 "
    "FROM yuv) "
    "SELECT id, CAST(frame_idx AS INT) AS frame_idx, "
    "CAST(n AS INT) AS n_frames, 32::BIGINT AS width, "
    "16::BIGINT AS height, "
    "CASE WHEN frame_idx = 0 THEN (rr0 + rr1) * 500000 "
    "ELSE rr1 * 1000000 END AS mean_r, "
    "CASE WHEN frame_idx = 0 THEN (gg0 + gg1) * 500000 "
    "ELSE gg1 * 1000000 END AS mean_g, "
    "CASE WHEN frame_idx = 0 THEN (bb0 + bb1) * 500000 "
    "ELSE bb1 * 1000000 END AS mean_b FROM rt"))
def _q_media_webm_vp8p_frames(spark, sf_dir):
    """WebM VP8 INTER-frame sampling (analysis/vp8inter.py
    VP8Decoder over the vp8.py macroblock loop): each stream opens on a
    two-tone exact keyframe (left MB c0, right MB c1) and pans left
    by one MB per interframe (NEWMV then NEARESTMV through the
    near-MV survey, motion compensation off the edge-extended last
    frame), so frame 0's mean is the two-color average and every
    interframe is solid c1 — closed forms in integer BT.601."""
    import numpy as np

    from tika_spark.analysis.ebml import mkv_wrap_video
    from tika_spark.analysis.vp8 import (encode_vp8_yuv,
                                         rgb_to_yuv420)
    from tika_spark.analysis.vp8inter import (VP8Decoder,
                                              encode_vp8_inter_yuv)

    H, W = 16, 32

    def build(i):
        c0 = ((i * 7) % 256, (i * 3) % 256, (i * 5 + 2) % 256)
        c1 = ((i * 11 + 5) % 256, (i * 13 + 7) % 256,
              (i * 17 + 11) % 256)
        img = np.zeros((H, W, 3), dtype=np.uint8)
        img[:, :16] = c0
        img[:, 16:] = c1
        kf, _ = encode_vp8_yuv(*rgb_to_yuv420(img), exact=True)
        dec = VP8Decoder()
        dec.decode_yuv(kf)
        sol = np.zeros((H, W, 3), dtype=np.uint8)
        sol[:] = c1
        y1, u1, v1 = rgb_to_yuv420(sol)
        frames = [kf]
        for _k in range(1 + i % 2):
            p, _ = encode_vp8_inter_yuv(
                dec.last, y1.astype(np.int32),
                u1.astype(np.int32), v1.astype(np.int32),
                mv=(0, -128))            # pan one MB left
            dec.decode_yuv(p)
            frames.append(p)
        return mkv_wrap_video(frames, W, H)

    media = _media(spark, sf_dir, _by_id(build))
    return _frame_stats(media, 1, "mean_r", "mean_g", "mean_b")


_MP4_GRAY_FRAMES_SQL = (
    # n = 2 + id%3 solid 16x16 frames in an avc1 .mp4,
    # sampled every 2; Y = (id*13 + 19*idx) % 256.  Even ids
    # are I_PCM (lossless by construction); odd ids are
    # Intra_16x16 DC at qp=28, exactly lossless via the
    # LS*MF = 2^17 identity — so both decode to the BT.601
    # studio-swing gray of Y with neutral chroma.
    "WITH f AS (SELECT doc_id, frame_idx, "
    "(doc_id * 13 + 19 * frame_idx) % 256 AS v, "
    "2 + doc_id % 3 AS n FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 3)) AS frame_idx) s "
    "WHERE frame_idx % 2 = 0 AND frame_idx < 2 + doc_id % 3) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS "
    "frame_idx, CAST(n AS INT) AS n_frames, "
    "CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS "
    "height, GREATEST(0, LEAST(255, CAST(FLOOR((298*(v-16) "
    "+ 128) / 256.0) AS BIGINT))) * 1000000 AS mean_gray "
    "FROM f")


@query("media_mp4_cmaf_frames", oracle=_MP4_GRAY_FRAMES_SQL)
def _q_media_mp4_cmaf_frames(spark, sf_dir):
    """FRAGMENTED MP4 (CMAF — the DASH/HLS segment wire shape):
    moof/traf/trun sample resolution (isobmff.fmp4_samples:
    default-base-is-moof, per-run data_offset + sizes) feeding the
    same from-scratch H.264 decode as the classic layout; fixture
    frames and the oracle are media_mp4_frames' exactly, so the
    fragment walk is pinned against the progressive baseline."""
    from tika_spark.analysis.isobmff import \
        video_h264_cmaf_fixture
    media = _media(spark, sf_dir, _by_id(video_h264_cmaf_fixture))
    return _frame_stats(media, 2, "mean_gray")


@query("media_mp4_frames", oracle=_MP4_GRAY_FRAMES_SQL)
def _q_media_mp4_frames(spark, sf_dir):
    """MP4 (ISO-BMFF) H.264/AVC video frame sampling: avc1 track
    demux (analysis/isobmff.py mp4_avc_track, length-prefixed NALs
    per avcC) + the from-scratch H.264 decoder
    (analysis/h264.py — CAVLC, Intra_4x4/16x16/chroma prediction,
    integer transforms), one row per sampled frame.  Fixture frames
    are solid 16x16 grays; even ids are I_PCM streams (bit-exact)
    and odd ids Intra_16x16-DC at qp=28, where the LS*MF = 2^17
    identity makes the DC path exactly lossless — so every decoded
    mean is the BT.601 closed form the DuckDB oracle replays.
    Reference's MP4 coverage is metadata-only (mp4/MP4Parser.java);
    sample decode is the training-pipeline extension."""
    from tika_spark.analysis.isobmff import video_h264_fixture
    media = _media(spark, sf_dir, _by_id(video_h264_fixture))
    return _frame_stats(media, 2, "mean_gray")


@query("media_mp4_pframes", oracle=(
    # IPPP: frame 0 two-tone (c0|c1 grays), P frames pan one
    # MB left -> solid c1; n = 2 + id%2 frames
    "WITH f AS (SELECT doc_id, frame_idx, "
    "2 + doc_id % 2 AS n, "
    "(doc_id * 19 + 3) % 256 AS c0, "
    "(doc_id * 7 + 90) % 256 AS c1 FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 2)) AS frame_idx) s "
    "WHERE frame_idx < 2 + doc_id % 2), "
    "g AS (SELECT doc_id, frame_idx, n, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(c0-16) + 128) "
    "/ 256.0) AS BIGINT))) AS g0, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(c1-16) + 128) "
    "/ 256.0) AS BIGINT))) AS g1 FROM f) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS "
    "frame_idx, CAST(n AS INT) AS n_frames, "
    "CASE WHEN frame_idx = 0 THEN (g0 + g1) * 500000 "
    "ELSE g1 * 1000000 END AS mean_gray FROM g"))
def _q_media_mp4_pframes(spark, sf_dir):
    """MP4 IPPP decode: an IDR keyframe followed by motion-compensated
    P slices (analysis/h264.py H264Decoder — mb_skip_run, P_L0_16x16,
    median MV prediction, quarter-pel-capable MC).  Fixture: 32x16
    two-tone keyframe (left gray c0, right c1), each P frame pans one
    MB left with zero residual, so frame 0's mean is the two-gray
    average and every P frame is solid c1 — exact closed forms."""
    from tika_spark.analysis.isobmff import video_h264p_fixture
    media = _media(spark, sf_dir, _by_id(video_h264p_fixture))
    return sample_frame_stats(media, every=1).select(
        "id", "frame_idx", "n_frames",
        F.get("mean_micro", 0).alias("mean_gray"))


def _video_dhash_wrap_udf():

    from tika_spark.analysis.videohash import video_dhash_fixture
    return _by_id(video_dhash_fixture)


@query("video_dhash", oracle=(
    # frame content index o = (id//2)*4 + k; cell bit =
    # parity of md5("o:x:y")[0] (fixture pixels step +-1 so
    # the dHash extracts exactly these bits)
    "WITH fr AS (SELECT doc_id, frame_idx, "
    "(doc_id // 2) * 4 + frame_idx AS o, "
    "2 + doc_id % 2 AS n FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 2)) AS frame_idx) s "
    "WHERE frame_idx < 2 + doc_id % 2) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS "
    "frame_idx, CAST(n AS INT) AS n_frames, "
    "SUM(CASE WHEN substr(md5(o || ':' || x || ':' || y), "
    "1, 1) IN ('1','3','5','7','9','b','d','f') THEN "
    "CASE WHEN y*8+x = 63 THEN -9223372036854775808 "
    "ELSE (1::BIGINT << (y*8+x)) END ELSE 0 END)::BIGINT "
    "AS dhash FROM fr CROSS JOIN "
    "(SELECT unnest(generate_series(0, 7)) AS x) sx "
    "CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) "
    "sy GROUP BY doc_id, frame_idx, n"))
def _q_video_dhash(spark, sf_dir):
    """Video frame fingerprints (analysis/videohash.py): demux any
    supported container, dHash every sampled frame — the multimodal
    dedup signal for re-encoded/trimmed video copies.  Fixture GIFs
    carry the image tier's 9x8 gradient with a per-frame offset, so
    the oracle replays every gradient-sign bit in SQL."""
    from tika_spark.analysis.videohash import video_dhash
    wrap = _video_dhash_wrap_udf()
    media = _media(spark, sf_dir, wrap)
    return video_dhash(media, every=1).select(
        "id", "frame_idx", "n_frames", "dhash")


@query("video_neardup_pairs", oracle=(
    # videos sharing >= 2 distinct frame hashes: exactly the
    # (2i, 2i+1) trimmed-copy pairs by construction
    "WITH fr AS (SELECT doc_id, frame_idx, "
    "(doc_id // 2) * 4 + frame_idx AS o FROM documents "
    "CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS "
    "frame_idx) s WHERE frame_idx < 2 + doc_id % 2), "
    "h AS (SELECT doc_id, o, SUM(CASE WHEN "
    "substr(md5(o || ':' || x || ':' || y), 1, 1) IN "
    "('1','3','5','7','9','b','d','f') THEN "
    "CASE WHEN y*8+x = 63 THEN -9223372036854775808 "
    "ELSE (1::BIGINT << (y*8+x)) END ELSE 0 END)::BIGINT "
    "AS h FROM fr CROSS JOIN "
    "(SELECT unnest(generate_series(0, 7)) AS x) sx "
    "CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) "
    "sy GROUP BY doc_id, frame_idx, o), "
    "d AS (SELECT DISTINCT doc_id, h FROM h), "
    "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.h "
    "FROM d a JOIN d b ON a.h = b.h "
    "AND a.doc_id < b.doc_id) "
    "SELECT id_a, id_b, COUNT(DISTINCT h)::BIGINT AS shared "
    "FROM p GROUP BY id_a, id_b "
    "HAVING COUNT(DISTINCT h) >= 2"))
def _q_video_neardup_pairs(spark, sf_dir):
    """Composed video near-dup mining: frame fingerprints →
    hash-bucket equi-join (each 64-bit hash is its own LSH bucket,
    degenerate buckets capped) → pairs sharing >= 2 distinct frame
    hashes.  Fixture offsets collide for ids with equal (or
    adjacent) id%5, so duplicates and shifted near-dups both
    surface; the oracle replays hash + join + threshold."""
    from tika_spark.analysis.videohash import (video_dhash,
                                               video_neardup_pairs)
    wrap = _video_dhash_wrap_udf()
    media = _media(spark, sf_dir, wrap)
    fp = video_dhash(media, every=1)
    return video_neardup_pairs(fp, min_shared=2, max_bucket=10_000)


def _audio_fp_wrap_udf():

    from tika_spark.analysis.audiohash import audio_fp_fixture
    return _by_id(audio_fp_fixture)


@query("audio_fingerprint", oracle=(
    # window o = (id//2)*8 + w; bin = 3 + five md5-parity
    # bits of md5(o || ':a'); landmark packs adjacent bins
    "WITH w AS (SELECT doc_id, wdx, "
    "(doc_id // 2) * 8 + wdx AS o, 4 + doc_id % 2 AS n "
    "FROM documents CROSS JOIN (SELECT "
    "unnest(generate_series(0, 4)) AS wdx) s "
    "WHERE wdx < 4 + doc_id % 2), "
    "b AS (SELECT doc_id, wdx, n, 3 "
    + "".join(
        f"+ {1 << j} * (CASE WHEN substr(md5(o || ':a'), "
        f"{j + 1}, 1) IN ('1','3','5','7','9','b','d','f') "
        "THEN 1 ELSE 0 END) " for j in range(5))
    + "AS bin FROM w) "
    "SELECT cur.doc_id AS id, CAST(cur.wdx AS INT) AS t, "
    "CAST(cur.n AS INT) AS n_windows, "
    "(cur.bin * 1048576 + nxt.bin * 256 + 1)::BIGINT AS "
    "landmark FROM b cur JOIN b nxt "
    "ON nxt.doc_id = cur.doc_id AND nxt.wdx = cur.wdx + 1"))
def _q_audio_fingerprint(spark, sf_dir):
    """Audio constellation landmarks (analysis/audiohash.py, Wang
    2003 recipe): windowed dominant-bin pairs over the decoded PCM —
    the audio near-dup signal.  Fixture WAVs are whole-period sines
    whose per-window bin is five md5-parity bits, so every landmark
    is a closed form the DuckDB oracle replays with no FFT."""
    from tika_spark.analysis.audiohash import audio_fingerprint
    wrap = _audio_fp_wrap_udf()
    media = _media(spark, sf_dir, wrap, "audio/wav")
    return audio_fingerprint(media).select(
        "id", "t", "n_windows", "landmark")


@query("audio_neardup_pairs", oracle=(
    "WITH w AS (SELECT doc_id, wdx, "
    "(doc_id // 2) * 8 + wdx AS o FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 4)) AS wdx) s "
    "WHERE wdx < 4 + doc_id % 2), "
    "b AS (SELECT doc_id, wdx, 3 "
    + "".join(
        f"+ {1 << j} * (CASE WHEN substr(md5(o || ':a'), "
        f"{j + 1}, 1) IN ('1','3','5','7','9','b','d','f') "
        "THEN 1 ELSE 0 END) " for j in range(5))
    + "AS bin FROM w), "
    "lm AS (SELECT cur.doc_id, "
    "(cur.bin * 1048576 + nxt.bin * 256 + 1)::BIGINT AS l "
    "FROM b cur JOIN b nxt ON nxt.doc_id = cur.doc_id "
    "AND nxt.wdx = cur.wdx + 1), "
    "d AS (SELECT DISTINCT doc_id, l FROM lm), "
    "p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, a.l "
    "FROM d a JOIN d b2 ON a.l = b2.l "
    "AND a.doc_id < b2.doc_id) "
    "SELECT id_a, id_b, COUNT(DISTINCT l)::BIGINT AS shared "
    "FROM p GROUP BY id_a, id_b "
    "HAVING COUNT(DISTINCT l) >= 2"))
def _q_audio_neardup_pairs(spark, sf_dir):
    """Composed audio near-dup mining: landmarks → equi-join (each
    landmark its own LSH bucket, degenerate buckets capped) → pairs
    sharing >= 2 distinct landmarks.  Fixture even/odd id pairs
    overlap in four windows (three landmarks)."""
    from tika_spark.analysis.audiohash import (audio_fingerprint,
                                               audio_neardup_pairs)
    wrap = _audio_fp_wrap_udf()
    media = _media(spark, sf_dir, wrap, "audio/wav")
    return audio_neardup_pairs(audio_fingerprint(media),
                               min_shared=2, max_bucket=10_000)


@query("media_mp4_slice_census", oracle=(
    "SELECT id, j::INT AS slice_idx, "
    "CASE WHEN j = 0 THEN 'I' "
    "WHEN (id + j - 1) % 2 = 0 THEN 'P' ELSE 'B' END "
    "AS slice_type, "
    "((id + j) % 16)::INT AS frame_num, "
    "((2 * j) % 256)::INT AS poc_lsb, "
    "(j = 0) AS idr, 'cabac' AS entropy FROM ("
    "SELECT doc_id AS id, "
    "unnest(generate_series(0, 2 + (doc_id % 4)::INT)) AS j "
    "FROM documents)"))
def _q_media_mp4_slice_census(spark, sf_dir):
    """Round-5 CABAC tier: entropy-mode-independent H.264 frame
    census (analysis/video.py mp4_slice_census over
    isobmff.mp4_h264_slice_census / h264.parse_slice_header). The
    fixture is a Main-profile CABAC MP4 (spec-valid Exp-Golomb slice
    headers, CABAC-flagged PPS, opaque slice data) — the web-MP4
    shape the CAVLC pixel decoder must status-row but the census
    tier must fully read: slice types I+PB cycle, frame_num, POC."""
    from tika_spark.analysis.video import mp4_slice_census
    from tika_spark.analysis.isobmff import video_h264_cabac_fixture
    media = _media(spark, sf_dir, _by_id(video_h264_cabac_fixture))
    out = mp4_slice_census(media)
    return out.select("id", "slice_idx", "slice_type", "frame_num",
                      "poc_lsb", "idr", "entropy")


@query("media_mp4_bframes", oracle=(
    # IBP with POC display reordering: n = 3 + id%2 solid
    # frames, Y = 8*((id*5 + 7*k) % 32) at display index k
    "WITH f AS (SELECT doc_id, frame_idx, "
    "8 * ((doc_id * 5 + 7 * frame_idx) % 32) AS v, "
    "3 + doc_id % 2 AS n FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 3)) AS frame_idx) s "
    "WHERE frame_idx < 3 + doc_id % 2) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS "
    "frame_idx, CAST(n AS INT) AS n_frames, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(v-16) + 128) "
    "/ 256.0) AS BIGINT))) * 1000000 AS mean_gray FROM f"))
def _q_media_mp4_bframes(spark, sf_dir):
    """MP4 IBP decode with display reordering: B slices
    (h264inter.py H264BiEncoder, h264.py _mb_b — B_L0/L1/Bi 16x16,
    per-list median MV prediction, bi-predictive averaging,
    non-reference NALs) stored in decode order (I P B [P]) and
    re-ordered by picture order count (H264Decoder.decode).  Fixture grays
    are multiples of 8 so every P/B residual divides the qp=28
    quantizer exactly — each displayed frame is its closed-form
    gray, and a wrong/missing POC sort scrambles frames 1 and 2."""
    from tika_spark.analysis.isobmff import video_h264b_fixture
    media = _media(spark, sf_dir, _by_id(video_h264b_fixture))
    return sample_frame_stats(media, every=1).select(
        "id", "frame_idx", "n_frames",
        F.get("mean_micro", 0).alias("mean_gray"))


@query("dash_manifests", oracle=(
    # nv = 1+id%3 video reps (+1 audio rep on evens);
    # duration = (id%60 min + id%30 s) in ms
    "WITH v AS (SELECT doc_id, v FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 2)) AS v) t "
    "WHERE v < 1 + doc_id % 3) "
    "SELECT 'doc://' || doc_id AS url, "
    "(((doc_id % 60) * 60 + doc_id % 30) * 1000)::BIGINT "
    "AS duration_ms, 0 AS period, 'video' AS content_type, "
    "'v' || v AS rep_id, "
    "(500000 * (v + 1) + doc_id)::BIGINT AS bandwidth, "
    "CAST(320 * (v + 1) AS INT) AS width, "
    "CAST(180 * (v + 1) AS INT) AS height, "
    "'avc1.4d401e' AS codecs FROM v "
    "UNION ALL SELECT 'doc://' || doc_id, "
    "(((doc_id % 60) * 60 + doc_id % 30) * 1000)::BIGINT, "
    "0, 'audio', 'a0', (96000 + doc_id)::BIGINT, 0, 0, '' "
    "FROM documents WHERE doc_id % 2 = 0"))
def _q_dash_manifests(spark, sf_dir):
    """MPEG-DASH MPD parsing (sources/dash.py): namespaced XML,
    ISO-8601 durations, codec inheritance from the AdaptationSet,
    contentType derived from mimeType for the audio set — one row
    per representation, all fields doc_id arithmetic."""
    from collections.abc import Iterator

    from tika_spark.sources.dash import dash_representations

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                nv = 1 + i % 3
                reps = "".join(
                    f'<Representation id="v{v}" '
                    f'bandwidth="{500000 * (v + 1) + i}" '
                    f'width="{320 * (v + 1)}" '
                    f'height="{180 * (v + 1)}"/>'
                    for v in range(nv))
                audio = (
                    '<AdaptationSet mimeType="audio/mp4">'
                    f'<Representation id="a0" '
                    f'bandwidth="{96000 + i}"/></AdaptationSet>'
                    if i % 2 == 0 else "")
                mpd = (
                    '<MPD xmlns="urn:mpeg:dash:schema:mpd:2011" '
                    f'mediaPresentationDuration='
                    f'"PT{i % 60}M{i % 30}S">'
                    '<Period><AdaptationSet contentType="video" '
                    f'codecs="avc1.4d401e">{reps}</AdaptationSet>'
                    f'{audio}</Period></MPD>')
                rows.append((f"doc://{i}", mpd))
            yield pd.DataFrame(rows, columns=["url", "mpd"])

    pages = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        gen, "url string, mpd string")
    return dash_representations(pages)


@query("media_av1_meta", oracle=(
    "SELECT doc_id AS id, "
    "CAST(doc_id % 3 AS INT) AS profile, "
    "CAST(doc_id % 14 AS INT) AS level, "
    "CAST(CASE WHEN doc_id % 2 = 1 AND doc_id % 14 > 7 "
    "AND doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS tier, "
    "CAST(16 + (doc_id % 32) * 2 AS INT) AS width, "
    "CAST(16 + (doc_id % 24) * 2 AS INT) AS height, "
    "doc_id % 2 = 0 AS reduced FROM documents"))
def _q_media_av1_meta(spark, sf_dir):
    """AV1 metadata tier (analysis/av1.py): IVF-carried sequence
    headers — profile/level/tier/size through the OBU walk, both
    the reduced (AVIF-still) and general operating-point syntax
    paths; every field is doc_id arithmetic the oracle rebuilds."""
    from collections.abc import Iterator

    from tika_spark.analysis.av1 import ivf_wrap, seq_header_obu

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from tika_spark.analysis.av1 import av1_meta
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                reduced = i % 2 == 0
                level = i % 14
                tier = 1 if (not reduced and level > 7
                             and i % 5 == 0) else 0
                obu = seq_header_obu(
                    i % 3, level, 16 + (i % 32) * 2,
                    16 + (i % 24) * 2, reduced=reduced,
                    still=reduced, tier=tier)
                m = av1_meta(ivf_wrap(obu, 16 + (i % 32) * 2,
                                      16 + (i % 24) * 2))
                rows.append((i, m["profile"], m["level"], m["tier"],
                             m["width"], m["height"], m["reduced"]))
            yield pd.DataFrame(rows, columns=[
                "id", "profile", "level", "tier", "width", "height",
                "reduced"])

    return _docs(spark, sf_dir).select("doc_id").mapInPandas(
        run, schema=("id long, profile int, level int, tier int, "
                     "width int, height int, reduced boolean"))


@query("hls_playlists", oracle=(
    # master on id%4==0: 2+id%2 variants, bw 1e6*(v+1)+id;
    # else media: 3+id%3 segs of (4+(id+k)%3).5 s
    "WITH m AS (SELECT doc_id, 2 + doc_id % 2 AS nv "
    "FROM documents WHERE doc_id % 4 = 0), "
    "s AS (SELECT doc_id, SUM(4500 + 1000 * "
    "((doc_id + k) % 3))::BIGINT AS total, "
    "COUNT(*)::INT AS ns FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 4)) AS k) t "
    "WHERE doc_id % 4 <> 0 AND k < 3 + doc_id % 3 "
    "GROUP BY doc_id) "
    "SELECT 'doc://' || doc_id AS url, TRUE AS is_master, "
    "4 AS version, CAST(nv AS INT) AS n_variants, "
    "(1000000 * nv + doc_id)::BIGINT AS max_bandwidth, "
    "0 AS n_segments, 0::BIGINT AS total_duration_ms, "
    "FALSE AS ended FROM m "
    "UNION ALL "
    "SELECT 'doc://' || doc_id, FALSE, 3, 0, 0::BIGINT, "
    "ns, total, doc_id % 2 = 0 FROM s"))
def _q_hls_playlists(spark, sf_dir):
    """HLS manifest parsing (sources/hls.py, RFC 8216): doc_id%4==0
    rows are master playlists (variant fan-out, max bandwidth), the
    rest media playlists (EXTINF segment durations summed in ms,
    ENDLIST on evens); the oracle rebuilds every summary field."""
    from collections.abc import Iterator

    from tika_spark.sources.hls import hls_summary

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                if i % 4 == 0:
                    nv = 2 + i % 2
                    lines = ["#EXTM3U", "#EXT-X-VERSION:4"]
                    for v in range(nv):
                        lines.append(
                            f"#EXT-X-STREAM-INF:BANDWIDTH="
                            f"{1000000 * (v + 1) + i},"
                            f"RESOLUTION={640 * (v + 1)}x360")
                        lines.append(f"v{v}/index.m3u8")
                else:
                    ns = 3 + i % 3
                    lines = ["#EXTM3U", "#EXT-X-VERSION:3",
                             "#EXT-X-TARGETDURATION:7",
                             f"#EXT-X-MEDIA-SEQUENCE:{i}"]
                    for k in range(ns):
                        lines.append(
                            f"#EXTINF:{4 + (i + k) % 3}.5,")
                        lines.append(f"seg{i}_{k}.ts")
                    if i % 2 == 0:
                        lines.append("#EXT-X-ENDLIST")
                rows.append((f"doc://{i}", "\n".join(lines)))
            yield pd.DataFrame(rows, columns=["url", "m3u8"])

    pages = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        gen, "url string, m3u8 string")
    return hls_summary(pages)


@query("media_opus_packet_stats", oracle=(
    # RFC 6716 table: SILK {10,20,40,60}, hybrid {10,20},
    # CELT {2.5,5,10,20} ms; one 1-frame packet per config
    "WITH p AS (SELECT doc_id, (doc_id + k) % 32 AS c "
    "FROM documents CROSS JOIN (SELECT unnest("
    "generate_series(0, 4)) AS k) t "
    "WHERE k < 3 + doc_id % 3), "
    "u AS (SELECT doc_id, c, CASE WHEN c < 12 THEN "
    "([10000,20000,40000,60000])[(c % 4) + 1] "
    "WHEN c < 16 THEN ([10000,20000])[(c % 2) + 1] "
    "ELSE ([2500,5000,10000,20000])[((c - 16) % 4) + 1] "
    "END AS us FROM p) "
    "SELECT doc_id AS id, count(*)::BIGINT AS n_packets, "
    "(SUM(us) // 1000)::BIGINT AS duration_ms, "
    "SUM(CASE WHEN c < 12 THEN 1 ELSE 0 END)::BIGINT "
    "AS n_silk, "
    "SUM(CASE WHEN c >= 12 AND c < 16 THEN 1 ELSE 0 END)"
    "::BIGINT AS n_hybrid, "
    "SUM(CASE WHEN c >= 16 THEN 1 ELSE 0 END)::BIGINT "
    "AS n_celt, "
    "(1 + doc_id % 2)::BIGINT AS channels "
    "FROM u GROUP BY doc_id"))
def _q_media_opus_packet_stats(spark, sf_dir):
    """Ogg Opus TOC walk (oggdemux.opus_packet_stats): duration and
    SILK/hybrid/CELT mode census from packet headers alone — the
    metadata tier for the codec whose sample decode is the
    documented hook. Fixture packets cycle all 32 TOC configs; the
    oracle rebuilds the RFC 6716 frame-duration table."""
    from collections.abc import Iterator

    from tika_spark.analysis.oggdemux import (ogg_wrap,
                                              opus_packet_stats)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                head = (b"OpusHead" + bytes([1, 1 + i % 2])
                        + (312).to_bytes(2, "little")
                        + (48000).to_bytes(4, "little")
                        + b"\x00\x00\x00")
                tags = (b"OpusTags" + (4).to_bytes(4, "little")
                        + b"spk!" + (0).to_bytes(4, "little"))
                pkts = [head, tags]
                for k in range(3 + i % 3):
                    pkts.append(bytes([((i + k) % 32) << 3]))
                st = opus_packet_stats(ogg_wrap(pkts))
                rows.append((i, st["n_packets"], st["duration_ms"],
                             st["n_silk"], st["n_hybrid"],
                             st["n_celt"], st["channels"]))
            yield pd.DataFrame(rows, columns=[
                "id", "n_packets", "duration_ms", "n_silk",
                "n_hybrid", "n_celt", "channels"])

    return _docs(spark, sf_dir).select("doc_id").mapInPandas(
        run, schema=("id long, n_packets long, duration_ms long, "
                     "n_silk long, n_hybrid long, n_celt long, "
                     "channels long"))


@query("mkv_subtitle_text", oracle=(
    # n = 3 + id%2 cues; start = 40000k + (id%7)*10,
    # duration 800 + 100*(k%3); markup stripped to spaces
    "WITH c AS (SELECT doc_id, k, "
    "40000 * k + (doc_id % 7) * 10 AS start_ms, "
    "3 + doc_id % 2 AS n FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 3)) AS k) s "
    "WHERE k < 3 + doc_id % 2) "
    "SELECT doc_id AS id, CAST(k AS INT) AS cue_idx, "
    "start_ms::BIGINT AS start_ms, "
    "(start_ms + 800 + 100 * (k % 3))::BIGINT AS end_ms, "
    "'Cue ' || doc_id || '-' || k || ' styled words' AS text "
    "FROM c"))
def _q_mkv_subtitle_text(spark, sf_dir):
    """Subtitle text mined out of video containers: the EBML walk
    finds S_TEXT tracks and recovers cues with cluster+block timing
    and BlockDuration (analysis/ebml.py mkv_subtitles), markup
    stripped by the SRT/VTT tier — spoken-text training data that
    byte-level text extraction never sees.  Fixture cues are doc_id
    arithmetic the oracle rebuilds verbatim."""
    from collections.abc import Iterator

    from tika_spark.analysis.ebml import (mkv_subtitles,
                                          mkv_wrap_subtitles)

    def gen_cues(i: int):
        n = 3 + i % 2
        cues = []
        for k in range(n):
            start = 40_000 * k + (i % 7) * 10
            cues.append({"start_ms": start,
                         "end_ms": start + 800 + 100 * (k % 3),
                         "text": f"Cue {i}-{k} <i>styled</i> words"})
        return cues

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                mkv = mkv_wrap_subtitles(gen_cues(i))
                for idx, c in enumerate(mkv_subtitles(mkv)):
                    rows.append({"id": i, "cue_idx": idx,
                                 "start_ms": c["start_ms"],
                                 "end_ms": c["end_ms"],
                                 "text": c["text"]})
            yield pd.DataFrame(rows, columns=[
                "id", "cue_idx", "start_ms", "end_ms", "text"])

    return _docs(spark, sf_dir).select("doc_id").mapInPandas(
        run, schema=("id long, cue_idx int, start_ms long, "
                     "end_ms long, text string"))


@query("media_mkv_avc_frames", oracle=(
    # Matroska AVC: frame 0 two-tone (c0|c1), frame 1 solid
    # c1 (one-MB-left pan); always 2 frames
    "WITH f AS (SELECT doc_id, frame_idx, "
    "(doc_id * 31 + 7) % 256 AS c0, "
    "(doc_id * 3 + 120) % 256 AS c1 FROM documents CROSS "
    "JOIN (SELECT unnest(generate_series(0, 1)) AS "
    "frame_idx) s), "
    "g AS (SELECT doc_id, frame_idx, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(c0-16) + 128) "
    "/ 256.0) AS BIGINT))) AS g0, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(c1-16) + 128) "
    "/ 256.0) AS BIGINT))) AS g1 FROM f) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS "
    "frame_idx, CAST(2 AS INT) AS n_frames, "
    "CASE WHEN frame_idx = 0 THEN (g0 + g1) * 500000 "
    "ELSE g1 * 1000000 END AS mean_gray FROM g"))
def _q_media_mkv_avc_frames(spark, sf_dir):
    """H.264 in Matroska (V_MPEG4/ISO/AVC): EBML track walk finds the
    avcC record in CodecPrivate, SimpleBlocks carry length-prefixed
    NALs (analysis/ebml.py mkv_video_frames) — the fourth container
    over the same intra+P decoder.  Fixture: two-tone IDR + one
    panning P frame, exact closed forms."""
    import numpy as np
    from tika_spark.analysis.ebml import mkv_avc_wrap

    def build(i):
        c0 = (i * 31 + 7) % 256
        c1 = (i * 3 + 120) % 256
        f0 = np.empty((16, 32), np.uint8)
        f0[:, :16] = c0
        f0[:, 16:] = c1
        f1 = np.full((16, 32), c1, np.uint8)
        u = np.full((8, 16), 128, np.uint8)
        return mkv_avc_wrap([(f0, u, u), (f1, u, u)], 32, 16,
                            qp=28, plan="pan16",
                            base_mv=(64, 0))

    media = _media(spark, sf_dir, _by_id(build))
    return sample_frame_stats(media, every=1).select(
        "id", "frame_idx", "n_frames",
        F.get("mean_micro", 0).alias("mean_gray"))


@query("media_flv_avc_frames", oracle=(
    # n = 2 + id%2 solid 16x16 AVC frames in an FLV,
    # Y = (id*23 + 31*idx) % 256, both plans lossless
    "WITH f AS (SELECT doc_id, frame_idx, "
    "(doc_id * 23 + 31 * frame_idx) % 256 AS v, "
    "2 + doc_id % 2 AS n FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 2)) AS frame_idx) s "
    "WHERE frame_idx < 2 + doc_id % 2) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS "
    "frame_idx, CAST(n AS INT) AS n_frames, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(v-16) "
    "+ 128) / 256.0) AS BIGINT))) * 1000000 AS mean_gray "
    "FROM f"))
def _q_media_flv_avc_frames(spark, sf_dir):
    """FLV (Flash video) AVC frame sampling: VIDEODATA tag walk with
    back-pointer validation (analysis/flvdemux.py flv_video — avcC
    sequence header + length-prefixed NALU packets) through the
    from-scratch H.264 decoder.  Fixtures alternate I_PCM and
    Intra_16x16-DC@qp28 streams, both exactly lossless, so frame
    means pin to the BT.601 closed form.  Reference parity:
    video/FLVParser.java is metadata-only."""
    from tika_spark.analysis.flvdemux import flv_video_fixture
    media = _media(spark, sf_dir, _by_id(flv_video_fixture))
    return sample_frame_stats(media, every=1).select(
        "id", "frame_idx", "n_frames",
        F.get("mean_micro", 0).alias("mean_gray"))


@query("media_ts_h264_frames", oracle=(
    # n = 1 + id%2 solid 16x16 frames in a CRC-correct TS
    # (stream_type 0x1B), Y = (id*29 + 37*idx) % 256
    "WITH f AS (SELECT doc_id, frame_idx, "
    "(doc_id * 29 + 37 * frame_idx) % 256 AS v, "
    "1 + doc_id % 2 AS n FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 1)) AS frame_idx) s "
    "WHERE frame_idx < 1 + doc_id % 2) "
    "SELECT doc_id AS id, CAST(frame_idx AS INT) AS "
    "frame_idx, CAST(n AS INT) AS n_frames, "
    "GREATEST(0, LEAST(255, CAST(FLOOR((298*(v-16) "
    "+ 128) / 256.0) AS BIGINT))) * 1000000 AS mean_gray "
    "FROM f"))
def _q_media_ts_h264_frames(spark, sf_dir):
    """MPEG transport stream carrying an H.264 elementary stream
    (PMT stream_type 0x1B): the PSI/PES walk (analysis/mpegts.py)
    routes the Annex-B ES to the H.264 decoder instead of the
    MPEG-1/2 path — the dual of media_ts_mpeg2_decode on the same
    container."""
    import numpy as np
    from tika_spark.analysis.h264 import encode_h264
    from tika_spark.analysis.mpegts import ts_wrap

    def build(i):
        frames = []
        for k in range(1 + i % 2):
            yv = (i * 29 + 37 * k) % 256
            frames.append((np.full((16, 16), yv, np.uint8),
                           np.full((8, 8), 128, np.uint8),
                           np.full((8, 8), 128, np.uint8)))
        es = encode_h264(frames, 16, 16, qp=28,
                         plan="pcm" if i % 2 == 0 else "i16dc")
        return ts_wrap(es, stream_type=0x1B,
                       pid=0x100 + i % 16)

    media = _media(spark, sf_dir, _by_id(build))
    return sample_frame_stats(media, every=1).select(
        "id", "frame_idx", "n_frames",
        F.get("mean_micro", 0).alias("mean_gray"))


def _gradient_png_wrap_udf():
    """9×8 grayscale-gradient PNG per doc: pixel v(x,y) =
    (doc_id*7 + 11x + 3y) % 256 in all three channels, so the dHash
    resize is the identity and every gradient-sign bit is a pure
    modular comparison the oracle replays in SQL."""
    import numpy as np

    from tika_spark.analysis.pixels import png_bytes

    xs = np.arange(9)[None, :]
    ys = np.arange(8)[:, None]

    def build(i):
        v = ((i * 7 + 11 * xs + 3 * ys) % 256).astype(np.uint8)
        return png_bytes(np.repeat(v[:, :, None], 3, axis=2))
    return _by_id(build)


_DHASH_SQL = (
    "SELECT doc_id, SUM(CASE WHEN "
    "(doc_id * 7 + 11 * (x + 1) + 3 * y) % 256 > "
    "(doc_id * 7 + 11 * x + 3 * y) % 256 THEN "
    "CASE WHEN y * 8 + x = 63 THEN -9223372036854775808 "
    "ELSE (1::BIGINT << (y * 8 + x)) END ELSE 0 END)::BIGINT AS h "
    "FROM documents CROSS JOIN "
    "(SELECT unnest(generate_series(0, 7)) AS x) sx CROSS JOIN "
    "(SELECT unnest(generate_series(0, 7)) AS y) sy GROUP BY doc_id")


@query("docs_hash_embed", oracle=(
    # digest byte j's low bit == parity of hex char 2j+2
    "WITH pos AS (SELECT unnest(generate_series(1, 2000)) "
    "AS p), "
    "g AS (SELECT doc_id, substr(text, p, 3) AS gram "
    "FROM documents, pos WHERE p <= length(text) - 2), "
    "dims AS (SELECT unnest(generate_series(0, 7)) AS j) "
    "SELECT doc_id AS id, CAST(j AS INT) AS dim, "
    "SUM(CASE WHEN substr(md5(gram), 2 * j + 2, 1) IN "
    "('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)"
    "::BIGINT AS val FROM g, dims GROUP BY doc_id, j"))
def _q_docs_hash_embed(spark, sf_dir):
    """Model-free hashing-trick embeddings (textstats.hash_embed):
    signed random projection of character 3-grams, one md5 per gram,
    dimension sign = digest-byte parity, exact integer sums. The
    DuckDB oracle recomputes the identical md5 parities from the hex
    digest, so every embedding coordinate is hash-exact — the
    generator that feeds the ANN/SemDeDup family when a corpus
    arrives without vectors."""
    from tika_spark.analysis import textstats
    return textstats.hash_embed(_docs(spark, sf_dir), dim=8)


@query("docs_embed_neardup", oracle=(
    "WITH pos AS (SELECT unnest(generate_series(1, 2000)) "
    "AS p), "
    "g AS (SELECT doc_id, substr(text, p, 3) AS gram "
    "FROM documents, pos WHERE p <= length(text) - 2), "
    "dims AS (SELECT unnest(generate_series(0, 7)) AS j), "
    "e AS (SELECT doc_id AS id, j, "
    "SUM(CASE WHEN substr(md5(gram), 2 * j + 2, 1) IN "
    "('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)"
    "::BIGINT AS val FROM g, dims GROUP BY doc_id, j), "
    "n AS (SELECT id, SUM(val * val)::BIGINT AS nrm2 "
    "FROM e GROUP BY id), "
    "d AS (SELECT a.id AS id_a, b.id AS id_b, "
    "SUM(a.val * b.val)::BIGINT AS dot FROM e a JOIN e b "
    "ON a.j = b.j AND a.id < b.id GROUP BY a.id, b.id), "
    "s AS (SELECT id_a, id_b, "
    "round(dot / sqrt((na.nrm2 * nb.nrm2)::DOUBLE) "
    "* 1000000)::BIGINT AS sim_micro FROM d "
    "JOIN n na ON na.id = d.id_a JOIN n nb ON nb.id = d.id_b "
    "WHERE na.nrm2 > 0 AND nb.nrm2 > 0) "
    "SELECT id_a, id_b, sim_micro FROM s "
    "WHERE sim_micro >= 900000"))
def _q_docs_embed_neardup(spark, sf_dir):
    """Composed no-vectors near-dup pipeline: hash_embed the raw text
    (8-dim signed n-gram projection), then pair documents whose
    hashed-embedding cosine >= 0.9. Dot products and norms stay
    INTEGER (exact, order-independent) and the single float step is
    dot/sqrt(na*nb) — one conversion, one sqrt, one divide — so both
    engines round identically. The all-pairs form IS the oracle twin;
    at scale the same embeddings feed SemDeDup/LSH."""
    from tika_spark.analysis import textstats
    e = textstats.hash_embed(_docs(spark, sf_dir), dim=8)
    n = (e.groupBy("id")
         .agg(F.sum(F.col("val") * F.col("val")).alias("nrm2")))
    a = e.alias("a")
    b = e.alias("b")
    dots = (a.join(b, (F.col("a.dim") == F.col("b.dim"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
            .agg(F.sum(F.col("a.val") * F.col("b.val")).alias("dot")))
    na = n.select(F.col("id").alias("id_a"),
                  F.col("nrm2").alias("na2"))
    nb = n.select(F.col("id").alias("id_b"),
                  F.col("nrm2").alias("nb2"))
    x = (F.col("dot") / F.sqrt((F.col("na2") * F.col("nb2"))
                               .cast("double")) * 1_000_000)
    return (dots.join(na, "id_a").join(nb, "id_b")
            .filter((F.col("na2") > 0) & (F.col("nb2") > 0))
            .withColumn("sim_micro", F.round(x).cast("long"))
            .filter(F.col("sim_micro") >= 900_000)
            .select("id_a", "id_b", "sim_micro"))


def _phash_oracle_sql() -> str:
    """DuckDB replay of phash_bits with the exact integer cosine
    table inlined — the same 2-stage integer matmul, the same
    sorted-index-31 median, the same strict-greater bit rule."""
    from tika_spark.analysis.imagehash import PHASH_COS
    cos_rows = ", ".join(
        f"({k}, {m}, {int(PHASH_COS[k, m])})"
        for k in range(8) for m in range(32))
    return (
        "WITH cosb(k, m, c) AS (VALUES " + cos_rows + "), "
        "grid AS (SELECT unnest(generate_series(0, 31)) AS i), "
        "px AS (SELECT doc_id, r.i AS m, q.i AS n, "
        "(3 * r.i + 7 * q.i + doc_id) % 256 AS g "
        "FROM documents, grid r, grid q), "
        "rowt AS (SELECT px.doc_id, ck.k, px.n, "
        "SUM(ck.c * px.g)::BIGINT AS r FROM px "
        "JOIN cosb ck ON ck.m = px.m GROUP BY 1, 2, 3), "
        "coef AS (SELECT rowt.doc_id, rowt.k, cl.k AS l, "
        "SUM(cl.c * rowt.r)::BIGINT AS d FROM rowt "
        "JOIN cosb cl ON cl.m = rowt.n GROUP BY 1, 2, 3), "
        "nd AS (SELECT doc_id, k, l, d FROM coef "
        "WHERE NOT (k = 0 AND l = 0)), "
        "med AS (SELECT doc_id, d AS md FROM "
        "(SELECT doc_id, d, row_number() OVER "
        "(PARTITION BY doc_id ORDER BY d) AS rn FROM nd) "
        "WHERE rn = 32) "
        "SELECT nd.doc_id AS id, "
        "SUM(CASE WHEN nd.d > med.md AND 8 * k + l >= 32 "
        "THEN (1::BIGINT << (8 * k + l - 32)) ELSE 0 END)::BIGINT "
        "AS phash_hi, "
        "SUM(CASE WHEN nd.d > med.md AND 8 * k + l < 32 "
        "THEN (1::BIGINT << (8 * k + l)) ELSE 0 END)::BIGINT "
        "AS phash_lo, "
        "32::BIGINT AS width, 32::BIGINT AS height "
        "FROM nd JOIN med USING (doc_id) GROUP BY nd.doc_id")


@query("image_phash", oracle=_phash_oracle_sql())
def _q_image_phash(spark, sf_dir):
    """DCT perceptual hash (analysis/imagehash.py phash_bits): the
    integer fixed-point 2-D DCT + median threshold replayed
    bit-exactly by the oracle, which inlines the SAME rounded
    cosine table (PHASH_COS) into SQL. Fixture: 32×32 grayscale
    gradient PNGs g[m,n] = (3m + 7n + id) % 256 — structured enough
    that all 63 non-DC coefficients are exercised. The 64-bit hash
    is emitted as two 32-bit halves (BIGINT-safe on both engines)."""
    import numpy as np

    from tika_spark.analysis.imagehash import image_phash
    from tika_spark.analysis.pixels import png_bytes

    m = np.arange(32)[:, None]
    n = np.arange(32)[None, :]

    def build(i):
        g = ((3 * m + 7 * n + i) % 256).astype(np.uint8)
        return png_bytes(g[:, :, None])
    out = image_phash(_media(spark, sf_dir, _by_id(build), "image/png"))
    return out.select(
        "id",
        F.shiftrightunsigned("phash", 32).alias("phash_hi"),
        F.col("phash").bitwiseAND(F.lit(0xFFFFFFFF)).alias("phash_lo"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"))


@query("image_dhash", oracle=(
    "WITH h AS (" + _DHASH_SQL + ") "
    "SELECT doc_id AS id, h AS dhash, CAST(9 AS BIGINT) AS "
    "width, CAST(8 AS BIGINT) AS height FROM h"))
def _q_image_dhash(spark, sf_dir):
    """64-bit perceptual dHash (analysis/imagehash.py) over real PNG
    payloads: decode → deterministic 9×8 luma resize → gradient-sign
    bits. The gradient fixture makes every bit a modular comparison
    the DuckDB oracle computes directly."""
    from tika_spark.analysis.imagehash import image_dhash
    media = _media(spark, sf_dir, _gradient_png_wrap_udf(), "image/png")
    out = image_dhash(media)
    return out.select("id", "dhash",
                      F.col("width").cast("long").alias("width"),
                      F.col("height").cast("long").alias("height"))


@query("image_dhash_pairs", oracle=(
    "WITH h AS (" + _DHASH_SQL + ") "
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming "
    "FROM h a JOIN h b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.h, b.h)) <= 7"))
def _q_image_dhash_pairs(spark, sf_dir):
    """Image near-duplicate pairs: banded Hamming self-join over the
    dHashes (8 byte-bands; pigeonhole-complete for distance < 8),
    exact bit_count(xor) on candidates only — the image-side sibling
    of dedup_simhash. Oracle = all-pairs Hamming in SQL (the verify
    twin; banding is the scale path). max_bucket is set above the
    corpus size so the completeness guarantee is exact here."""
    from tika_spark.analysis.imagehash import dhash_pairs, image_dhash
    media = _media(spark, sf_dir, _gradient_png_wrap_udf(), "image/png")
    hashes = image_dhash(media).filter(F.col("status") == "ok")
    return dhash_pairs(hashes, max_dist=7, max_bucket=1_000_000)


@query("extract_checkpointed", oracle=_CKPT_BUCKETS_SQL)
def _q_extract_checkpointed(spark, sf_dir):
    """O12 checkpoint/resume manifest oracle (pipeline/checkpoint.py):
    a checkpointed extraction run "crashed" after one wave and then
    resumed must commit every bucket exactly once — no bucket skipped,
    no row duplicated by the dynamic-partition-overwrite retry. The
    per-bucket row counts depend only on the deterministic md5-prefix
    bucket assignment, which the DuckDB oracle replays in pure SQL
    (ascii-arithmetic hex parse — DuckDB has no hex→int cast).
    Reference analog: tika-batch's FileResourceCrawler re-queues
    unconsumed resources; here the manifest IS the completion record."""
    import tempfile

    from tika_spark.pipeline import checkpoint as ck
    pages = _pages_mixed(_docs(spark, sf_dir))
    out_dir = tempfile.mkdtemp(prefix="tika_ckpt_")

    def bucket_fn(col):
        return F.pmod(
            F.ascii(F.substring(F.md5(col), 1, 1)) * 16
            + F.ascii(F.substring(F.md5(col), 2, 1)),
            F.lit(8)).cast("int")

    ck.run_checkpointed(pages, out_dir, n_buckets=8, wave_size=3,
                        max_waves=1, bucket_fn=bucket_fn)  # interrupted
    ck.run_checkpointed(pages, out_dir, n_buckets=8, wave_size=3,
                        bucket_fn=bucket_fn)               # resume
    return (ck.manifest(spark, out_dir)
            .select(F.col("ckpt_bucket").cast("int").alias("ckpt_bucket"),
                    F.col("n_rows").cast("long").alias("n_rows")))


_QC_FEATS = ["n_tokens", "n_stopwords", "n_digit", "max_token_len"]


@query("bpe_train_merges", oracle=bpe.bpe_oracle_sql(
    "SELECT text FROM documents", num_merges=4))
def _q_bpe_train_merges(spark, sf_dir):
    """Distributed BPE merge training (analysis/bpe.py): 4 merges
    learned over the documents corpus, bit-exact vs the unrolled
    pair-count/argmax/fold SQL replay."""
    return bpe.bpe_train(_docs(spark, sf_dir), num_merges=4)


@query("docs_chunk_overlap", oracle=(
    # chunk i = words [16i, 16i+24); starts while 16i < n
    "WITH t AS (SELECT doc_id, list_filter("
    r"regexp_split_to_array(trim(text), '\s+'), "
    "x -> x <> '') AS w FROM documents), "
    "m AS (SELECT doc_id, w, len(w) AS n, "
    "CAST(ceil(len(w) / 16.0) AS BIGINT) AS nc FROM t "
    "WHERE len(w) > 0), "
    "c AS (SELECT doc_id, nc, u.i AS chunk_idx, "
    "w[u.i * 16 + 1 : least(u.i * 16 + 24, n)] AS cw "
    "FROM m, UNNEST(generate_series(0, nc - 1)) AS u(i)) "
    "SELECT doc_id AS id, chunk_idx, nc AS n_chunks, "
    "len(cw)::BIGINT AS n_chunk_words, "
    "array_to_string(cw, ' ') AS chunk_text FROM c"))
def _q_docs_chunk_overlap(spark, sf_dir):
    """Overlapping word-window chunking (curation.chunk_documents):
    chunk i = words [16i, 16i+24) (24-word chunks, 8-word overlap),
    the retrieval/pretraining sharding stage — pure per-row array
    expressions, row explosion only at emit."""
    from tika_spark.analysis.curation import chunk_documents
    return chunk_documents(_docs(spark, sf_dir), chunk_words=24,
                           overlap_words=8)


_BPE_ENCODE_MERGES = [("e", "r"), ("t", "h"), ("th", "e")]


@query("docs_bpe_encode", oracle=bpe.bpe_encode_oracle_sql(
    "SELECT doc_id, text FROM documents", _BPE_ENCODE_MERGES))
def _q_docs_bpe_encode(spark, sf_dir):
    """The APPLY half of BPE (analysis/bpe.py bpe_encode_docs):
    per-document token counts under a fixed merge list that includes
    a CHAINED merge (('th','e') consumes ('t','h')'s output, so rank
    order is load-bearing). Encoding runs on the distinct vocabulary
    and broadcast-joins back — the corpus never enters the fold."""
    return bpe.bpe_encode_docs(_docs(spark, sf_dir),
                               _BPE_ENCODE_MERGES)


@query("docs_quality_classifier", oracle=classifier.perceptron_oracle_sql(
    {"n_tokens": f"len({_TOKS})",
     "n_stopwords":
         f"len(list_filter({_TOKS}, x -> x IN {_STOP}))",
     "n_digit":
         "length(regexp_replace(text, '[^0-9]', '', 'g'))",
     "max_token_len":
         f"coalesce(list_max(list_transform({_TOKS}, "
         "x -> length(x))), 0)"},
    "CASE WHEN lang = 'en' THEN 1 ELSE -1 END",
    "SELECT * FROM documents", epochs=3))
def _q_docs_quality_classifier(spark, sf_dir):
    """Distributed-trained quality classifier (analysis/classifier.py):
    3-epoch integer batch perceptron over the quality features, label =
    'is English' — bit-exact vs the unrolled-epoch SQL replay. In
    production the ±1 labels come from a curated seed sample; the
    training machinery is what this query pins."""
    docs = _docs(spark, sf_dir)
    feats = (textstats.quality_features(docs)
             .select("doc_id", *_QC_FEATS,
                     F.when(F.col("lang") == "en", 1).otherwise(-1)
                     .cast("long").alias("y"))
             .persist())
    w = classifier.perceptron_train(feats, _QC_FEATS, epochs=3)
    return classifier.perceptron_scores(feats, w, _QC_FEATS)


@query("extract_markdown", oracle=(
    "SELECT 'doc://' || doc_id AS url, "
    "'# Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10) || '- alpha' || chr(10) || '- [go ' || doc_id || '](http://ex.com/' || doc_id || ')' || chr(10) || chr(10) || '| k | v |' || chr(10) || '| --- | --- |' || chr(10) || '| id | ' || doc_id || ' |' || chr(10) || chr(10) || '```' || chr(10) || 'code ' || doc_id || chr(10) || '```' || chr(10) || chr(10) || '> quoted words' || chr(10) AS text "
    "FROM documents"))
def _q_extract_markdown(spark, sf_dir):
    """Markdown sink (mode='markdown', html/markdown.py): headings,
    lists, links, GFM tables, fenced code, blockquotes — the oracle
    replays the normative serialization rules as one concat."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>M</title>'
              "</head><body><h1>Doc "), did,
        F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><ul><li>alpha</li><li><a href="http://ex.com/'), did,
        F.lit('">go '), did,
        F.lit("</a></li></ul><table><tr><th>k</th><th>v</th></tr>"
              "<tr><td>id</td><td>"), did,
        F.lit("</td></tr></table><pre>code "), did,
        F.lit("</pre><blockquote><p>quoted words</p></blockquote>"
              "</body></html>")), "UTF-8")
    pages = docs.select(
        F.concat(F.lit("doc://"), did).alias("url"), html.alias("html"))
    return extract(pages, mode="markdown").select("url", "text")


# ------------------------------------------------------- web-graph family


def _graph_pages(docs: DataFrame) -> DataFrame:
    """Deterministic link-graph fixture: page on host h{doc_id%7} with
    two absolute anchors whose targets/texts are pure doc_id formulas,
    so DuckDB can replay the edge set without parsing HTML."""
    m1 = F.pmod(F.col("doc_id") * 3 + 1, F.lit(50))
    m2 = F.pmod(F.col("doc_id") * 5 + 2, F.lit(50))
    html = F.encode(F.concat(
        F.lit('<html><head><meta charset="utf-8"/><title>G</title>'
              "</head><body><p>"), F.col("text"),
        F.lit(' <a href="http://h'), F.pmod(m1, F.lit(7)).cast("string"),
        F.lit(".ex/d"), m1.cast("string"), F.lit('">a'),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
        F.lit("-"), m1.cast("string"), F.lit("</a>"),
        F.lit(' <a href="http://h'), F.pmod(m2, F.lit(7)).cast("string"),
        F.lit(".ex/d"), m2.cast("string"), F.lit('">b'),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.lit("-"), m2.cast("string"), F.lit("</a></p></body></html>")),
        "UTF-8")
    return docs.select(
        F.concat(F.lit("http://h"),
                 F.pmod("doc_id", F.lit(7)).cast("string"),
                 F.lit(".ex/d"), F.col("doc_id").cast("string"))
        .alias("url"),
        html.alias("html"))


def _graph_edges(spark, sf_dir) -> DataFrame:
    from tika_spark.analysis import webgraph
    out = extract(_graph_pages(_docs(spark, sf_dir)), mode="text")
    return webgraph.link_edges(out)


# the oracle-side edge replay (src/dst hosts + full dst urls + anchors)
_GRAPH_EDGE_SQL = (
    "SELECT 'h' || (doc_id % 7) || '.ex' AS src_host, "
    "'h' || (((doc_id*3+1) % 50) % 7) || '.ex' AS dst_host, "
    "'http://h' || (((doc_id*3+1) % 50) % 7) || '.ex/d' "
    "|| ((doc_id*3+1) % 50) AS dst, "
    "'a' || (doc_id % 5) || '-' || ((doc_id*3+1) % 50) AS anchor "
    "FROM documents "
    "UNION ALL "
    "SELECT 'h' || (doc_id % 7) || '.ex', "
    "'h' || (((doc_id*5+2) % 50) % 7) || '.ex', "
    "'http://h' || (((doc_id*5+2) % 50) % 7) || '.ex/d' "
    "|| ((doc_id*5+2) % 50), "
    "'b' || (doc_id % 3) || '-' || ((doc_id*5+2) % 50) "
    "FROM documents")


def _pagerank_oracle_sql(iterations: int = 3,
                         damping: int = 850_000) -> str:
    """Unrolled integer-micro PageRank replay (same floor-division
    schedule as webgraph.pagerank; DuckDB ``//`` == Spark ``div``)."""
    scale = 1_000_000
    sql = [
        "WITH e AS (" + _GRAPH_EDGE_SQL + "), ",
        "hg AS (SELECT src_host AS src, dst_host AS dst, "
        "COUNT(*)::BIGINT AS w FROM e GROUP BY 1, 2), ",
        "nodes AS (SELECT DISTINCT src AS host FROM hg "
        "UNION SELECT DISTINCT dst FROM hg), ",
        "nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes), ",
        "deg AS (SELECT nodes.host, COALESCE(o.ow, 0)::BIGINT AS out_w "
        "FROM nodes LEFT JOIN (SELECT src, SUM(w) AS ow FROM hg "
        "GROUP BY src) o ON nodes.host = o.src), ",
        f"r0 AS (SELECT host, ({scale}::BIGINT // (SELECT n FROM nn)) "
        "AS rank FROM nodes), ",
    ]
    for i in range(iterations):
        p, c = f"r{i}", f"r{i + 1}"
        sql.append(
            f"{c} AS (SELECT nodes.host, "
            f"(({scale} - {damping})::BIGINT // (SELECT n FROM nn)) "
            f"+ ({damping}::BIGINT * (SELECT COALESCE(SUM(r.rank), 0) "
            f"FROM {p} r JOIN deg ON r.host = deg.host "
            f"AND deg.out_w = 0) // ({scale}::BIGINT * "
            "(SELECT n FROM nn))) "
            "+ COALESCE(m.in_mass, 0) AS rank "
            "FROM nodes LEFT JOIN ("
            f"SELECT hg.dst AS host, SUM({damping}::BIGINT * r.rank "
            f"* hg.w // ({scale}::BIGINT * deg.out_w)) AS in_mass "
            f"FROM hg JOIN {p} r ON hg.src = r.host "
            "JOIN deg ON deg.host = hg.src WHERE deg.out_w > 0 "
            "GROUP BY hg.dst) m ON nodes.host = m.host), ")
    joined = "".join(sql)
    assert joined.endswith("), ")
    return (joined[:-2]
            + f" SELECT host, rank::BIGINT AS rank_micro FROM r{iterations}")


def _hits_oracle_sql(iterations: int = 2) -> str:
    """Unrolled integer-micro HITS replay (same L1-normalized
    floor-division schedule as webgraph.hits)."""
    scale = 1_000_000
    sql = [
        "WITH e AS (" + _GRAPH_EDGE_SQL + "), ",
        "hg AS (SELECT src_host AS src, dst_host AS dst, "
        "COUNT(*)::BIGINT AS w FROM e GROUP BY 1, 2), ",
        "nodes AS (SELECT DISTINCT src AS host FROM hg "
        "UNION SELECT DISTINCT dst FROM hg), ",
        "nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes), ",
        f"h0 AS (SELECT host, ({scale}::BIGINT // (SELECT n FROM nn)) "
        "AS hub FROM nodes), ",
    ]
    for i in range(iterations):
        ph, a, h = f"h{i}", f"a{i + 1}", f"h{i + 1}"
        sql.append(
            f"ra{i + 1} AS (SELECT hg.dst AS host, "
            f"SUM(p.hub * hg.w)::BIGINT AS raw "
            f"FROM hg JOIN {ph} p ON hg.src = p.host GROUP BY hg.dst), "
            f"ta{i + 1} AS (SELECT COALESCE(SUM(raw), 0)::BIGINT AS t "
            f"FROM ra{i + 1}), "
            f"{a} AS (SELECT nodes.host, "
            f"CASE WHEN (SELECT t FROM ta{i + 1}) > 0 "
            f"THEN {scale}::BIGINT * COALESCE(r.raw, 0) "
            f"// (SELECT t FROM ta{i + 1}) ELSE 0 END AS auth "
            f"FROM nodes LEFT JOIN ra{i + 1} r "
            "ON nodes.host = r.host), "
            f"rh{i + 1} AS (SELECT hg.src AS host, "
            f"SUM(q.auth * hg.w)::BIGINT AS raw "
            f"FROM hg JOIN {a} q ON hg.dst = q.host GROUP BY hg.src), "
            f"th{i + 1} AS (SELECT COALESCE(SUM(raw), 0)::BIGINT AS t "
            f"FROM rh{i + 1}), "
            f"{h} AS (SELECT nodes.host, "
            f"CASE WHEN (SELECT t FROM th{i + 1}) > 0 "
            f"THEN {scale}::BIGINT * COALESCE(r.raw, 0) "
            f"// (SELECT t FROM th{i + 1}) ELSE 0 END AS hub "
            f"FROM nodes LEFT JOIN rh{i + 1} r "
            "ON nodes.host = r.host), ")
    joined = "".join(sql)
    assert joined.endswith("), ")
    return (joined[:-2]
            + f" SELECT a.host, a.auth::BIGINT AS auth_micro, "
            f"h.hub::BIGINT AS hub_micro "
            f"FROM a{iterations} a JOIN h{iterations} h "
            "ON a.host = h.host")


@query("graph_host_degrees", oracle=(
    "WITH e AS (" + _GRAPH_EDGE_SQL + "), "
    "hg AS (SELECT src_host, dst_host, COUNT(*)::BIGINT AS w "
    "FROM e GROUP BY 1, 2), "
    "o AS (SELECT src_host AS host, SUM(w) AS ow FROM hg "
    "GROUP BY 1), "
    "i AS (SELECT dst_host AS host, SUM(w) AS iw FROM hg "
    "GROUP BY 1) "
    "SELECT COALESCE(o.host, i.host) AS host, "
    "COALESCE(ow, 0)::BIGINT AS out_weight, "
    "COALESCE(iw, 0)::BIGINT AS in_weight "
    "FROM o FULL OUTER JOIN i ON o.host = i.host"))
def _q_graph_host_degrees(spark, sf_dir):
    """Weighted host-graph in/out degrees off the C8 link column —
    the crawl-frontier quality feature."""
    from tika_spark.analysis import webgraph
    hg = webgraph.host_graph(_graph_edges(spark, sf_dir))
    return webgraph.degree_stats(hg)


@query("graph_pagerank", oracle=_pagerank_oracle_sql(iterations=3))
def _q_graph_pagerank(spark, sf_dir):
    """3-iteration integer-micro PageRank over the fixture host graph
    (analysis/webgraph.py) — bit-exact vs the unrolled SQL replay."""
    from tika_spark.analysis import webgraph
    hg = webgraph.host_graph(_graph_edges(spark, sf_dir))
    return webgraph.pagerank(hg, iterations=3)


@query("graph_hits", oracle=_hits_oracle_sql(iterations=2))
def _q_graph_hits(spark, sf_dir):
    """2-iteration integer-micro HITS hubs/authorities over the same
    fixture host graph (webgraph.hits) — L1-normalized fixed point,
    bit-exact vs the unrolled SQL replay."""
    from tika_spark.analysis import webgraph
    hg = webgraph.host_graph(_graph_edges(spark, sf_dir))
    return webgraph.hits(hg, iterations=2)


@query("graph_anchor_text", oracle=(
    "WITH e AS (" + _GRAPH_EDGE_SQL + ") "
    "SELECT dst, COUNT(*)::BIGINT AS n_inlinks, "
    "array_to_string(list_sort(array_agg(DISTINCT anchor))"
    "[1:2], '|') AS anchors "
    "FROM e WHERE anchor IS NOT NULL AND anchor <> '' "
    "GROUP BY dst"))
def _q_graph_anchor_text(spark, sf_dir):
    """Per-target anchor roll-up: in-link count + first-2 sorted
    distinct anchors."""
    from tika_spark.analysis import webgraph
    return webgraph.anchor_summary(_graph_edges(spark, sf_dir), k=2)


_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _splits_oracle_sql() -> str:
    cases = " ".join(
        f"WHEN d < {t} THEN '{name}'"
        for name, t in textstats.split_thresholds(_SPLITS))
    return ("SELECT doc_id, CASE " + cases + " ELSE 'unassigned' END "
            "AS split FROM (SELECT doc_id, ('0x' || "
            "substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS d "
            "FROM documents)")


@query("docs_assign_splits", oracle=_splits_oracle_sql())
def _q_docs_assign_splits(spark, sf_dir):
    """Deterministic train/val/test assignment (textstats.assign_splits):
    integer 32-bit md5 bands, zero-shuffle, retry-stable."""
    return (textstats.assign_splits(_docs(spark, sf_dir), _SPLITS)
            .select("doc_id", "split"))


_ROBOTS_FIXTURE = "User-agent: *\nDisallow: /d1\nAllow: /d12\n"


_BLOOM_M, _BLOOM_K = 1 << 20, 5


@query("docs_paragraph_intra", oracle=(
    "SELECT doc_id, "
    "CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 1 END::BIGINT "
    "AS n_paragraphs, "
    "CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END::BIGINT "
    "AS n_removed, "
    "CASE WHEN doc_id % 4 = 0 THEN text || chr(10) || 'tail' "
    "ELSE text END AS text_dedup FROM documents"))
def _q_docs_paragraph_intra(spark, sf_dir):
    """Intra-document paragraph dedup (curation.dedup_paragraphs_intra):
    doc_id%4==0 docs carry their own text twice, newline-joined — the
    repeat must vanish per row, zero shuffles."""
    from tika_spark.analysis.curation import dedup_paragraphs_intra
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat("text", F.lit("\n"), "text", F.lit("\ntail")))
        .otherwise(F.col("text")).alias("text"))
    return dedup_paragraphs_intra(docs)


@query("docs_gopher_rules", oracle=(
    "WITH t AS (SELECT doc_id, text, "
    f"{_TOKS} AS w, ".replace("{_TOKS}", _TOKS) +
    "string_split(text, chr(10)) AS ln FROM documents), "
    "m AS (SELECT doc_id, len(w) AS nw, "
    "list_sum(list_transform(w, x -> length(x))) AS sl, "
    "len(ln) AS nl, "
    "len(list_filter(ln, x -> starts_with(x, '\u2022') "
    "OR starts_with(x, '- ') OR starts_with(x, '* '))) "
    "AS nb, "
    "len(list_filter(ln, x -> ends_with(x, '...') "
    "OR ends_with(x, '\u2026'))) AS ne, "
    "len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) "
    "AS na, "
    "(length(text) - length(replace(text, '#', ''))) "
    "+ len(string_split_regex(text, '\\.\\.\\.')) - 1 "
    "+ len(string_split(text, '\u2026')) - 1 AS ns, "
    f"len(list_intersect(w, ['the','be','to','of','and','that','have','with'])) AS nst "
    "FROM t) "
    "SELECT doc_id, nw::BIGINT AS n_words, "
    "nw >= 30 AND nw <= 100000 AS r_word_count, "
    "sl >= 3 * nw AND sl <= 10 * nw AS r_mean_word_len, "
    "10 * ns <= nw AS r_symbol_ratio, "
    "10 * nb <= 9 * nl AS r_bullet_lines, "
    "10 * ne <= 3 * nl AS r_ellipsis_lines, "
    "5 * na >= 4 * nw AS r_alpha_words, "
    "nst >= 2 AS r_stopwords, "
    "(nw >= 30 AND nw <= 100000) AND (sl >= 3 * nw AND "
    "sl <= 10 * nw) AND (10 * ns <= nw) AND (10 * nb <= 9 * nl) "
    "AND (10 * ne <= 3 * nl) AND (5 * na >= 4 * nw) "
    "AND (nst >= 2) AS keep FROM m"))
def _q_docs_gopher_rules(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 A1.1,
    curation.gopher_rules): integer cross-multiplied decisions,
    per-rule observability, zero shuffles."""
    from tika_spark.analysis.curation import gopher_rules
    return gopher_rules(_docs(spark, sf_dir), min_words=30)


@query("cms_host_counts", oracle=(
    "WITH keys AS (SELECT 'h' || (doc_id % 7) || '.ex' AS key "
    "FROM documents), "
    "sk AS (SELECT t.r AS rw, (('0x' || substring(md5(key "
    "|| '@' || t.r), 1, 8))::BIGINT % 16384) AS bucket, "
    "count(*)::BIGINT AS cnt FROM keys, "
    "(VALUES (0), (1), (2), (3)) t(r) GROUP BY 1, 2), "
    "probe AS (SELECT DISTINCT key FROM keys "
    "UNION ALL SELECT 'unseen.ex'), "
    "pb AS (SELECT key, t.r AS rw, (('0x' || substring(md5("
    "key || '@' || t.r), 1, 8))::BIGINT % 16384) AS bucket "
    "FROM probe, (VALUES (0), (1), (2), (3)) t(r)) "
    "SELECT pb.key AS host, "
    "min(coalesce(sk.cnt, 0))::BIGINT AS est_count FROM pb "
    "LEFT JOIN sk ON pb.rw = sk.rw AND pb.bucket = sk.bucket "
    "GROUP BY pb.key"))
def _q_cms_host_counts(spark, sf_dir):
    """Count-Min sketch (analysis/bloom.py): host-frequency sketch
    built over the corpus, point-queried for every host plus one
    unseen key — counters and estimates replay exactly in SQL."""
    from tika_spark.analysis.bloom import cms_build, cms_query
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("h"), F.pmod("doc_id", F.lit(7)).cast("string"),
                 F.lit(".ex")).alias("host"))
    sk = cms_build(docs, "host")
    probe = (docs.distinct()
             .unionByName(spark.createDataFrame([("unseen.ex",)],
                                                "host string")))
    return cms_query(probe, sk, "host")


@query("bloom_build", oracle=(
    "SELECT bit_index FROM (SELECT DISTINCT (('0x' || substring(md5('http://f.ex/d' || doc_id || '#' || t.i), 1, 8))::BIGINT % 1048576) AS bit_index FROM documents, (VALUES (0), (1), (2), (3), (4)) t(i))"))
def _q_bloom_build(spark, sf_dir):
    """Frontier Bloom filter, relational form (analysis/bloom.py):
    distinct set-bit indexes of the seen-URL set — bit derivation
    exactly replayed in SQL."""
    from tika_spark.analysis import bloom
    seen = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://f.ex/d"), F.col("doc_id").cast("string"))
        .alias("url"))
    return bloom.build_bits(seen, m_bits=_BLOOM_M, k=_BLOOM_K)


@query("bloom_probe", oracle=(
    "WITH bits AS (SELECT DISTINCT (('0x' || substring(md5('http://f.ex/d' || doc_id || '#' || t.i), 1, 8))::BIGINT % 1048576) AS bit_index FROM documents, (VALUES (0), (1), (2), (3), (4)) t(i)), "
    "probe AS (SELECT CASE WHEN doc_id % 2 = 0 "
    "THEN 'http://f.ex/d' || doc_id "
    "ELSE 'http://g.ex/u' || doc_id END AS url "
    "FROM documents), "
    "pb AS (SELECT url, (('0x' || substring(md5(url || '#' "
    "|| t.i), 1, 8))::BIGINT % 1048576) AS b FROM probe, "
    "(VALUES (0), (1), (2), (3), (4)) t(i)), "
    "hits AS (SELECT url, count(*) AS n FROM pb "
    "JOIN bits ON pb.b = bits.bit_index GROUP BY url) "
    "SELECT probe.url, coalesce(n, 0) = 5 AS maybe_seen "
    "FROM probe LEFT JOIN hits USING (url)"))
def _q_bloom_probe(spark, sf_dir):
    """Bloom membership probe: even doc_ids are in the filter, odd
    probes use unseen URLs (false positives, if any, are the SAME
    deterministic ones in both engines)."""
    from tika_spark.analysis import bloom
    docs = _docs(spark, sf_dir)
    seen = docs.select(
        F.concat(F.lit("http://f.ex/d"), F.col("doc_id").cast("string"))
        .alias("url"))
    bits = bloom.build_bits(seen, m_bits=_BLOOM_M, k=_BLOOM_K)
    probe = docs.select(
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("http://f.ex/d"),
                        F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("http://g.ex/u"),
                            F.col("doc_id").cast("string")))
        .alias("url"))
    return bloom.probe_bits(probe, bits, m_bits=_BLOOM_M, k=_BLOOM_K)


@query("docs_remove_dup_keepfirst", oracle=(
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim("
    "CASE WHEN doc_id % 3 = 0 THEN text || ' "
    + _SHARED_SNIPPET + "' ELSE text END), '\\s+') AS w "
    "FROM documents), "
    "s AS (SELECT doc_id, "
    "unnest(generate_series(1, len(w)-4)) - 1 AS pos, "
    "unnest(list_transform(generate_series(1, len(w)-4), "
    "i -> array_to_string(w[i:i+4], ' '))) AS sh "
    "FROM t WHERE len(w) >= 5), "
    "h AS (SELECT doc_id, pos, ('0x' || substring(md5(sh), 1, "
    "15))::BIGINT AS hv FROM s), "
    "dup AS (SELECT hv FROM (SELECT DISTINCT doc_id, hv "
    "FROM h) GROUP BY hv HAVING count(*) >= 2), "
    "d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, "
    "row_number() OVER (PARTITION BY hv ORDER BY doc_id, pos) "
    "AS rn FROM h JOIN dup USING (hv)) WHERE rn > 1), "
    "cov AS (SELECT DISTINCT doc_id, pos + u.i AS ti "
    "FROM d, UNNEST(generate_series(0, 4)) u(i)), "
    "tok AS (SELECT doc_id, "
    "unnest(generate_series(1, len(w))) - 1 AS ti, "
    "unnest(w) AS tk FROM t), "
    "keep AS (SELECT tok.doc_id, tok.ti, tok.tk FROM tok "
    "LEFT JOIN cov ON tok.doc_id = cov.doc_id "
    "AND tok.ti = cov.ti WHERE cov.ti IS NULL), "
    "nrem AS (SELECT doc_id, count(*)::BIGINT AS n FROM cov "
    "GROUP BY 1), "
    "txt AS (SELECT doc_id, coalesce(string_agg(tk, ' ' "
    "ORDER BY ti), '') AS text_dedup FROM keep GROUP BY 1) "
    "SELECT t.doc_id, len(w)::BIGINT AS n_toks, "
    "coalesce(nrem.n, 0)::BIGINT AS n_removed_tokens, "
    "coalesce(txt.text_dedup, '') AS text_dedup FROM t "
    "LEFT JOIN nrem USING (doc_id) "
    "LEFT JOIN txt USING (doc_id)"))
def _q_docs_remove_dup_keepfirst(spark, sf_dir):
    """Keep-one span dedup (Lee et al. 2022 election): the globally
    first occurrence of each duplicated shingle survives; SQL replays
    the election with the same (doc_id, pos) total order."""
    from tika_spark.analysis.dedup import remove_dup_spans
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat("text", F.lit(" " + _SHARED_SNIPPET)))
        .otherwise(F.col("text")).alias("text"))
    return remove_dup_spans(docs, k=5, keep_first=True).select(
        "doc_id", "n_toks", "n_removed_tokens", "text_dedup")


@query("url_features", oracle=(
    "SELECT doc_id, "
    "'s' || (doc_id % 4) || '.n' || (doc_id % 10) || '.ex.com' "
    "AS url_host, 3::BIGINT AS n_subdomains, "
    "(CASE WHEN (doc_id % 4) = (doc_id % 10) "
    "THEN length((doc_id % 4)::VARCHAR) * 2 "
    "ELSE length((doc_id % 4)::VARCHAR) "
    "+ length((doc_id % 10)::VARCHAR) END)::BIGINT "
    "AS n_digits_host, 2::BIGINT AS path_depth, "
    "length('http://s' || (doc_id % 4) || '.n' || (doc_id % 10) "
    "|| '.ex.com/a/p' || doc_id "
    "|| CASE WHEN doc_id % 2 = 0 THEN '?id=' || doc_id "
    "ELSE '' END)::BIGINT AS url_len, "
    "doc_id % 2 = 0 AS has_query FROM documents"))
def _q_url_features(spark, sf_dir):
    """URL structural quality features (curation.url_features):
    zero-shuffle regexp projections over a deterministic URL mix."""
    from tika_spark.analysis import curation
    did = F.col("doc_id").cast("string")
    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("http://s"), F.pmod("doc_id", F.lit(4))
                 .cast("string"),
                 F.lit(".n"), F.pmod("doc_id", F.lit(10)).cast("string"),
                 F.lit(".ex.com/a/p"), did,
                 F.when(F.col("doc_id") % 2 == 0,
                        F.concat(F.lit("?id="), did))
                 .otherwise(F.lit(""))).alias("url"))
    return curation.url_features(urls).select(
        "doc_id", "url_host", "n_subdomains", "n_digits_host",
        "path_depth", "url_len", "has_query")


@query("docs_remove_dup_spans", oracle=(
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim("
    "CASE WHEN doc_id % 3 = 0 THEN text || ' "
    + _SHARED_SNIPPET + "' ELSE text END), '\\s+') AS w "
    "FROM documents), "
    "s AS (SELECT doc_id, "
    "unnest(generate_series(1, len(w)-4)) - 1 AS pos, "
    "unnest(list_transform(generate_series(1, len(w)-4), "
    "i -> array_to_string(w[i:i+4], ' '))) AS sh "
    "FROM t WHERE len(w) >= 5), "
    "h AS (SELECT doc_id, pos, ('0x' || substring(md5(sh), 1, "
    "15))::BIGINT AS hv FROM s), "
    "dup AS (SELECT hv FROM (SELECT DISTINCT doc_id, hv "
    "FROM h) GROUP BY hv HAVING count(*) >= 2), "
    "d AS (SELECT doc_id, pos FROM h JOIN dup USING (hv)), "
    "cov AS (SELECT DISTINCT doc_id, pos + u.i AS ti "
    "FROM d, UNNEST(generate_series(0, 4)) u(i)), "
    "tok AS (SELECT doc_id, "
    "unnest(generate_series(1, len(w))) - 1 AS ti, "
    "unnest(w) AS tk FROM t), "
    "keep AS (SELECT tok.doc_id, tok.ti, tok.tk FROM tok "
    "LEFT JOIN cov ON tok.doc_id = cov.doc_id "
    "AND tok.ti = cov.ti WHERE cov.ti IS NULL), "
    "nrem AS (SELECT doc_id, count(*)::BIGINT AS n FROM cov "
    "GROUP BY 1), "
    "txt AS (SELECT doc_id, coalesce(string_agg(tk, ' ' "
    "ORDER BY ti), '') AS text_dedup FROM keep GROUP BY 1) "
    "SELECT t.doc_id, len(w)::BIGINT AS n_toks, "
    "coalesce(nrem.n, 0)::BIGINT AS n_removed_tokens, "
    "coalesce(txt.text_dedup, '') AS text_dedup FROM t "
    "LEFT JOIN nrem USING (doc_id) "
    "LEFT JOIN txt USING (doc_id)"))
def _q_docs_remove_dup_spans(spark, sf_dir):
    """Span-removal application of substring dedup (scrub-all policy):
    the injected wire-copy tail must vanish from every doc_id%3==0
    document, bit-exact against the SQL rebuild."""
    from tika_spark.analysis.dedup import remove_dup_spans
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat("text", F.lit(" " + _SHARED_SNIPPET)))
        .otherwise(F.col("text")).alias("text"))
    return remove_dup_spans(docs, k=5).select(
        "doc_id", "n_toks", "n_removed_tokens", "text_dedup")


_CDX_FETCH_SQL = (
    "SELECT 'http://www.ex.com/d' || doc_id AS url, text "
    "FROM documents")


@query("cdx_fetch_roundtrip", oracle=_CDX_FETCH_SQL)
def _q_cdx_fetch_roundtrip(spark, sf_dir):
    """Archive random-access roundtrip: export WET shards to files,
    CDX-index them, range-fetch every record back by (path, offset,
    clength), decode — must reproduce the corpus text exactly."""
    import os
    import tempfile
    import uuid

    from tika_spark.sources.cdx import cdx_fetch, cdx_index
    from tika_spark.sources.warc import to_wet
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://www.ex.com/d"),
                 F.col("doc_id").cast("string")).alias("url"), "text")
    out_dir = tempfile.mkdtemp(prefix="tika_cdx_")

    def save(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                p = os.path.join(out_dir,
                                 uuid.uuid4().hex + ".warc.wet.gz")
                with open(p, "wb") as f:
                    f.write(blob)
                rows.append({"path": p, "blob": blob})
            yield pd.DataFrame(rows, columns=["path", "blob"])

    shards = to_wet(docs).mapInPandas(save, "path string, blob binary")
    idx = (cdx_index(shards, shard_col="path")
           .withColumnRenamed("shard", "path"))
    fetched = cdx_fetch(idx)
    return fetched.select(
        "url", F.decode(F.col("payload"), "UTF-8").alias("text"))


@query("zst_cdx_fetch_roundtrip", oracle=_CDX_FETCH_SQL)
def _q_zst_cdx_fetch_roundtrip(spark, sf_dir):
    """Archive random access over DICTIONARY-COMPRESSED .warc.zst
    (sources/cdx.py cdx_index_zst/cdx_fetch_zst): shards written to
    files, frame-addressed CDX rows (frame spans by header
    arithmetic, dictionary span carried per row), then every record
    range-fetched back — two seeks per record (dict cached per
    shard), one frame decompressed, payload must reproduce the
    corpus text exactly through the from-scratch zstd."""
    import os
    import tempfile
    import uuid

    from tika_spark.sources.cdx import cdx_fetch_zst, cdx_index_zst

    def build(batches):
        from tika_spark.fixtures import warcgen
        out_dir = tempfile.mkdtemp(prefix="tika_zstcdx_")
        for pdf in batches:
            recs = [(f"http://www.ex.com/d{i}",
                     "2026-01-17T08:30:00Z",
                     str(t).encode("utf-8"))
                    for i, t in zip(pdf["doc_id"], pdf["text"])]
            blob = warcgen.warc_zst_dict(recs)
            p = os.path.join(out_dir,
                             uuid.uuid4().hex + ".warc.zst")
            with open(p, "wb") as f:
                f.write(blob)
            yield pd.DataFrame({"path": [p], "blob": [blob]})

    shards = (_docs(spark, sf_dir).select("doc_id", "text")
              .mapInPandas(build, "path string, blob binary"))
    idx = (cdx_index_zst(shards, shard_col="path")
           .withColumnRenamed("shard", "path"))
    fetched = cdx_fetch_zst(idx)
    return fetched.select(
        "url", F.decode(F.col("payload"), "UTF-8").alias("text"))


@query("wet_cdx_index", oracle=(
    "SELECT 'com,ex)/d' || doc_id AS urlkey, "
    "'http://www.ex.com/d' || doc_id AS url, "
    "sha256(text) AS digest FROM documents"))
def _q_wet_cdx_index(spark, sf_dir):
    """WET export → CDX index composition (sources/cdx.py): the
    random-access layer over the text egress. Offsets/lengths are
    pytest-pinned (gzip framing isn't SQL); the oracle replays the
    SURT keys and payload sha256."""
    from tika_spark.sources.cdx import cdx_index
    from tika_spark.sources.warc import to_wet
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://www.ex.com/d"),
                 F.col("doc_id").cast("string")).alias("url"), "text")
    shards = to_wet(docs).withColumn("shard", F.lit("s0"))
    return cdx_index(shards).select("urlkey", "url", "digest")


@query("sitemap_entries", oracle=(
    "SELECT 'doc://' || doc_id || '/sitemap.xml' AS source_url, "
    "CASE r.i WHEN 1 THEN 'http://s.ex/p' || doc_id "
    "ELSE 'http://s.ex/q' || doc_id END AS loc, "
    "CASE r.i WHEN 1 THEN '2026-01-0' || ((doc_id % 9) + 1) "
    "END AS lastmod, NULL::VARCHAR AS changefreq, "
    "CASE r.i WHEN 1 THEN (doc_id % 10) * 100000 "
    "ELSE 500000 END::BIGINT AS priority_micro, "
    "FALSE AS is_index FROM documents, "
    "(VALUES (1), (2)) r(i)"))
def _q_sitemap_entries(spark, sf_dir):
    """Sitemap urlset parsing (sources/sitemap.py): per-doc sitemap
    XML exploded into frontier rows with exact micro priorities."""
    from tika_spark.sources.sitemap import sitemap_entries
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    xml = F.encode(F.concat(
        F.lit('<?xml version="1.0"?><urlset xmlns="http://www.'
              'sitemaps.org/schemas/sitemap/0.9"><url><loc>'
              "http://s.ex/p"), did,
        F.lit("</loc><lastmod>2026-01-0"),
        (F.pmod("doc_id", F.lit(9)) + 1).cast("string"),
        F.lit("</lastmod><priority>0."),
        F.pmod("doc_id", F.lit(10)).cast("string"),
        F.lit("</priority></url><url><loc>http://s.ex/q"), did,
        F.lit("</loc></url></urlset>")), "UTF-8")
    pages = docs.select(
        F.concat(F.lit("doc://"), did, F.lit("/sitemap.xml"))
        .alias("url"), xml.alias("html"))
    return sitemap_entries(pages)


@query("frontier_robots_meta", oracle=(
    # fetchbot group wins; no fetchbot delay (id%5==0) ->
    # 1000 ms default; sitemaps are group-independent
    "SELECT 'h' || doc_id || '.example' AS host, "
    "(CASE WHEN doc_id % 5 = 0 THEN 1000 "
    "ELSE (doc_id % 3) * 1000 END)::BIGINT AS "
    "crawl_delay_ms, "
    "(1 + doc_id % 2)::BIGINT AS n_sitemaps, "
    "'https://h' || doc_id || '.example/s0.xml' || "
    "CASE WHEN doc_id % 2 = 1 THEN ' https://h' || doc_id "
    "|| '.example/s1.xml' ELSE '' END AS sitemaps "
    "FROM documents"))
def _q_frontier_robots_meta(spark, sf_dir):
    """Per-host politeness metadata (sources/robots.py robots_meta):
    Crawl-delay with group-specificity selection (the fetchbot group
    beats *, the de-facto extension RFC 9309 leaves out) falling back
    to the 1000 ms default when ungranted, plus the group-independent
    Sitemap seed list — the scheduler half of robots handling."""
    from tika_spark.sources.robots import robots_meta

    host = F.concat(F.lit("h"), F.col("doc_id"),
                    F.lit(".example"))
    txt = F.concat(
        F.lit("User-agent: *\nCrawl-delay: "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".5\nDisallow: /tmp/\nSitemap: https://h"),
        F.col("doc_id"), F.lit(".example/s0.xml\n"),
        F.when(F.col("doc_id") % 2 == 1, F.concat(
            F.lit("Sitemap: https://h"), F.col("doc_id"),
            F.lit(".example/s1.xml\n"))).otherwise(F.lit("")),
        F.lit("\nUser-agent: fetchbot\n"),
        F.when(F.col("doc_id") % 5 != 0, F.concat(
            F.lit("Crawl-delay: "),
            (F.col("doc_id") % 3).cast("string"), F.lit("\n")))
        .otherwise(F.lit("")),
        F.lit("Disallow: /private/\n"))
    pages = _docs(spark, sf_dir).select(
        host.alias("host"), txt.alias("robots_txt"))
    return robots_meta(pages, agent="fetchbot/1.0")


@query("frontier_fetch_schedule", oracle=(
    "WITH f AS (SELECT 'https://h' || (doc_id % 20) || "
    "'.example/p' || doc_id AS url, "
    "'h' || (doc_id % 20) || '.example' AS host, "
    "n_chars::BIGINT AS priority, doc_id % 20 AS j "
    "FROM documents), "
    "s AS (SELECT url, host, j, row_number() OVER ("
    "PARTITION BY host ORDER BY priority DESC, url ASC) "
    "AS slot FROM f) "
    "SELECT url, host, slot::BIGINT AS slot, "
    "((slot - 1) * ((j % 3) * 500 + 500))::BIGINT "
    "AS fetch_offset_ms FROM s"))
def _q_frontier_fetch_schedule(spark, sf_dir):
    """Politeness-aware fetch scheduling (sources/robots.py
    fetch_schedule): the frontier shuffles once on host, each host's
    queue orders by priority and stamps slot k with
    (k-1)*crawl_delay_ms — the per-host window never goes global, and
    the delay table rides as a broadcast."""
    from tika_spark.sources.robots import fetch_schedule

    docs = _docs(spark, sf_dir)
    j = F.col("doc_id") % 20
    frontier = docs.select(
        F.concat(F.lit("https://h"), j, F.lit(".example/p"),
                 F.col("doc_id")).alias("url"),
        F.concat(F.lit("h"), j, F.lit(".example")).alias("host"),
        F.col("n_chars").cast("long").alias("priority"))
    meta = (docs.select(j.alias("j")).distinct()
            .select(F.concat(F.lit("h"), F.col("j"),
                             F.lit(".example")).alias("host"),
                    ((F.col("j") % 3) * 500 + 500).cast("long")
                    .alias("crawl_delay_ms")))
    return fetch_schedule(frontier, meta)


@query("frontier_robots", oracle=(
    "SELECT DISTINCT 'http://h' || (doc_id % 7) || '.ex/d' "
    "|| (doc_id % 20) AS url, "
    "(NOT ((doc_id % 20)::VARCHAR LIKE '1%') "
    "OR (doc_id % 20)::VARCHAR LIKE '12%') AS fetch_allowed "
    "FROM documents"))
def _q_frontier_robots(spark, sf_dir):
    """robots.txt frontier filtering (sources/robots.py): per-host
    rules broadcast against the candidate URL set; longest match
    wins, Allow beats Disallow on ties."""
    from tika_spark.sources.robots import frontier_filter, robots_rules
    docs = _docs(spark, sf_dir)
    urls = docs.select(F.concat(
        F.lit("http://h"), F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit(".ex/d"), F.pmod("doc_id", F.lit(20)).cast("string"))
        .alias("url"))
    hosts = (urls.select(F.regexp_extract("url", r"^http://([^/]+)", 1)
                         .alias("host")).distinct()
             .withColumn("robots_txt", F.lit(_ROBOTS_FIXTURE)))
    return frontier_filter(urls, robots_rules(hosts))


@query("html_tables", oracle=(
    "SELECT 'doc://' || doc_id AS url, 1::BIGINT AS table_idx, "
    "r.row_idx, 2::BIGINT AS n_cols, "
    "CASE r.row_idx WHEN 1 THEN 'k|v' "
    "WHEN 2 THEN 'id|' || doc_id "
    "ELSE 'lang|' || lang END AS cells_joined "
    "FROM documents, "
    "(VALUES (1::BIGINT), (2::BIGINT), (3::BIGINT)) "
    "r(row_idx)"))
def _q_html_tables(spark, sf_dir):
    """HTML table mining (analysis/tables.py): per-page grids as
    structured rows; cells pipe-joined for the hash compare."""
    from tika_spark.analysis.tables import html_tables
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.encode(F.concat(
        F.lit("<html><body><h1>T</h1><table><tr><th>k</th><th>v</th>"
              "</tr><tr><td>id</td><td>"), did,
        F.lit("</td></tr><tr><td>lang</td><td>"), F.col("lang"),
        F.lit("</td></tr></table></body></html>")), "UTF-8")
    pages = docs.select(
        F.concat(F.lit("doc://"), did).alias("url"), html.alias("html"))
    out = html_tables(pages)
    return out.select("url", "table_idx", "row_idx", "n_cols",
                      F.concat_ws("|", "cells").alias("cells_joined"))


@query("docs_shuffle_order", oracle=(
    "SELECT doc_id, ROW_NUMBER() OVER (ORDER BY "
    "md5(doc_id::VARCHAR), doc_id)::BIGINT AS shuffle_rank "
    "FROM documents"))
def _q_docs_shuffle_order(spark, sf_dir):
    """Deterministic corpus shuffle (curation.shuffle_order): global
    md5-keyed training order, retry-stable."""
    from tika_spark.analysis import curation
    return (curation.shuffle_order(_docs(spark, sf_dir))
            .select("doc_id", "shuffle_rank"))


@query("graph_crawl_priority", oracle=(
    "WITH pr AS (SELECT * FROM ("
    + _pagerank_oracle_sql(iterations=3) + ") s), "
    "inv AS (SELECT 'h' || (doc_id % 7) || '.ex' AS host, "
    "COUNT(*)::BIGINT AS n_docs, "
    "SUM(length(text))::BIGINT AS sum_chars "
    "FROM documents GROUP BY 1) "
    "SELECT pr.host, rank_micro, n_docs, sum_chars, "
    "(rank_micro // n_docs)::BIGINT AS priority_micro "
    "FROM pr JOIN inv ON pr.host = inv.host"))
def _q_graph_crawl_priority(spark, sf_dir):
    """Composed crawl-budget priority: host PageRank joined with the
    per-host stored-document rollup; priority = rank per already-held
    doc (all BIGINT — div floor both engines). The operator chain a
    real frontier scheduler runs: extract → link graph → centrality →
    join against the corpus inventory."""
    from tika_spark.analysis import webgraph
    hg = webgraph.host_graph(_graph_edges(spark, sf_dir))
    pr = webgraph.pagerank(hg, iterations=3)
    inv = (_docs(spark, sf_dir)
           .groupBy(F.concat(F.lit("h"),
                             F.pmod("doc_id", F.lit(7)).cast("string"),
                             F.lit(".ex")).alias("host"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("sum_chars")))
    return (pr.join(inv, "host")
            .select("host", "rank_micro", "n_docs", "sum_chars",
                    F.expr("rank_micro div n_docs").cast("long")
                    .alias("priority_micro")))
