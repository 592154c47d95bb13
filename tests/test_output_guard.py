"""The one output guard (SURVEY.md §2 F4) and the input-cap boundary.

- every route in ``stages._EXTRACTORS`` honours ``write_limit`` through
  ``process_batch``: truncated text, spans inside it, status
  ``write_limit``;
- the ratio cap and ``write_limit`` are computed only in ``config.py``
  and the guard;
- ``max_input_bytes`` at cap-1 / cap / cap+1 inside multi-byte
  sequences, a surrogate pair, ``<script>``, an entity and a comment
  gives one well-formed ``input_capped`` row.
"""

import io
import pathlib
import re
import struct
import zipfile

import pandas as pd
import pytest

from tika_spark.config import MODES, ExtractConfig, output_budget
from tika_spark.fixtures.dbgen import make_dbf, make_sqlite
from tika_spark.fixtures.olegen import make_doc
from tika_spark.fixtures.pages import _BUILDERS
from tika_spark.pipeline import stages
from tika_spark.pipeline.stages import (guard_output, process_batch,
                                        route_for_mime)

W = 10  # write limit below every fixture's text length

EML = (b"From: a@example.com\r\nSubject: Guard test\r\n"
       b"Content-Type: text/plain; charset=utf-8\r\n\r\n"
       b"The body of the guarded message.\n")


def _zip(entries: dict) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries.items():
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def _page(variant: str) -> tuple[str, bytes]:
    row = _BUILDERS[variant](7, 42, "en")
    return "doc://guard" + row.get("ext", ".html"), row["html"]


def _tnef() -> bytes:
    def attr(attr_id: int, attr_type: int, payload: bytes) -> bytes:
        return (bytes([1]) + struct.pack("<HHI", attr_id, attr_type,
                                         len(payload))
                + payload + struct.pack("<H", sum(payload) & 0xFFFF))
    return (struct.pack("<IH", 0x223E9F78, 0x1234)
            + attr(0x8004, 0x0001, b"Guarded subject\x00")
            + attr(0x800C, 0x0002, b"Guarded TNEF body text\x00"))


def _prt() -> bytes:
    note = b"A note long enough to cap\x00"
    return (b"\x00" * 30 + b"202401151230" + b"\x00" * 500
            + b"\x10\x20\x30" + b"\x33" * 5 + b"\xe3\x3f"
            + bytes(range(10)) + b"\x1f"
            + len(note).to_bytes(2, "little") + note)


_ODF_NS = ('xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
           'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"')
_IWORK_NS = ('xmlns:sl="http://developer.apple.com/namespaces/sl" '
             'xmlns:sf="http://developer.apple.com/namespaces/sf"')
_FOXMAIL_MARK = b"\x10" * 7 + b"\x11" * 6

FIXTURES = {
    "html": _page("html_plain"),
    "pdf": _page("pdf_simple"),
    "xml": _page("xml_dc"),
    "feed": _page("rss"),
    "txt": _page("txt_utf8"),
    "rtf": _page("rtf_doc"),
    "rfc822": _page("eml_msg"),
    "pkg": _page("zip_archive"),
    "ooxml": _page("docx_doc"),
    "chm": _page("chm_help"),
    "ole": ("doc://guard.doc", make_doc(["A paragraph of Word text."])),
    "mbox": ("doc://guard.mbox",
             b"From a Mon Aug 10 10:00:00 2026\n" + EML
             + b"\nFrom a Tue Aug 11 11:00:00 2026\n" + EML),
    "foxmail": ("doc://guard.box",
                (_FOXMAIL_MARK + b"S\r\n" + EML) * 2),
    "tnef": ("doc://winmail.dat", _tnef()),
    "media": ("doc://guard.png",
              b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
              + struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0) + b"\0" * 4),
    "odf": ("doc://guard.odt", _zip({
        "mimetype": "application/vnd.oasis.opendocument.text",
        "content.xml": f"<office:document-content {_ODF_NS}><office:body>"
                       "<office:text><text:p>Open document body text"
                       "</text:p></office:text></office:body>"
                       "</office:document-content>"})),
    "flat_odf": ("doc://guard.fodt", (
        f'<?xml version="1.0"?><office:document {_ODF_NS} office:mimetype='
        '"application/vnd.oasis.opendocument.text"><office:body>'
        "<office:text><text:p>Flat open document text</text:p>"
        "</office:text></office:body></office:document>").encode()),
    "epub": ("doc://guard.epub", _zip({
        "mimetype": "application/epub+zip",
        "ch1.xhtml": "<html><body><p>Chapter one of the book</p>"
                     "</body></html>"})),
    "xps": ("doc://guard.xps", _zip({
        "FixedDocSeq.fdseq": "<FixedDocumentSequence/>",
        "Documents/1/Pages/1.fpage":
            '<FixedPage><Glyphs UnicodeString="Glyph run of page one"/>'
            "</FixedPage>"})),
    "prt": ("doc://guard.prt", _prt()),
    "iwork": ("doc://guard.pages", _zip({
        "buildVersionHistory.plist": "<plist/>",
        "index.xml": f'<?xml version="1.0"?><sl:document {_IWORK_NS}>'
                     "<sf:page-start/><sf:p>An iWork paragraph</sf:p>"
                     "</sl:document>"})),
    "sqlite": ("doc://guard.sqlite", make_sqlite(
        [("t", ["a", "b"], [(1, "first row"), (2, "second row")])])),
    "dbf": ("doc://guard.dbf", make_dbf(
        [("NAME", "C", 12)], [("alpha beta",), ("gamma delta",)])),
    "subtitle": ("doc://guard.srt",
                 b"1\n00:00:01,000 --> 00:00:02,000\n"
                 b"A subtitle cue line\n\n"),
}

# routes whose fixture yields no body text (metadata-only rows)
NO_TEXT_ROUTES = {"media"}


def _run(url: str, payload: bytes, config: ExtractConfig):
    out = process_batch(pd.DataFrame({"url": [url], "html": [payload]}),
                        config)
    assert len(out) == 1
    return out.iloc[0]


def test_every_extractor_has_a_fixture():
    assert set(FIXTURES) == set(stages._EXTRACTORS)


@pytest.mark.parametrize("route", sorted(FIXTURES))
def test_write_limit_caps_every_route(route):
    url, payload = FIXTURES[route]
    free = _run(url, payload, ExtractConfig())
    assert route_for_mime(free["mime"]) == route
    # below both caps the row is untouched
    roomy = _run(url, payload, ExtractConfig(write_limit=10_000))
    assert roomy["text"] == free["text"]
    assert roomy["status"] == free["status"]
    assert list(roomy["spans"]) == list(free["spans"])
    capped = _run(url, payload, ExtractConfig(write_limit=W))
    if route in NO_TEXT_ROUTES:
        assert free["text"] == "" and capped["status"] == free["status"]
        return
    assert len(free["text"]) > W and free["status"] == "ok"
    assert capped["status"] == "write_limit"
    assert capped["text"] == free["text"][:W]
    for span in capped["spans"]:
        assert span["start"] < W and span["end"] <= len(capped["text"])


def test_guard_picks_the_smaller_cap():
    budget = output_budget(10)
    spans = [(0, budget + 5, "p"), (budget, budget + 9, "p")]
    r = {"text": "x" * (budget + 10), "spans": spans, "status": "ok"}
    guard_output(r, 10, write_limit=0)
    assert r["status"] == "output_limit" and len(r["text"]) == budget
    assert r["spans"] == [(0, budget, "p")]
    r = {"text": "x" * (budget + 10), "spans": spans, "status": "ok"}
    guard_output(r, 10, write_limit=budget + 1)  # the ratio cap is smaller
    assert r["status"] == "output_limit"
    r = {"text": "abcdef", "spans": [(0, 6, "p")], "status": "ok"}
    guard_output(r, 10, write_limit=4)
    assert r == {"text": "abcd", "spans": [(0, 4, "p")],
                 "status": "write_limit"}


def test_caps_are_computed_only_in_config_and_the_guard():
    root = pathlib.Path(stages.__file__).parents[1]
    allowed = {"config.py", "pipeline/stages.py"}
    budget_users = allowed | {"pkg/parser.py", "dbparse.py"}
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        src = path.read_text(encoding="utf-8")
        if rel not in allowed:
            assert not re.search(
                r"\b(write_limit|OUTPUT_RATIO|OUTPUT_MIN_CHARS)\b", src), rel
        if rel not in budget_users:
            assert "output_budget" not in src, rel


def test_extract_config_rejects_unknown_mode():
    assert "text-main-readability" in MODES and "markdown" in MODES
    with pytest.raises(ValueError):
        ExtractConfig(mode="text_main")


# ------------------------------------------------ input-cap boundary

_EMOJI = "\U0001F600"


def _cut_inside(url: str, payload: bytes, marker: bytes, offset: int):
    """(url, payload, point): ``point`` = ``offset`` bytes into
    ``marker``."""
    return url, payload, payload.index(marker) + offset


def _html(body: str) -> bytes:
    return (f'<html><head><meta charset="utf-8"><title>t</title></head>'
            f"<body><p>lead text</p>{body}<p>tail text</p></body></html>"
            ).encode("utf-8")


def _txt(body: str, encoding: str, bom: str = "") -> bytes:
    return (bom + "plain text " * 20 + body + " more" * 20).encode(encoding)


BOUNDARY_CASES = {
    # 4-byte UTF-8 sequence: cap-1 / cap / cap+1 all fall inside it
    "utf8_html": _cut_inside("doc://b.html", _html(f"<p>a{_EMOJI}b é€</p>"),
                             _EMOJI.encode(), 2),
    "utf8_txt": _cut_inside("doc://b.txt", _txt(f"a{_EMOJI}b é€", "utf-8"),
                            _EMOJI.encode(), 2),
    # UTF-16 surrogate pair: the cut lands between the two halves
    "utf16_surrogate": _cut_inside(
        "doc://b.txt", _txt(f"a{_EMOJI}b", "utf-16-le", bom="\ufeff"),
        _EMOJI.encode("utf-16-le"), 2),
    "script": _cut_inside("doc://b.html",
                          _html("<script>var s = '<p>x</p>';</script>"),
                          b"var s", 3),
    "entity": _cut_inside("doc://b.html",
                          _html("<p>a &amp; b &#x1F600; c</p>"),
                          b"&#x1F600;", 4),
    "comment": _cut_inside("doc://b.html",
                           _html("<!-- a <p>hidden</p> comment -->"),
                           b"hidden", 2),
}


@pytest.mark.parametrize("case", sorted(BOUNDARY_CASES))
@pytest.mark.parametrize("delta", [-1, 0, 1])
def test_input_cap_boundary(case, delta):
    url, payload, point = BOUNDARY_CASES[case]
    row = _run(url, payload, ExtractConfig(max_input_bytes=point + delta))
    assert route_for_mime(row["mime"]) == url.rsplit(".", 1)[1]
    assert isinstance(row["text"], str)
    assert row["status"] == "input_capped"


@pytest.mark.parametrize("delta,capped", [(-1, True), (0, False),
                                          (1, False)])
def test_input_cap_at_payload_length(delta, capped):
    payload = _html(f"<p>a{_EMOJI}b</p>")
    row = _run("doc://b.html", payload,
               ExtractConfig(max_input_bytes=len(payload) + delta))
    assert isinstance(row["text"], str)
    assert (row["status"] == "input_capped") == capped
