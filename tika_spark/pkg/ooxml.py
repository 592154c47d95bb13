"""OOXML parsers: docx / xlsx / pptx via zip + stdlib XML (E8).

Reimplements the *output semantics* of the reference's OOXML chain
(tika-parsers/.../microsoft/ooxml/OOXMLParser.java:44-60,
OOXMLExtractorFactory.java — thin drivers over POI's
POIXMLTextExtractor decorators) directly from the published ECMA-376
part names, without POI:

- docx: ``word/document.xml`` — each ``w:p`` paragraph's ``w:t`` runs
  joined, one paragraph per line (POI XWPFWordExtractor shape); tab
  elements ``w:tab`` → TAB. Sub-document parts follow
  XWPFWordExtractorDecorator.java's emit order: section headers
  before the body, per-paragraph comments + footnotes/endnotes
  appended to the paragraph, section footers after the body.
- xlsx: ``xl/sharedStrings.xml`` + ``xl/worksheets/sheet*.xml`` —
  rows as TAB-separated cells, one row per line (the reference's
  Excel emit shape: <tr><td> through the C5 TAB/NEWLINE layout,
  microsoft/ExcelExtractor.java).
- pptx: ``ppt/slides/slide*.xml`` — each ``a:t`` run, one per line,
  slides in numeric order.

Core properties (``docProps/core.xml``: dc:title, dc:creator,
cp:keywords, dc:subject) map to metadata for all three.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_DC = "{http://purl.org/dc/elements/1.1/}"
_CP = ("{http://schemas.openxmlformats.org/package/2006/metadata/"
       "core-properties}")
_R = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
      "relationships}")
_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _core_metadata(zf: zipfile.ZipFile) -> dict[str, list[str]]:
    meta: dict[str, list[str]] = {}
    try:
        root = ET.fromstring(zf.read("docProps/core.xml"))
    except Exception:
        return meta
    for tag, key in ((_DC + "title", "title"), (_DC + "creator", "Author"),
                     (_DC + "subject", "subject"),
                     (_CP + "keywords", "Keywords")):
        el = root.find(tag)
        if el is not None and el.text:
            meta[key] = [el.text]
    return meta


def _docx_rels(zf: zipfile.ZipFile) -> dict[str, str]:
    """rId → zip part name, from ``word/_rels/document.xml.rels``."""
    return _part_rels(zf, "word/document.xml")


def _docx_notes(zf: zipfile.ZipFile, part: str, tag: str) \
        -> dict[str, str]:
    """``word/footnotes.xml`` / ``word/endnotes.xml``: note id →
    text. Separator/continuation stub notes are skipped. A note's
    paragraphs are concatenated with no separator — POI's
    XWPFParagraph footnote collector never clears its ``first`` flag,
    so multi-paragraph notes join bare; replicated for parity."""
    notes: dict[str, str] = {}
    try:
        root = ET.fromstring(zf.read(part))
    except Exception:
        return notes
    for note in root.iter(_W + tag):
        if note.get(_W + "type") in ("separator",
                                     "continuationSeparator"):
            continue
        nid = note.get(_W + "id")
        if nid is not None:
            notes[nid] = "".join(
                t.text for t in note.iter(_W + "t") if t.text)
    return notes


def _docx_comments(zf: zipfile.ZipFile) -> dict[str, tuple[str, str]]:
    """``word/comments.xml``: comment id → (author, text)."""
    comments: dict[str, tuple[str, str]] = {}
    try:
        root = ET.fromstring(zf.read("word/comments.xml"))
    except Exception:
        return comments
    for c in root.iter(_W + "comment"):
        cid = c.get(_W + "id")
        if cid is not None:
            comments[cid] = (c.get(_W + "author") or "",
                             "".join(t.text for t in c.iter(_W + "t")
                                     if t.text))
    return comments


def _docx_text(zf: zipfile.ZipFile) -> str:
    """Body + sub-document parts in the reference's emit order
    (microsoft/ooxml/XWPFWordExtractorDecorator.java buildXHTML):
    section headers (first/even/default page) before the body, then
    body paragraphs — each carrying its comment text
    (XWPFCommentsDecorator shape ``\\tComment by A: t``) and its
    footnote/endnote text (POI getFootnoteText shape ``[id: text] ``)
    — then the section footers; a paragraph with its own ``w:sectPr``
    additionally emits that section's headers before it and footers
    after it (extractParagraph's mid-document section handling)."""
    root = ET.fromstring(zf.read("word/document.xml"))
    rels = _docx_rels(zf)
    footnotes = _docx_notes(zf, "word/footnotes.xml", "footnote")
    endnotes = _docx_notes(zf, "word/endnotes.xml", "endnote")
    comments = _docx_comments(zf)
    lines: list[str] = []

    def para_line(p) -> str:
        parts: list[str] = []
        comment_txt: list[str] = []
        note_txt: list[str] = []
        for node in p.iter():
            tag = node.tag
            if tag == _W + "t" and node.text:
                parts.append(node.text)
            elif tag == _W + "tab":
                parts.append("\t")
            elif tag == _W + "br":
                parts.append("\n")
            elif tag == _W + "commentRangeStart":
                c = comments.get(node.get(_W + "id"))
                if c and c[1]:
                    comment_txt.append("\tComment by %s: %s" % c)
            elif tag == _W + "footnoteReference":
                note = footnotes.get(node.get(_W + "id"))
                if note is not None:
                    note_txt.append(
                        "[%s: %s] " % (node.get(_W + "id"), note))
            elif tag == _W + "endnoteReference":
                note = endnotes.get(node.get(_W + "id"))
                if note is not None:
                    note_txt.append(
                        "[%s: %s] " % (node.get(_W + "id"), note))
        return "".join(parts) + "".join(comment_txt) + "".join(note_txt)

    def emit_hf(sect, kind: str):
        # POI XWPFHeaderFooterPolicy emit order: first, even, default
        refs = {ref.get(_W + "type") or "default": ref.get(_R + "id")
                for ref in sect.findall(_W + kind)}
        for page in ("first", "even", "default"):
            part = rels.get(refs.get(page) or "")
            if not part:
                continue
            try:
                hroot = ET.fromstring(zf.read(part))
            except Exception:
                continue
            for p in hroot.iter(_W + "p"):
                lines.append(para_line(p))

    body = root.find(_W + "body")
    body_sect = body.find(_W + "sectPr") if body is not None else None
    if body_sect is not None:
        emit_hf(body_sect, "headerReference")
    for p in root.iter(_W + "p"):
        p_sect = p.find(_W + "pPr/" + _W + "sectPr")
        if p_sect is not None:
            emit_hf(p_sect, "headerReference")
        lines.append(para_line(p))
        if p_sect is not None:
            emit_hf(p_sect, "footerReference")
    if body_sect is not None:
        emit_hf(body_sect, "footerReference")
    return "".join(line + "\n" for line in lines)


def _part_rels(zf: zipfile.ZipFile, part: str) -> dict[str, str]:
    """rId → zip part name for any package part (targets resolved
    relative to the part's directory; ``..`` segments collapsed)."""
    d, _, base = part.rpartition("/")
    rels_name = (d + "/" if d else "") + "_rels/" + base + ".rels"
    rels: dict[str, str] = {}
    try:
        root = ET.fromstring(zf.read(rels_name))
    except Exception:
        return rels
    for rel in root.iter(_REL + "Relationship"):
        rid, tgt = rel.get("Id"), rel.get("Target")
        if not (rid and tgt):
            continue
        if tgt.startswith("/"):
            rels[rid] = tgt.lstrip("/")
            continue
        segs = (d.split("/") if d else []) + tgt.split("/")
        out: list[str] = []
        for s in segs:
            if s == "..":
                if out:
                    out.pop()
            elif s not in (".", ""):
                out.append(s)
        rels[rid] = "/".join(out)
    return rels


def _hf_text(code: str) -> str:
    """Excel header/footer markup → display text: &L/&C/&R section
    split, font (&\"..\"), size (&NN) and field (&P &D &T...) codes
    stripped, sections joined left + center + right (the POI
    ExcelExtractor._extractHeaderFooter shape the reference routes
    through, XSSFExcelExtractorDecorator.java:141-147)."""
    buf = {"L": [], "C": [], "R": []}
    cur = "C"
    i, n = 0, len(code)
    while i < n:
        ch = code[i]
        if ch == "&" and i + 1 < n:
            nxt = code[i + 1]
            if nxt.upper() in ("L", "C", "R"):
                cur = nxt.upper()
                i += 2
                continue
            if nxt == '"':
                j = code.find('"', i + 2)
                i = j + 1 if j >= 0 else n
                continue
            if nxt.isdigit():
                j = i + 1
                while j < n and code[j].isdigit():
                    j += 1
                i = j
                continue
            if nxt == "&":
                buf[cur].append("&")
                i += 2
                continue
            i += 2          # single-letter field code (&P &D &T ...)
            continue
        buf[cur].append(ch)
        i += 1
    left, center, right = ("".join(buf[k]) for k in ("L", "C", "R"))
    text = center
    if left:
        text = left + " " + text
    if right:
        text = text + " " + right
    return text.strip()


def _xlsx_sheets(zf: zipfile.ZipFile) -> list[tuple[str | None, str]]:
    """(sheet_name, part) in workbook order when xl/workbook.xml
    declares sheets; numeric part order with no names otherwise."""
    try:
        root = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = _part_rels(zf, "xl/workbook.xml")
        sheets = []
        for sh in root.iter(_S + "sheet"):
            part = rels.get(sh.get(_R + "id") or "")
            if part and part in zf.namelist():
                sheets.append((sh.get("name"), part))
        if sheets:
            return sheets
    except Exception:
        pass
    return [(None, n) for n in sorted(
        (n for n in zf.namelist()
         if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
        key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[1]).group()))]


def _xlsx_comments(zf: zipfile.ZipFile, sheet_part: str) \
        -> dict[str, tuple[str, str]]:
    """cell ref → (author, text) from the sheet's comments part."""
    out: dict[str, tuple[str, str]] = {}
    for part in _part_rels(zf, sheet_part).values():
        if "comments" not in part.rsplit("/", 1)[-1]:
            continue
        try:
            root = ET.fromstring(zf.read(part))
        except Exception:
            continue
        authors = [a.text or "" for a in root.iter(_S + "author")]
        for c in root.iter(_S + "comment"):
            ref = c.get("ref")
            if not ref:
                continue
            ai = int(c.get("authorId") or 0)
            author = authors[ai] if ai < len(authors) else ""
            out[ref] = (author, "".join(
                t.text or "" for t in c.iter(_S + "t")))
    return out


def _xlsx_text(zf: zipfile.ZipFile) -> str:
    """Sheet name heading, rows as TAB-joined cells, then the sheet's
    stripped headers and footers — XSSFExcelExtractorDecorator.java
    buildXHTML order (h1 name → table → headers → footers); a cell
    comment follows its cell as NEWLINE + 'author: text'
    (SheetTextAsHTML.cell)."""
    shared: list[str] = []
    try:
        sroot = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in sroot.iter(_S + "si"):
            shared.append("".join(t.text or "" for t in si.iter(_S + "t")))
    except KeyError:
        pass
    out = []
    for sheet_name, part in _xlsx_sheets(zf):
        root = ET.fromstring(zf.read(part))
        comments = _xlsx_comments(zf, part)
        if sheet_name:
            out.append(sheet_name + "\n")
        for row in root.iter(_S + "row"):
            cells = []
            for c in row.iter(_S + "c"):
                v = c.find(_S + "v")
                raw = v.text if v is not None and v.text else ""
                if c.get("t") == "s" and raw.isdigit():
                    idx = int(raw)
                    raw = shared[idx] if idx < len(shared) else ""
                elif c.get("t") == "inlineStr":
                    raw = "".join(t.text or ""
                                  for t in c.iter(_S + "t"))
                note = comments.get(c.get("r") or "")
                if note:
                    raw += "\n%s: %s" % note
                cells.append(raw)
            out.append("\t".join(cells) + "\n")
        headers, footers = [], []
        for hf in root.iter(_S + "headerFooter"):
            for el in hf:
                tag = el.tag.rsplit("}", 1)[-1]
                txt = _hf_text(el.text or "")
                if not txt:
                    continue
                if tag.endswith("Header"):
                    headers.append(txt)
                elif tag.endswith("Footer"):
                    footers.append(txt)
        out.extend(h + "\n" for h in headers)
        out.extend(f + "\n" for f in footers)
    return "".join(out)


def _pptx_text(zf: zipfile.ZipFile) -> str:
    """Per slide: shape text, then slide comments, then the notes
    slide's shape text — XSLFPowerPointExtractorDecorator.java
    buildXHTML order (shapes → comments → notes). Comments and notes
    parts resolve through each slide's relationships."""
    slides = sorted(
        (n for n in zf.namelist()
         if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
        key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[1]).group()))
    _P = ("{http://schemas.openxmlformats.org/presentationml/2006/"
          "main}")
    out = []
    for name in slides:
        root = ET.fromstring(zf.read(name))
        for t in root.iter(_A + "t"):
            if t.text:
                out.append(t.text + "\n")
        rels = _part_rels(zf, name)
        notes_parts = [p for p in rels.values()
                       if "/notesSlides/" in p and p in zf.namelist()]
        comment_parts = [p for p in rels.values()
                         if "/comments/" in p and p in zf.namelist()]
        for part in comment_parts:
            try:
                croot = ET.fromstring(zf.read(part))
            except Exception:
                continue
            for cm in croot.iter(_P + "cm"):
                txt = "".join(t.text or "" for t in cm.iter(_P + "text"))
                if txt:
                    out.append(txt + "\n")
        for part in notes_parts:
            try:
                nroot = ET.fromstring(zf.read(part))
            except Exception:
                continue
            for t in nroot.iter(_A + "t"):
                if t.text:
                    out.append(t.text + "\n")
    return "".join(out)


# package parts that are embedded resources (POI's embedded-resource
# surface: pictures under media/, OLE/raw objects under embeddings/ —
# OOXMLContainerExtractionTest expectations)
_CHILD_RE = re.compile(
    r"^(?:word|xl|ppt)/(?:media|embeddings)/([^/]+)$")
_MAX_CHILDREN = 64


def _package_children(zf: zipfile.ZipFile) -> list[tuple[str, bytes]]:
    out: list[tuple[str, bytes]] = []
    for name in zf.namelist():
        m = _CHILD_RE.match(name)
        if not m:
            continue
        if len(out) >= _MAX_CHILDREN:
            break
        try:
            out.append((m.group(1), zf.read(name)))
        except Exception:
            continue
    return out


def extract_ooxml(data: bytes, url: str | None = None,
                  declared_type: str | None = None,
                  config: ExtractConfig = _DEFAULT,
                  mime: str = "") -> dict:
    data = bytes(data or b"")
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        metadata = _core_metadata(zf)
        # family dispatch covers the macro-enabled/template variants
        # too (vnd.ms-word.* / vnd.ms-excel.* / vnd.ms-powerpoint.*,
        # OOXMLParser.java:44-60) — same part names, same extraction
        if "wordprocessingml" in mime or "ms-word" in mime \
                or "word/document.xml" in zf.namelist():
            text = _docx_text(zf)
        elif "spreadsheetml" in mime or "ms-excel" in mime \
                or "xl/workbook.xml" in zf.namelist():
            text = _xlsx_text(zf)
        else:
            text = _pptx_text(zf)
        children = _package_children(zf)
    text = safe_chars(text)
    return {
        "charset": None,
        "title": metadata.get("title", [None])[0],
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": {**metadata, "Content-Type": [mime or "application/zip"]},
        "status": "ok",
        "children": children,
    }
