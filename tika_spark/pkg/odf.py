"""OpenDocument parser: odt / ods / odp via zip + stdlib XML (E9).

Reimplements the output semantics of the reference's
OpenDocumentParser (tika-parsers/.../odf/OpenDocumentParser.java:46-79:
``meta.xml`` → metadata, ``content.xml`` → text through
OpenDocumentContentParser): ``text:p`` and ``text:h`` elements become
one line each; ``text:tab`` → TAB, ``text:line-break`` → newline,
``text:s`` → its count in spaces; table rows emit TAB-separated cells
(matching the C5 layout contract for <tr><td>).
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
import zipfile

from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()

_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_DC = "{http://purl.org/dc/elements/1.1/}"
_META = "{urn:oasis:names:tc:opendocument:xmlns:meta:1.0}"


def _flat_text(el) -> str:
    parts = [el.text or ""]
    for child in el:
        tag = child.tag
        if tag == _TEXT + "tab":
            parts.append("\t")
        elif tag == _TEXT + "line-break":
            parts.append("\n")
        elif tag == _TEXT + "s":
            parts.append(" " * int(child.get(_TEXT + "c", "1")))
        else:
            parts.append(_flat_text(child))
        parts.append(child.tail or "")
    return "".join(parts)


def _walk(el, out: list[str]):
    for child in el:
        tag = child.tag
        if tag in (_TEXT + "p", _TEXT + "h"):
            out.append(_flat_text(child) + "\n")
        elif tag == _TABLE + "table-row":
            cells = [_flat_text(c).replace("\n", " ")
                     for c in child if c.tag == _TABLE + "table-cell"]
            out.append("\t".join(cells) + "\n")
        else:
            _walk(child, out)


def _metadata(zf: zipfile.ZipFile) -> dict[str, list[str]]:
    meta: dict[str, list[str]] = {}
    try:
        root = ET.fromstring(zf.read("meta.xml"))
    except Exception:
        return meta
    for tag, key in ((_DC + "title", "title"), (_DC + "creator", "Author"),
                     (_DC + "subject", "subject"),
                     (_META + "keyword", "Keywords")):
        for el in root.iter(tag):
            if el.text:
                meta.setdefault(key, []).append(el.text)
    return meta


def extract_odf(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT,
                mime: str = "") -> dict:
    data = bytes(data or b"")
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        metadata = _metadata(zf)
        root = ET.fromstring(zf.read("content.xml"))
        lines: list[str] = []
        _walk(root, lines)
    text = safe_chars("".join(lines))
    return {
        "charset": None,
        "title": metadata.get("title", [None])[0],
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": {**metadata,
                     "Content-Type": [mime or
                                      "application/vnd.oasis."
                                      "opendocument.text"]},
        "status": "ok",
    }


def extract_flat_odf(data: bytes, url: str | None = None,
                     declared_type: str | None = None,
                     config: ExtractConfig = _DEFAULT,
                     mime: str = "") -> dict:
    """Flat (single-XML) OpenDocument: the whole document is one
    ``office:document`` element carrying content + meta inline
    (.fodt/.fods/.fodp — the reference's FlatOpenDocumentParser).
    Reuses the zip-ODF content walker and metadata tag map."""
    data = bytes(data or b"")
    try:
        root = ET.fromstring(data)
    except Exception as e:
        return {"charset": None, "title": None, "text": "", "spans": [],
                "links": [], "metadata": {"Content-Type": [mime or
                                          "application/xml"]},
                "status": "error", "error": f"flat-odf: {e!r}"[:500]}
    metadata: dict[str, list[str]] = {}
    for tag, key in ((_DC + "title", "title"),
                     (_DC + "creator", "Author"),
                     (_DC + "subject", "subject"),
                     (_META + "keyword", "Keywords")):
        for el in root.iter(tag):
            if el.text:
                metadata.setdefault(key, []).append(el.text)
    lines: list[str] = []
    _walk(root, lines)
    text = safe_chars("".join(lines))
    return {
        "charset": None,
        "title": metadata.get("title", [None])[0],
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": {**metadata, "Content-Type": [
            mime or "application/vnd.oasis.opendocument.flat.text"]},
        "status": "ok",
    }
