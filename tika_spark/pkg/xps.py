"""XPS / OpenXPS parser (reference: tika's XPS extraction surface —
xps/XPSTextExtractor path): the package is a zip of FixedPage XML
parts; text lives in <Glyphs UnicodeString="..."> runs.

Page order follows the package part naming (Pages/N.fpage sorted
numerically); each Glyphs run emits one line, matching the
one-text-run-per-line shape of the reference extractor. Metadata from
the OPC CoreProperties part when present.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()

_PAGE_NUM_RE = re.compile(r"(\d+)\.fpage$", re.IGNORECASE)
_DC = "{http://purl.org/dc/elements/1.1/}"


def _page_key(name: str):
    m = _PAGE_NUM_RE.search(name)
    return (name.rsplit("/", 1)[0], int(m.group(1)) if m else 0, name)


def extract_xps(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT,
                mime: str = "") -> dict:
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {
        "Content-Type": [mime or "application/vnd.ms-xpsdocument"]}
    lines: list[str] = []
    title = None
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            names = zf.namelist()
            core = [n for n in names
                    if n.lower().endswith("core.xml")]
            if core:
                try:
                    root = ET.fromstring(zf.read(core[0]))
                    for tag, key in ((_DC + "title", "title"),
                                     (_DC + "creator", "Author")):
                        for el in root.iter(tag):
                            if el.text:
                                metadata.setdefault(key, []) \
                                    .append(el.text)
                    title = metadata.get("title", [None])[0]
                except Exception:
                    pass
            pages = sorted((n for n in names
                            if n.lower().endswith(".fpage")),
                           key=_page_key)
            truncated = len(pages) > 1000
            for n in pages[:1000]:
                try:
                    root = ET.fromstring(zf.read(n))
                except Exception:
                    continue
                for el in root.iter():
                    if el.tag.rsplit("}", 1)[-1] == "Glyphs":
                        s = el.get("UnicodeString")
                        if s:
                            lines.append(s + "\n")
    except Exception as e:
        return {"charset": None, "title": None, "text": "",
                "spans": [], "links": [], "metadata": metadata,
                "status": "error", "error": f"xps: {e!r}"[:500]}
    text = safe_chars("".join(lines))
    return {
        "charset": None,
        "title": title,
        "text": text,
        "spans": [(0, len(text), "body")] if text else [],
        "links": [],
        "metadata": metadata,
        # the 1000-page cap must be observable, not a silent 'ok' (same
        # contract as pkg/parser.py's MAX_PKG_ENTRIES)
        "status": "output_limit" if truncated else "ok",
    }
