"""EPUB parser: zip of XHTML chapters (E10).

Reimplements the reference's EpubParser semantics
(tika-parsers/.../epub/EpubParser.java:43-44, EpubContentParser):
every ``.xhtml``/``.html``/``.htm`` member is parsed through the HTML
extraction chain (C1-C5) and the chapter texts are concatenated in
archive order; OPF/NCX metadata files contribute dc:* metadata.
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
import zipfile

from tika_spark.config import ExtractConfig
from tika_spark.html.extract import extract_html

_DEFAULT = ExtractConfig()

_DC = "{http://purl.org/dc/elements/1.1/}"

_CHAPTER_EXT = (".xhtml", ".html", ".htm")


def extract_epub(data: bytes, url: str | None = None,
                 declared_type: str | None = None,
                 config: ExtractConfig = _DEFAULT) -> dict:
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {
        "Content-Type": ["application/epub+zip"]}
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    links: list = []
    pos = 0
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for name in zf.namelist():
            low = name.lower()
            if low.endswith(".opf") or low.endswith(".ncx"):
                try:
                    root = ET.fromstring(zf.read(name))
                    for tag, key in ((_DC + "title", "title"),
                                     (_DC + "creator", "Author"),
                                     (_DC + "language", "language")):
                        el = next(iter(root.iter(tag)), None)
                        if el is not None and el.text:
                            metadata.setdefault(key, []).append(el.text)
                except Exception:
                    pass
            elif low.endswith(_CHAPTER_EXT):
                r = extract_html(zf.read(name), url, None, config)
                chapter = r["text"]
                spans.extend((pos + s, pos + e, k)
                             for (s, e, k) in r.get("spans", []))
                links.extend(r.get("links", []))
                parts.append(chapter)
                pos += len(chapter)
    text = "".join(parts)
    return {
        "charset": None,
        "title": metadata.get("title", [None])[0],
        "text": text,
        "spans": spans,
        "links": links,
        "metadata": metadata,
        "status": "ok",
    }
