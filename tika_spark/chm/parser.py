"""CHM extraction operator (SURVEY.md §2 E11).

Mirrors the reference's ChmParser output semantics
(tika-parsers/.../chm/ChmParser.java, CHMDocumentInformation.java:
94, 140-163): every ``.html``/``.htm`` directory entry is run through
the HTML extraction chain and the texts are concatenated in directory
order; per-entry spans mark the boundaries. Non-HTML entries are
ignored for text (as the reference does) but counted in metadata.
"""

from __future__ import annotations

from tika_spark.chm.itsf import ChmError, ChmFile
from tika_spark.config import ExtractConfig
from tika_spark.html.extract import extract_html
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()


def extract_chm(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT) -> dict:
    """Extract one CHM help file. Never raises on content."""
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {
        "Content-Type": ["application/x-chm"]}
    try:
        chm = ChmFile(data)
    except Exception as e:
        return {"charset": None, "title": None, "text": "", "spans": [],
                "links": [], "metadata": metadata, "status": "error",
                "error": f"chm: {e!r}"}

    entries = chm.content_entries()
    html_entries = [e for e in entries
                    if e.name.lower().endswith((".html", ".htm"))]
    metadata["chm:entry-count"] = [str(len(entries))]

    pieces: list[str] = []
    spans: list[tuple[int, int, str]] = []
    links: list[tuple[str, str, str, str]] = []
    title = None
    pos = 0
    err = None
    for e in html_entries:
        try:
            payload = chm.read_entry(e)
            r = extract_html(payload, url, None, config)
        except Exception as exc:  # a bad entry must not sink the doc
            err = f"chm entry {e.name}: {exc!r}"
            continue
        t = r["text"]
        pieces.append(t)
        spans.append((pos, pos + len(t), "chm-entry"))
        pos += len(t)
        links.extend(r["links"])
        if title is None and r["title"]:
            title = r["title"]

    text = safe_chars("".join(pieces))
    status = "ok" if html_entries else "metadata_only"
    out = {"charset": None, "title": title, "text": text,
           "spans": spans,
           "links": links, "metadata": metadata, "status": status}
    if err:
        out["error"] = err[:1000]
    return out
