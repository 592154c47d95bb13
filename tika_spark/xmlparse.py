"""XML, Dublin Core, and RSS/Atom feed parsers (E2, E3).

Reimplements the semantics of the reference's XML chain:

- XMLParser (tika-parsers/.../xml/XMLParser.java:37-82): all character
  content concatenated (TextContentHandler) into a single paragraph
  -> text + '\\n'; external entities never resolved.
- DcXMLParser (xml/DcXMLParser.java:30-55): ``dc:*`` elements mapped to
  metadata keys (title, creator, subject, description, publisher,
  contributor, date, type, format, identifier, language, rights).
- FeedParser (feed/FeedParser.java:60-122): channel title -> <h1>,
  description -> <p>, then a <ul> of entries — each linked entry is a
  <li> with anchored title, newline, description; tags inside feed
  text are stripped. Output shape through the XHTML layout contract:
  title\\n description\\n then '\\t{entry}\\n{desc}\\n' per entry + '\\n'.

Parsing uses stdlib ElementTree with resolve_entities disabled by
construction (no DTD processing at all); malformed XML -> status row,
never an exception (the fleet must not fail — SURVEY.md §2 H1).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from tika_spark import charset as cs
from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()

_DC_NS = "http://purl.org/dc/elements/1.1/"
_DC_KEYS = frozenset(
    "title creator subject description publisher contributor date type "
    "format identifier language rights".split())
_TAG_STRIP_RE = re.compile(r"<[^>]*>")
_ENTITY_RE = re.compile(rb"<!ENTITY", re.IGNORECASE)


def _local(tag: str) -> tuple[str, str]:
    """(namespace, localname) of an ElementTree tag."""
    if tag.startswith("{"):
        ns, _, local = tag[1:].partition("}")
        return ns, local
    return "", tag


def _parse_bytes(data: bytes) -> ET.Element | None:
    if _ENTITY_RE.search(data[:4096]):
        return None  # refuse DTD entity declarations (XXE/billion-laughs)
    try:
        return ET.fromstring(data)
    except ET.ParseError:
        return None


def extract_xml(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT) -> dict:
    """Generic XML + Dublin Core extraction."""
    data = bytes(data or b"")
    charset = cs.bom_charset(data) or "utf-8"
    root = _parse_bytes(data)
    if root is None:
        return _error_result(charset, "malformed xml")

    metadata: dict[str, list[str]] = {"Content-Type": ["application/xml"]}
    _, root_local = _local(root.tag)
    # FictionBook: base64 <binary> blobs (cover art, embedded images —
    # megabytes in real .fb2 files) must never reach the text, and
    # <book-title> is the document title (xml/FictionBookParser.java
    # skips binary; TIKA's fb2 type maps book-title → dc:title)
    fb2 = root_local == "FictionBook"
    for el in root.iter():
        ns, local = _local(el.tag)
        if ns == _DC_NS and local in _DC_KEYS and el.text and el.text.strip():
            key = "title" if local == "title" else f"dc:{local}"
            metadata.setdefault(key, []).append(el.text.strip())
        elif fb2 and local == "book-title" and el.text and el.text.strip():
            metadata.setdefault("title", []).append(el.text.strip())

    # non-content subtrees by root vocabulary: FB2 base64 binaries;
    # SVG style/script/metadata (CSS, JS and RDF are not document
    # text — the HTML chain discards the same subtrees)
    drop = {"binary"} if fb2 else \
        {"style", "script", "metadata"} if root_local == "svg" else None
    if drop:
        for parent in root.iter():
            for child in list(parent):
                if _local(child.tag)[1] in drop:
                    parent.remove(child)
    pieces = [t for t in root.itertext()]
    text = safe_chars("".join(pieces))
    title = metadata.get("title", [None])[0]
    return {
        "charset": charset, "title": title,
        "text": text + "\n",
        "spans": [(0, len(text), "p")],
        "links": [], "metadata": metadata, "status": "ok",
    }


def extract_feed(data: bytes, url: str | None = None,
                 declared_type: str | None = None,
                 config: ExtractConfig = _DEFAULT) -> dict:
    """RSS 2.0 / Atom 1.0 extraction with the FeedParser output shape."""
    data = bytes(data or b"")
    charset = cs.bom_charset(data) or "utf-8"
    root = _parse_bytes(data)
    if root is None:
        return _error_result(charset, "malformed feed")

    _, root_local = _local(root.tag)
    entries: list[tuple[str, str, str]] = []  # (link, title, description)
    if root_local == "rss":
        channel = root.find("channel")
        title = _text_of(channel, "title")
        description = _text_of(channel, "description")
        for item in (channel.findall("item") if channel is not None else []):
            entries.append((_text_of(item, "link"),
                            _text_of(item, "title"),
                            _text_of(item, "description")))
    elif root_local == "feed":  # Atom
        ns = "{http://www.w3.org/2005/Atom}"
        title = _first_text(root, ns + "title")
        description = _first_text(root, ns + "subtitle")
        for item in root.findall(ns + "entry"):
            link_el = item.find(ns + "link")
            link = link_el.get("href", "") if link_el is not None else ""
            entries.append((link,
                            _first_text(item, ns + "title"),
                            _first_text(item, ns + "summary")))
    else:
        return extract_xml(data, url, declared_type, config)

    title = _strip_tags(title)
    description = _strip_tags(description)
    pieces = [title, "\n", description, "\n"]
    links = []
    spans = [(0, len(title), "h1")]
    pos = len(title) + 1 + len(description) + 1
    for link, etitle, edesc in entries:
        if not link:
            continue
        etitle, edesc = _strip_tags(etitle), _strip_tags(edesc)
        entry_txt = "\t" + etitle + ("\n" + edesc if edesc else "")
        pieces.append(entry_txt + "\n")
        spans.append((pos + 1, pos + len(entry_txt), "li"))
        pos += len(entry_txt) + 1
        links.append(("a", link, "", etitle))
    pieces.append("\n")  # </ul>

    text = safe_chars("".join(pieces))
    metadata = {"title": [title], "description": [description]}
    return {
        "charset": charset, "title": title, "text": text,
        "spans": spans, "links": links, "metadata": metadata,
        "status": "ok",
    }


def _text_of(parent, tag: str) -> str:
    if parent is None:
        return ""
    el = parent.find(tag)
    return (el.text or "").strip() if el is not None else ""


def _first_text(parent, tag: str) -> str:
    el = parent.find(tag)
    return (el.text or "").strip() if el is not None else ""


def _strip_tags(value: str) -> str:
    return _TAG_STRIP_RE.sub("", value or "").strip()


def _error_result(charset: str, err: str) -> dict:
    return {
        "charset": charset, "title": None, "text": "", "spans": [],
        "links": [], "metadata": {}, "status": "error", "error": err,
    }
