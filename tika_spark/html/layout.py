"""XHTML layout serialization: DOM -> plain text + spans + links.

This is the load-bearing whitespace contract for byte-identical text
(reference: tika-core/.../sax/XHTMLContentHandler.java:44-76):

- a TAB is emitted before each of  li, dd, dt, td, th, frame;
- a NEWLINE is emitted after each of  p, h1-h6, div, ul, ol, dl, pre,
  hr, blockquote, address, fieldset, table, form, noscript, li, dt,
  dd, noframes, br, tr, select, option;
- character data is emitted as-is (no collapsing);
- unmapped elements whose name is in the ENDLINE set still contribute
  the newline (TIKA-343, HtmlHandler.java:217-245);
- script/style subtrees are discarded entirely;
- invalid-XML characters are replaced with U+FFFD
  (SafeContentHandler.java:114-141).

The single walk also collects links (LinkContentHandler semantics:
<a href> with nested anchor text incl. img alt, <img src> with alt)
and per-block spans (start, end, tag) into the emitted text.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlparse, urlunparse

from tika_spark.html import mapper
from tika_spark.html.dom import El

INDENT = frozenset({"li", "dd", "dt", "td", "th", "frame"})
ENDLINE = frozenset(
    "p h1 h2 h3 h4 h5 h6 div ul ol dl pre hr blockquote address fieldset "
    "table form noscript li dt dd noframes br tr select option".split())

# block-level tags that delimit spans in the output text
_SPAN_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 pre blockquote li dt dd td th address".split())

# invalid XML chars -> U+FFFD (SafeContentHandler valid set)
_INVALID_XML_RE = re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f￾￿\ud800-\udfff]")


def safe_chars(text: str) -> str:
    return _INVALID_XML_RE.sub("�", text)


_PASSTHROUGH_PREFIXES = (
    "urn:", "mailto:", "tel:", "data:", "javascript:", "about:")


def resolve_url(base: str | None, url: str) -> str:
    """Resolve a possibly-relative URL (HtmlHandler.java:266-306).

    Special case: a bare ``?query`` relative to a base whose path does
    not end in '/' appends to the full path instead of replacing the
    last segment (which is what RFC-3986 join would do).
    """
    url = url.strip()
    lower = url.lower()
    if base is None or any(lower.startswith(p) for p in _PASSTHROUGH_PREFIXES):
        return url
    base = base.strip()
    try:
        if url.startswith("?"):
            parts = urlparse(base)
            if parts.path and not parts.path.endswith("/"):
                return urlunparse((parts.scheme, parts.netloc,
                                   parts.path, "", url[1:], ""))
        return urljoin(base, url)
    except ValueError:
        return url


class Link:
    __slots__ = ("kind", "uri", "title", "text", "rel")

    def __init__(self, kind, uri, title="", text="", rel=""):
        self.kind, self.uri = kind, uri
        self.title, self.text, self.rel = title, text, rel


class _Serializer:
    def __init__(self, base_url: str | None):
        self.base = base_url
        self.pieces: list[str] = []
        self.pos = 0
        self.spans: list[tuple[int, int, str]] = []
        self.links: list[Link] = []
        self._anchor_stack: list[dict] = []

    def _emit(self, s: str):
        if s:
            self.pieces.append(s)
            self.pos += len(s)
            if self._anchor_stack:
                self._anchor_stack[-1]["text"].append(s)

    def _emit_layout(self, s: str):
        # layout whitespace outside anchors' text accumulation
        self.pieces.append(s)
        self.pos += len(s)

    def walk(self, node):
        if isinstance(node, str):
            self._emit(node)
            return
        tag = node.tag
        if tag in mapper.DISCARD_ELEMENTS:
            return
        mapped = mapper.map_safe_element(tag)
        if mapped is None:
            for child in node.children:
                self.walk(child)
            if tag in ENDLINE:
                self._emit_layout("\n")
            return

        span_start = self.pos
        if mapped in INDENT:
            self._emit_layout("\t")

        attrs = mapper.safe_attrs(mapped, node.attrs)
        if mapped == "a" and "href" in attrs:
            self._anchor_stack.append({
                "href": resolve_url(self.base, attrs.get("href", "")),
                "title": node.attrs.get("title", ""),
                "rel": attrs.get("rel", ""),
                "text": [],
            })
            for child in node.children:
                self.walk(child)
            a = self._anchor_stack.pop()
            txt = "".join(a["text"])
            if self._anchor_stack:       # nested anchors: propagate text
                self._anchor_stack[-1]["text"].append(txt)
            self.links.append(Link("a", a["href"], a["title"], txt, a["rel"]))
        elif mapped == "img":
            src = attrs.get("src")
            alt = node.attrs.get("alt", "")  # img always gains alt=""
            if self._anchor_stack and alt:
                self._anchor_stack[-1]["text"].append(alt)
            if src:
                self.links.append(
                    Link("img", resolve_url(self.base, src),
                         node.attrs.get("title", ""), alt))
        else:
            for child in node.children:
                self.walk(child)

        if mapped in ENDLINE:
            self._emit_layout("\n")
        if mapped in _SPAN_TAGS:
            end = self.pos - (1 if mapped in ENDLINE else 0)
            if end > span_start:
                self.spans.append((span_start, max(span_start, end), mapped))


def _esc_xml(s: str, attr: bool = False) -> str:
    out = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return out.replace('"', "&quot;") if attr else out


class _XmlSerializer:
    """Normalized-XHTML serializer (the ``-x`` CLI mode, SURVEY §2 A4;
    sax/ToXMLContentHandler.java): replays the *mapped* element stream
    as XML, with the same TAB/NEWLINE layout characters the text
    projection uses emitted as character data."""

    def __init__(self, base_url: str | None):
        self.base = base_url
        self.pieces: list[str] = []

    def walk(self, node):
        if isinstance(node, str):
            self.pieces.append(_esc_xml(node))
            return
        tag = node.tag
        if tag in mapper.DISCARD_ELEMENTS:
            return
        mapped = mapper.map_safe_element(tag)
        if mapped is None:
            for child in node.children:
                self.walk(child)
            if tag in ENDLINE:
                self.pieces.append("\n")
            return
        if mapped in INDENT:
            self.pieces.append("\t")
        attrs = dict(mapper.safe_attrs(mapped, node.attrs))
        for k in ("href", "src", "cite", "longdesc"):
            if k in attrs:
                attrs[k] = resolve_url(self.base, attrs[k])
        if mapped == "img" and "alt" not in attrs:
            attrs["alt"] = node.attrs.get("alt", "")
        attr_s = "".join(f' {k}="{_esc_xml(v, attr=True)}"'
                         for k, v in attrs.items())
        if node.children:
            self.pieces.append(f"<{mapped}{attr_s}>")
            for child in node.children:
                self.walk(child)
            self.pieces.append(f"</{mapped}>")
        else:
            self.pieces.append(f"<{mapped}{attr_s}/>")
        if mapped in ENDLINE:
            self.pieces.append("\n")


_XHTML_NS = "http://www.w3.org/1999/xhtml"


def serialize_xhtml(body: El, title: str | None = None,
                    base_url: str | None = None) -> str:
    """Full normalized-XHTML document string for a mapped body tree
    (lazy-head contract: html > head > title > body,
    XHTMLContentHandler.java:124-196)."""
    ser = _XmlSerializer(base_url)
    for child in body.children:
        ser.walk(child)
    return safe_chars(
        f'<html xmlns="{_XHTML_NS}">\n<head>\n'
        f"<title>{_esc_xml(title or '')}</title>\n</head>\n"
        f"<body>{''.join(ser.pieces)}</body>\n</html>")


def xhtml_wrap_text(text: str, title: str | None = None) -> str:
    """Generic xhtml-mode wrapper for non-DOM routes (txt/pdf/office…):
    the extracted text as one ``<p>`` inside the standard skeleton
    (the TXTParser single-paragraph shape, txt/TXTParser.java:68-142)."""
    return safe_chars(
        f'<html xmlns="{_XHTML_NS}">\n<head>\n'
        f"<title>{_esc_xml(title or '')}</title>\n</head>\n"
        f"<body><p>{_esc_xml(text)}</p>\n</body>\n</html>")


def serialize_body(body: El, base_url: str | None = None):
    """Serialize a body subtree.

    Returns (text, spans, links): the plain-text projection with the
    XHTML whitespace skeleton, block spans into it, and collected links.
    """
    ser = _Serializer(base_url)
    for child in body.children:
        ser.walk(child)
    text = safe_chars("".join(ser.pieces))
    return text, ser.spans, ser.links
