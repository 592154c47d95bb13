"""HTML document extraction: bytes -> {charset, title, text, spans, links, metadata}.

Orchestrates the chain (reference lifecycle: SURVEY.md §3.2):
charset cascade (HtmlParser.java:81-165) -> lenient DOM (dom.py) ->
head handling: title / <meta name|http-equiv> / ICBM lat-long /
<base href> -> CONTENT_LOCATION (HtmlHandler.java:100-164) -> body
serialization with the XHTML whitespace skeleton (layout.py) ->
optional Boilerpipe main-content classification (boilerpipe.py).
The output caps are applied by the pipeline's one output guard
(pipeline/stages.py:guard_output), not here.
"""

from __future__ import annotations

import re

from tika_spark import charset as cs
from tika_spark.config import ExtractConfig
from tika_spark.html import boilerpipe as bp
from tika_spark.html.dom import El, build_dom, normalize_tree
from tika_spark.html.layout import resolve_url, safe_chars, serialize_body

_ICBM_RE = re.compile(r"\s*(-?\d+\.\d+)[,\s]+(-?\d+\.\d+)\s*")

_DEFAULT_CONFIG = ExtractConfig()


def _node_text(node) -> str:
    if isinstance(node, str):
        return node
    return "".join(_node_text(c) for c in node.children)


def _process_head(head: El, url: str | None, metadata: dict) -> str | None:
    """Fill metadata from <head>; returns the base URL for resolution."""
    base = url
    for node in head.children:
        if isinstance(node, str):
            continue
        tag = node.tag
        if tag == "title":
            metadata["title"] = [_node_text(node).strip()]
        elif tag == "meta":
            name = node.attrs.get("http-equiv") or node.attrs.get("name")
            value = node.attrs.get("content")
            if name is None or value is None:
                continue
            lname = name.lower()
            if lname == "icbm":
                m = _ICBM_RE.fullmatch(value)
                if m:
                    metadata["ICBM"] = [m.group(1) + ", " + m.group(2)]
                    metadata["geo:lat"] = [m.group(1)]
                    metadata["geo:long"] = [m.group(2)]
                else:
                    metadata["ICBM"] = [value]
            elif lname == "content-type":
                metadata["Content-Type"] = [value.split(";")[0].strip()]
            else:
                metadata.setdefault(name, []).append(value)
        elif tag == "base" and node.attrs.get("href"):
            base = resolve_url(base, node.attrs["href"])
            metadata["Content-Location"] = [base]
    return base


def extract_html(data: bytes, url: str | None = None,
                 declared_type: str | None = None,
                 config: ExtractConfig = _DEFAULT_CONFIG) -> dict:
    """Extract one HTML document. Pure function; never raises on content.

    Returns dict with: charset, title, text, spans, links, metadata,
    status. ``text`` is the mode-selected output ('text' = full body
    text, 'text-main' = boilerplate-stripped main content).
    """
    data = bytes(data or b"")
    charset = cs.html_charset(data, declared_type)
    decoded = cs.decode(data, charset)

    root = build_dom(decoded)
    head, body = normalize_tree(root)

    metadata: dict[str, list[str]] = {"Content-Encoding": [charset]}
    base = _process_head(head, url, metadata)

    # the full-body serialization; the other modes keep only its links
    text, spans, links = serialize_body(body, base)
    if config.mode in ("text-main", "text-main-justext",
                       "text-main-readability"):
        if config.mode == "text-main-justext":
            from tika_spark.html.justext import main_content_justext
            text, spans = main_content_justext(body)
        elif config.mode == "text-main-readability":
            from tika_spark.html.readability import (
                main_content_readability)
            text, spans = main_content_readability(body)
        else:
            text, spans = bp.main_content(body)
        text = safe_chars(text)
    elif config.mode == "xhtml":
        from tika_spark.html.layout import serialize_xhtml
        text = serialize_xhtml(body, metadata.get("title", [None])[0], base)
        spans = []
    elif config.mode == "markdown":
        from tika_spark.html.markdown import serialize_markdown
        text = serialize_markdown(body, base)
        spans = []

    title = metadata.get("title", [None])[0]
    return {
        "charset": charset,
        "title": title,
        "text": text,
        "spans": [(s, min(e, len(text)), k) for (s, e, k) in spans],
        "links": [(lk.kind, lk.uri, lk.title, lk.text) for lk in links],
        "metadata": metadata,
        "status": "ok",
    }
