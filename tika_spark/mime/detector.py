"""Composite MIME detection with evidence combination.

Pipeline per document (re-derived from the reference's detection flow,
tika-core/.../mime/MimeTypes.java:505-561):

1. magic-byte match (magic.py; per-clause window slices, offsets
   bounded by MAGIC_PREFIX = 64 KiB — no prefix copy);
2. if the magic answer is XML-ish or HTML-ish, refine by the root
   element QName (XmlRootExtractor.java:39-60 semantics);
3. if still undecided, text-vs-binary sniff over the first 512 bytes
   (TextDetector.java thresholds: text iff 0 control bytes, or <2%
   control AND >90% ASCII);
4. the filename hint overrides ONLY if it is a lattice specialization
   of the current answer;
5. the declared Content-Type hint likewise.

:func:`detect` is the only detection path. ``detect_batch`` runs it
over the columns of one Arrow batch, as Python lists, inside the
extraction stage: one Python call per batch, never a per-row Spark UDF.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import numpy as np

from tika_spark.config import TEXT_SNIFF_PREFIX
from tika_spark.mime import globs, lattice, magic

OCTET_STREAM = lattice.OCTET_STREAM

# --- text-vs-binary sniff (TextDetector.java:73-128 semantics) ----------

_CONTROL = frozenset(
    list(range(0x00, 0x09)) + [0x0B] + list(range(0x0E, 0x1B))
    + list(range(0x1C, 0x20))
)
_CONTROL_TABLE = np.zeros(256, dtype=bool)
for _b in _CONTROL:
    _CONTROL_TABLE[_b] = True
_ASCII_TABLE = np.zeros(256, dtype=bool)
_ASCII_TABLE[0x20:0x7F] = True
for _b in (0x09, 0x0A, 0x0C, 0x0D, 0x1B):
    _ASCII_TABLE[_b] = True


def looks_like_text(data: bytes) -> bool:
    """HTML5-mime-sniff-style heuristic over the first 512 bytes."""
    if not data:
        return False
    buf = np.frombuffer(data[:TEXT_SNIFF_PREFIX], dtype=np.uint8)
    n_control = int(_CONTROL_TABLE[buf].sum())
    if n_control == 0:
        return True
    n_ascii = int(_ASCII_TABLE[buf].sum())
    n = len(buf)
    return (n_control * 100 < 2 * n) and (n_ascii * 100 > 90 * n)


# --- XML root-element refinement (XmlRootExtractor semantics) ------------

_ROOT_TAG_RE = re.compile(
    rb"<\s*(?:([A-Za-z_][\w.-]*):)?([A-Za-z_][\w.-]*)[^>]*>", re.DOTALL)
_STRIP_PREAMBLE_RE = re.compile(
    rb"(?:<\?[^?]*\?>|<!--.*?-->|<!DOCTYPE[^>\[]*(?:\[[^\]]*\])?[^>]*>|\s)*",
    re.DOTALL | re.IGNORECASE)

_ROOT_XML_MAP = {
    "html": "text/html",
    "rss": "application/rss+xml",
    "feed": "application/atom+xml",
    "svg": "image/svg+xml",
    "rdf": "application/rdf+xml",
    "fictionbook": "application/x-fictionbook+xml",
    "abiword": "application/x-abiword",
    # widened toward the reference's 24 root-XML rules
    # (tika-mimetypes.xml root-XML blocks)
    "kml": "application/vnd.google-earth.kml+xml",
    "gpx": "application/gpx+xml",
    "opml": "text/x-opml+xml",
    "math": "application/mathml+xml",
    "smil": "application/smil+xml",
    "stylesheet": "application/xslt+xml",      # xsl:stylesheet
    "definitions": "application/wsdl+xml",     # wsdl:definitions
    "x3d": "model/x3d+xml",
    "urlset": "application/xml",               # sitemaps stay generic
    "plist": "application/x-plist",
    "wml": "text/vnd.wap.wml",
    "ttml": "application/ttml+xml",
    "mods": "application/mods+xml",
    "mets": "application/mets+xml",
    "dfxp": "application/ttaf+xml",
}
_MAVEN_NS = b"http://maven.apache.org/POM"
_ODF_NS = b"urn:oasis:names:tc:opendocument"
_ODF_MIMETYPE_RE = re.compile(
    rb'mimetype="application/vnd\.oasis\.opendocument\.([\w.-]+)"')
_XHTML_NS = b"http://www.w3.org/1999/xhtml"


_XML_ROOT_PREFIX = 8192  # root-tag scan window (regex + possible
#                          UTF-16 transcode stay on a small slice)


def refine_xml_root(prefix: bytes) -> str | None:
    """Media type from the first start-tag local name, else None."""
    body = prefix[:_XML_ROOT_PREFIX].removeprefix(b"\xef\xbb\xbf")
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        try:
            body = body.decode(
                "utf-16-le" if body[:2] == b"\xff\xfe" else "utf-16-be",
                errors="ignore").encode("utf-8", errors="ignore")
        except Exception:
            return None
    m = _STRIP_PREAMBLE_RE.match(body)
    pos = m.end() if m else 0
    tag = _ROOT_TAG_RE.match(body, pos)
    if not tag:
        return None
    local = tag.group(2).decode("ascii", errors="ignore").lower()
    if local == "html" and _XHTML_NS in tag.group(0):
        return "application/xhtml+xml"
    if local == "project" and _MAVEN_NS in tag.group(0):
        return "application/x-maven-pom+xml"
    if local == "document" and _ODF_NS in tag.group(0):
        # flat (single-XML) OpenDocument: subtype from office:mimetype
        m = _ODF_MIMETYPE_RE.search(tag.group(0))
        sub = m.group(1).decode("ascii", "ignore") if m else "text"
        return "application/vnd.oasis.opendocument.flat." + sub
    return _ROOT_XML_MAP.get(local)


# --- evidence combination -------------------------------------------------


def _apply_hint(current: str, hint: str | None) -> str:
    """Hint overrides only if it specializes the current answer
    (MimeTypes.java:520-561)."""
    hint = lattice.normalize(hint)
    if hint is None:
        return current
    if current == OCTET_STREAM or lattice.is_specialization_of(hint, current):
        return hint
    return current


def detect(data: bytes | None, url: str | None = None,
           declared_type: str | None = None) -> str:
    """Full single-document detection; always returns a media type."""
    # no prefix copy: match_magic slices per-clause windows lazily and
    # never reads past MAGIC_PREFIX; the refinement tiers below slice
    # their own small windows
    prefix = data or b""
    mime = magic.match_magic(prefix)

    if mime in ("application/xml", "text/html", "application/xhtml+xml"):
        refined = refine_xml_root(prefix)
        if refined:
            mime = refined
        elif mime == "application/xml" and prefix[:5] != b"<?xml" \
                and not prefix[:8].startswith((b"\xef\xbb\xbf<?xml",)):
            mime = None  # malformed xml magic hit -> fall through to sniff

    if mime is None:
        if not prefix:
            mime = OCTET_STREAM  # empty stream (MimeTypes.java:184-187)
        elif looks_like_text(prefix):
            # beyond the reference: a markup root tag after a long
            # comment/doctype preamble (>64B, so the magic window missed)
            # still routes by content — e.g. big-preamble.html
            mime = refine_xml_root(prefix) or "text/plain"
        else:
            mime = OCTET_STREAM

    mime = _apply_hint(mime, globs.match_name(url))
    mime = _apply_hint(mime, declared_type)

    if mime == "application/zip":
        # container-aware refinement (B8): peek at the zip central
        # directory for OOXML/ODF/EPUB signatures (ZipContainerDetector).
        # Avoid copying multi-MB archives: pass the payload through
        # as-is when it is already bytes (zipfile needs the whole
        # buffer for end-of-file central-directory seeks, but not a
        # private copy of it).
        from tika_spark.pkg.container import refine_container
        payload = data if isinstance(data, bytes) else bytes(data or b"")
        mime = refine_container(payload, mime)
    elif mime == "application/x-tika-msoffice":
        # OLE2 refinement (B8, POIFSContainerDetector): directory entry
        # names pick doc/xls/ppt/msg/visio/publisher
        from tika_spark.ole.parser import refine_ole2
        payload = data if isinstance(data, bytes) else bytes(data or b"")
        mime = refine_ole2(payload)
    return mime


def detect_batch(html: Sequence, url: Sequence | None = None,
                 declared: Sequence | None = None) -> list[str]:
    """:func:`detect` over a batch of payloads, one media type per row
    of ``html``; ``url`` and ``declared`` are optional per-row hints."""
    n = len(html)
    urls = url if url is not None else [None] * n
    decl = declared if declared is not None else [None] * n
    return [detect(d, u, t) for d, u, t in zip(html, urls, decl)]
