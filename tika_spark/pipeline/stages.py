"""The extraction mapInPandas stage: one Arrow batch in, one out.

Dispatch semantics mirror the reference's CompositeParser
(tika-core/.../parser/CompositeParser.java:195-218): the detected
media type is looked up in the route table, walking the supertype
chain until a route is found; unknown types become ``status='no_parser'``
rows (EmptyParser fallback, never a failure). A parser exception is
caught per document and becomes ``status='error'`` (the ForkParser
fault-isolation intent, fork/ForkParser.java — a poison document must
never kill a partition). Every route's result then passes one output
guard (:func:`guard_output`, SURVEY.md §2 F4), the analog of the
reference wrapping whichever parser runs in its Secure/WriteOut
content handlers.

Heavy singletons (detection tables, language model) are module-level,
initialized once per Python worker and reused across batches
(the reference's amortized-singleton pattern, HtmlParser.java:66-69;
requires spark.python.worker.reuse=true, the default). A reused worker
still pays a start-up per task: PySpark calls
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
central directory of every zip archive on ``sys.path`` (pyspark.zip
holds 16 importers). Importing ``tika_spark`` installs
``tika_spark._zipcache``, which skips the re-read for an archive that
has not changed, so only a worker's first tasks pay it.
"""

from __future__ import annotations

import time

import pandas as pd

from tika_spark.config import ExtractConfig, output_budget
from tika_spark.dbparse import extract_dbf, extract_sqlite
from tika_spark.html.extract import extract_html
from tika_spark.mime import lattice
from tika_spark.mime.detector import detect_batch
from tika_spark.pdf.parser import extract_pdf
from tika_spark.prt import extract_prt
from tika_spark.pkg.epub import extract_epub
from tika_spark.pkg.iwork import extract_iwork
from tika_spark.pkg.odf import extract_flat_odf, extract_odf
from tika_spark.pkg.ooxml import extract_ooxml
from tika_spark.pkg.parser import extract_package
from tika_spark.pkg.xps import extract_xps
from tika_spark.mail import (extract_foxmail, extract_mbox,
                             extract_rfc822, extract_tnef)
from tika_spark.media import extract_media
from tika_spark.chm.parser import extract_chm
from tika_spark.ole.parser import extract_ole
from tika_spark.rtf import extract_rtf
from tika_spark.subtitles import extract_subtitles
from tika_spark.textparse import extract_text
from tika_spark.xmlparse import extract_feed, extract_xml

# media type -> route; lookup walks the supertype chain (F0)
ROUTE_TABLE = {
    "text/html": "html",
    "application/xhtml+xml": "html",
    "application/vnd.wap.xhtml+xml": "html",
    "application/x-asp": "html",
    "application/pdf": "pdf",
    "application/rss+xml": "feed",
    "application/atom+xml": "feed",
    "application/xml": "xml",
    "image/svg+xml": "xml",
    "application/rdf+xml": "xml",
    "application/x-fictionbook+xml": "xml",
    "text/plain": "txt",
    "application/rtf": "rtf",
    "message/rfc822": "rfc822",
    "application/mbox": "mbox",
    "application/x-foxmail": "foxmail",
    # metadata-only media rows (E12)
    "image/png": "media",
    "image/gif": "media",
    "image/jpeg": "media",
    "image/bmp": "media",
    "image/tiff": "media",
    "application/x-font-ttf": "media",
    "image/vnd.adobe.photoshop": "media",
    "video/x-flv": "media",
    "application/java-vm": "media",
    "audio/mpeg": "media",
    "audio/x-aac": "media",
    "video/mpeg": "media",
    "video/mp2t": "media",
    # widened web set: metadata-only media rows (format named, no body
    # text — what the reference's parser-less types produce)
    "video/mp4": "media",
    "audio/mp4": "media",
    "video/3gpp": "media",
    "video/quicktime": "media",
    "video/webm": "media",
    "video/x-matroska": "media",
    "audio/ogg": "media",
    "video/ogg": "media",
    "application/ogg": "media",
    "image/webp": "media",
    "image/avif": "media",
    "image/heic": "media",
    "image/jxl": "media",
    "video/x-msvideo": "media",
    "audio/x-wav": "media",
    "audio/x-flac": "media",
    "audio/midi": "media",
    "font/woff": "media",
    "font/woff2": "media",
    "image/x-icon": "media",
    "application/x-font-adobe-metric": "media",
    "video/x-ms-asf": "media",
    "audio/x-ms-wma": "media",
    "video/x-ms-wmv": "media",
    "image/x-portable-bitmap": "media",
    "image/x-portable-graymap": "media",
    "image/x-portable-pixmap": "media",
    "image/x-portable-anymap": "media",
    "image/emf": "media",
    "image/x-emf": "media",
    "image/wmf": "media",
    "image/x-wmf": "media",
    # SQLite: real table walk (dbparse.py), BLOB cells re-enter
    # recursion as children (jdbc/SQLite3Parser route)
    "application/x-sqlite3": "sqlite",
    "application/x-dbf": "dbf",
    "application/wasm": "media",
    # 7z: real container walk (pkg/sevenz.py), children re-enter
    # recursion like zip/tar (PackageParser 7z route)
    "application/x-7z-compressed": "pkg",
    # xz/lzma single-stream members decompress for real (stdlib lzma)
    # and re-enter recursion like gzip/bzip2 (PackageParser xz route)
    "application/x-xz": "pkg",
    "application/x-lzma": "pkg",
    "application/zstd": "pkg",
    "application/x-msdownload": "media",
    "application/x-elf": "media",
    "application/x-parquet": "media",
    "image/vnd.dwg": "media",
    "application/x-netcdf": "media",
    "application/x-hdf": "media",
    "audio/x-aiff": "media",
    "audio/basic": "media",
    "application/x-shockwave-flash": "media",
    "application/x-abiword": "xml",
    "application/vnd.ms-tnef": "tnef",
    # archives (E6) — children explode through extract_recursive (F1)
    "application/zip": "pkg",
    "application/x-gzip": "pkg",
    "application/x-tar": "pkg",
    "application/x-bzip2": "pkg",
    "application/x-archive": "pkg",
    "application/x-cpio": "pkg",
    # zip-based document formats (E8-E10), specific types from the
    # container refinement (B8) — matched before the zip supertype
    # the full 16-type OOXML family (OOXMLParser.java:44-60)
    **{t: "ooxml" for t in (
        "application/vnd.openxmlformats-officedocument."
        "wordprocessingml.document",
        "application/vnd.openxmlformats-officedocument."
        "wordprocessingml.template",
        "application/vnd.ms-word.document.macroenabled.12",
        "application/vnd.ms-word.template.macroenabled.12",
        "application/vnd.openxmlformats-officedocument."
        "spreadsheetml.sheet",
        "application/vnd.openxmlformats-officedocument."
        "spreadsheetml.template",
        "application/vnd.ms-excel.sheet.macroenabled.12",
        "application/vnd.ms-excel.template.macroenabled.12",
        "application/vnd.ms-excel.addin.macroenabled.12",
        "application/vnd.openxmlformats-officedocument."
        "presentationml.presentation",
        "application/vnd.openxmlformats-officedocument."
        "presentationml.slideshow",
        "application/vnd.openxmlformats-officedocument."
        "presentationml.template",
        "application/vnd.ms-powerpoint.presentation.macroenabled.12",
        "application/vnd.ms-powerpoint.slideshow.macroenabled.12",
        "application/vnd.ms-powerpoint.template.macroenabled.12",
        "application/vnd.ms-powerpoint.addin.macroenabled.12")},
    # the ODF family (OpenDocumentParser.java:46-79)
    **{pfx + t: "odf"
       for t in ("text", "spreadsheet", "presentation", "graphics",
                 "chart", "formula", "image", "text-master",
                 "text-web", "text-template", "spreadsheet-template",
                 "presentation-template", "graphics-template",
                 "chart-template", "formula-template",
                 "image-template")
       # the x-vnd.* experimental aliases are in the reference's
       # supported set too (OpenDocumentParser.java:64-78)
       for pfx in ("application/vnd.oasis.opendocument.",
                   "application/x-vnd.oasis.opendocument.")},
    # OpenOffice.org 1.x (zip + content.xml, same chain;
    # OpenDocumentParser.java:47)
    "application/vnd.sun.xml.writer": "odf",
    # flat (single-XML) ODF family (FlatOpenDocumentParser)
    **{"application/vnd.oasis.opendocument.flat." + t: "flat_odf"
       for t in ("text", "spreadsheet", "presentation", "graphics",
                 "chart", "formula", "image")},
    "application/epub+zip": "epub",
    # iWork family (iwork/IWorkPackageParser.java)
    "application/vnd.apple.iwork": "iwork",
    "application/vnd.apple.pages": "iwork",
    "application/vnd.apple.numbers": "iwork",
    "application/vnd.apple.keynote": "iwork",
    "application/vnd.ms-xpsdocument": "xps",
    "application/oxps": "xps",
    # OLE2 binary Office (E7) — specific types from the OLE2 container
    # refinement (B8); the generic supertype catches unknown layouts
    "application/vnd.ms-htmlhelp": "chm",
    "application/msword": "ole",
    "application/vnd.ms-excel": "ole",
    "application/vnd.ms-powerpoint": "ole",
    "application/vnd.ms-outlook": "ole",
    "application/vnd.visio": "ole",
    "application/x-mspublisher": "ole",
    "application/x-tika-msoffice": "ole",
    # CADKEY PRT note/view text (prt/PRTParser.java)
    "application/x-prt": "prt",
    # subtitle cue text (pipeline extension — the reference globs
    # .srt to text/plain; see tika_spark/subtitles.py)
    "application/x-subrip": "subtitle",
    "text/vtt": "subtitle",
    "text/x-ssa": "subtitle",
}

_EXTRACTORS = {
    "html": extract_html,
    "pdf": extract_pdf,
    "xml": extract_xml,
    "feed": extract_feed,
    "txt": extract_text,
    "rtf": extract_rtf,
    "rfc822": extract_rfc822,
    "mbox": extract_mbox,
    "foxmail": extract_foxmail,
    "tnef": extract_tnef,
    "media": extract_media,
    "pkg": extract_package,
    "ooxml": extract_ooxml,
    "odf": extract_odf,
    "flat_odf": extract_flat_odf,
    "epub": extract_epub,
    "xps": extract_xps,
    "ole": extract_ole,
    "chm": extract_chm,
    "prt": extract_prt,
    "iwork": extract_iwork,
    "sqlite": extract_sqlite,
    "dbf": extract_dbf,
    "subtitle": extract_subtitles,
}

# routes whose extractor takes the detected media type (dispatch detail)
_MIME_AWARE_ROUTES = frozenset({"pkg", "ooxml", "odf", "flat_odf", "xps", "media", "ole", "iwork"})

# routes whose parser degrades gracefully on a byte-prefix of the
# document: the input cap truncates these and parses the prefix.
# Every other (structured/binary) route gets a metadata-only capped
# row — a truncated zip/OLE/PDF would just error out anyway.
_PREFIX_CAPPED_ROUTES = frozenset({"html", "txt"})

EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, mime string, charset string, "
    "lang string, lang_distance double, title string, text string, "
    "spans array<struct<start:int,end:int,kind:string>>, "
    "links array<struct<kind:string,uri:string,title:string,text:string>>, "
    "metadata map<string,array<string>>, "
    "status string, error string, "
    "children array<struct<name:string,data:binary>>, "
    "n_bytes bigint, n_chars bigint, "
    "part_id int, batch_ms double"
)

OUTPUT_COLUMNS = [f.split()[0] for f in EXTRACT_SCHEMA.split(", ")]


def xmp_serialize(metadata: dict[str, list[str]]) -> str:
    """Deterministic minimal XMP packet for the -y CLI mode
    (TikaCLI.java:147-246's XMP output semantic): one property per
    metadata key under a tika: namespace, multi-valued keys as
    rdf:Bag, keys sorted for hash stability."""
    import re as _re
    from xml.sax.saxutils import escape
    parts = ['<?xpacket begin="﻿" id="W5M0MpCehiHzreSzNTczkc9d"?>',
             '<x:xmpmeta xmlns:x="adobe:ns:meta/">',
             '<rdf:RDF xmlns:rdf='
             '"http://www.w3.org/1999/02/22-rdf-syntax-ns#">',
             '<rdf:Description rdf:about="" '
             'xmlns:tika="http://tika.apache.org/">']
    for key in sorted(metadata or {}):
        vals = [v for v in metadata[key] if v is not None]
        tag = _re.sub(r"[^\w.-]", "_", str(key)) or "_"
        if tag[0].isdigit():
            tag = "_" + tag
        if len(vals) == 1:
            parts.append(f"<tika:{tag}>{escape(vals[0])}</tika:{tag}>")
        elif vals:
            items = "".join(f"<rdf:li>{escape(v)}</rdf:li>" for v in vals)
            parts.append(f"<tika:{tag}><rdf:Bag>{items}</rdf:Bag>"
                         f"</tika:{tag}>")
    parts.append("</rdf:Description></rdf:RDF></x:xmpmeta>")
    parts.append('<?xpacket end="w"?>')
    return "".join(parts)


def route_for_mime(mime: str) -> str | None:
    for t in lattice.supertype_chain(mime):
        r = ROUTE_TABLE.get(t)
        if r:
            return r
    return None


# statuses the guards set: the input cap and the two output caps
GUARD_STATUSES = ("input_capped", "output_limit", "write_limit")


def guard_output(r: dict, n_input: int, write_limit: int) -> None:
    """Apply the output caps to one extractor result, in place.

    The ratio cap ``output_budget(n_input)`` (zip/HTML-bomb guard,
    SecureContentHandler.java:65-80) and the optional ``write_limit``
    (WriteOutContentHandler.java:125), whichever is smaller: the text
    is truncated, spans starting past the cap are dropped, span ends
    are clamped and the status names the cap that cut.
    """
    limit, status = output_budget(n_input), "output_limit"
    if write_limit and write_limit < limit:
        limit, status = write_limit, "write_limit"
    if len(r["text"]) > limit:
        r["text"] = r["text"][:limit]
        r["spans"] = [(s, min(e, limit), k)
                      for (s, e, k) in r.get("spans", []) if s < limit]
        r["status"] = status


def _empty_result() -> dict:
    return {"charset": None, "title": None, "text": "", "spans": [],
            "links": [], "metadata": {}, "status": "no_parser"}


def _parse_rows(html: pd.Series, urls: pd.Series,
                declared: pd.Series | None, mimes: pd.Series,
                config: ExtractConfig) -> list[dict]:
    """Run each row's route extractor, then the xhtml/xmp/json text
    rewrite; one result dict per row, in batch order."""
    n = len(html)
    results: list[dict] = [None] * n  # type: ignore[list-item]
    # group rows by route ("" for none), run each group's extractor in
    # batch order
    routes = mimes.map(route_for_mime).fillna("")
    positions = {i: k for k, i in enumerate(html.index)}
    cap = config.max_input_bytes
    for route, idx in routes.groupby(routes).groups.items():
        fn = _EXTRACTORS.get(route)
        for i in idx:
            k = positions[i]
            if fn is None:
                results[k] = _empty_result()
                continue
            data_i = html[i]
            capped = bool(cap) and data_i is not None \
                and len(data_i) > cap
            if capped:
                if route not in _PREFIX_CAPPED_ROUTES:
                    # opaque/structured payload: truncation would only
                    # produce a parse error — emit the metadata-only
                    # capped row directly (type census still works)
                    r = _empty_result()
                    r["status"] = "input_capped"
                    r["metadata"] = {"Content-Type": [mimes[i]]}
                    results[k] = r
                    continue
                data_i = bytes(data_i)[:cap]
            try:
                decl_i = declared[i] if declared is not None else None
                if route in _MIME_AWARE_ROUTES:
                    results[k] = fn(data_i, urls[i], decl_i, config,
                                    mime=mimes[i])
                else:
                    results[k] = fn(data_i, urls[i], decl_i, config)
                guard_output(results[k], len(data_i or b""),
                             config.write_limit)
                if capped and results[k].get("status") != "error":
                    results[k]["status"] = "input_capped"
            except Exception as e:  # poison doc -> error row, task survives
                r = _empty_result()
                r["status"], r["error"] = "error", repr(e)[:1000]
                results[k] = r

    if config.mode == "xhtml":
        # -x CLI mode (A4): non-DOM routes wrap their text in the
        # standard skeleton; the html route already serialized XML
        from tika_spark.html.layout import xhtml_wrap_text
        html_idx = {positions[i] for i in
                    routes[routes == "html"].index}
        for k in range(n):
            if k not in html_idx:
                r = results[k]
                r["text"] = xhtml_wrap_text(r["text"], r.get("title"))
                r["spans"] = []
    elif config.mode == "xmp":
        # -y CLI mode (TikaCLI.java:147-246): the metadata map as an
        # XMP packet in the text column
        for r in results:
            r["text"] = xmp_serialize(r.get("metadata", {}))
            r["spans"] = []
    elif config.mode == "json":
        # -j CLI mode (TikaCLI.java:147-246 JsonMetadata): the metadata
        # map serialized as one sorted-key JSON object per document;
        # single-value lists collapse to scalars, as the reference's
        # Metadata#get/isMultiValued split does
        import json as _json
        for r in results:
            md = {key: (vs[0] if len(vs) == 1 else vs)
                  for key, vs in sorted(r.get("metadata", {}).items())}
            r["text"] = _json.dumps(md, ensure_ascii=False,
                                    sort_keys=True)
            r["spans"] = []
    return results


def process_batch(pdf: pd.DataFrame, config: ExtractConfig,
                  part_id: int = -1) -> pd.DataFrame:
    """Extract one Arrow batch (pandas DataFrame in/out)."""
    t0 = time.perf_counter()
    n = len(pdf)
    if config.trace_dir:
        import os
        import uuid
        with open(os.path.join(config.trace_dir,
                               f"{uuid.uuid4().hex}_{n}"), "w"):
            pass
    html = pdf["html"]
    urls = pdf["url"] if "url" in pdf else pd.Series([None] * n,
                                                     index=pdf.index)
    declared = pdf["declared_type"] if "declared_type" in pdf else None

    mimes = detect_batch(html, urls, declared)

    if config.mode == "detect":
        # -d CLI mode (H4): type census only — no parsing, no language
        # id; the cheap scan path for fleet-wide mime distribution
        results = [dict(_empty_result(), status="detected")
                   for _ in range(n)]
        langs = dists = [None] * n
    else:
        results = _parse_rows(html, urls, declared, mimes, config)
        from tika_spark.language import default_model
        ident = default_model().identify_batch(
            pd.Series([r["text"] for r in results], index=pdf.index))
        langs = ident["lang"].tolist()
        dists = ident["lang_distance"].tolist()
        if config.mode == "language":
            # -l CLI mode: the identified language IS the output text
            for r, lg in zip(results, langs):
                r["text"], r["spans"] = lg or "unknown", []
    texts = pd.Series([r["text"] for r in results], index=pdf.index)

    batch_ms = (time.perf_counter() - t0) * 1000.0
    out = pd.DataFrame({
        "url": urls.values,
        "warc_ts": (pdf["warc_ts"].values if "warc_ts" in pdf
                    else [None] * n),
        "mime": mimes.values,
        "charset": [r.get("charset") for r in results],
        "lang": langs,
        "lang_distance": dists,
        "title": [r.get("title") for r in results],
        "text": texts.values,
        "spans": [[{"start": s, "end": e, "kind": k}
                   for (s, e, k) in r.get("spans", [])] for r in results],
        "links": [[{"kind": k, "uri": u, "title": t, "text": x}
                   for (k, u, t, x) in r.get("links", [])] for r in results],
        "metadata": [r.get("metadata", {}) for r in results],
        "status": [r.get("status", "ok") for r in results],
        "error": [r.get("error") for r in results],
        "children": [[{"name": nm, "data": payload}
                      for (nm, payload) in r.get("children", [])]
                     for r in results],
        "n_bytes": html.map(lambda b: len(b) if b is not None else 0).values,
        "n_chars": texts.str.len().values,
        "part_id": part_id,
        "batch_ms": batch_ms,
    })
    return out


def make_extract_fn(config: ExtractConfig):
    """Build the mapInPandas function (config captured in closure)."""

    def extract_batches(iterator):
        try:
            from pyspark import TaskContext
            ctx = TaskContext.get()
            part_id = ctx.partitionId() if ctx else -1
        except Exception:
            part_id = -1
        for pdf in iterator:
            yield process_batch(pdf, config, part_id)

    return extract_batches
