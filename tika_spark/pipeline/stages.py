"""The extraction mapInArrow stage: one Arrow record batch in, one out.

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

The stage never converts to pandas, and the worker never imports it:
the per-row core (:func:`_extract_columns`) reads the ``html`` and
``declared_type`` columns as Python lists and returns plain lists, and
:func:`_extract_record_batch` builds them, with ``url`` and ``warc_ts``
passed through as Arrow arrays, into one ``pa.RecordBatch`` of
:data:`ARROW_SCHEMA`. :func:`process_batch` is the pandas entry over
the same core, for tests and driver-side replays.
"""

from __future__ import annotations

import time
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa

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

if TYPE_CHECKING:
    import pandas as pd

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


def _split_fields(ddl: str) -> list[str]:
    """Split a DDL field list at its top-level commas."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(ddl):
        depth += (c == "<") - (c == ">")
        if c == "," and not depth:
            out.append(ddl[start:i].strip())
            start = i + 1
    return out + [ddl[start:].strip()]


_ARROW_ATOMS = {"string": pa.string(), "binary": pa.binary(),
                "int": pa.int32(), "bigint": pa.int64(),
                "double": pa.float64(),
                "timestamp": pa.timestamp("us", tz="UTC")}


def _arrow_type(ddl: str) -> pa.DataType:
    """The Arrow type Spark's Python worker uses for one DDL type
    (``pyspark.sql.pandas.types.to_arrow_type``), without a JVM."""
    if ddl in _ARROW_ATOMS:
        return _ARROW_ATOMS[ddl]
    kind, inner = ddl[:-1].split("<", 1)
    if kind == "array":
        return pa.list_(pa.field("element", _arrow_type(inner)))
    if kind == "map":
        key, value = _split_fields(inner)
        return pa.map_(pa.field("key", _arrow_type(key), nullable=False),
                       pa.field("value", _arrow_type(value)))
    return pa.struct([pa.field(name, _arrow_type(t)) for name, t in
                      (f.split(":", 1) for f in _split_fields(inner))])


# the stage's output schema, derived once from EXTRACT_SCHEMA
ARROW_SCHEMA = pa.schema([pa.field(name, _arrow_type(t)) for name, t in
                          (f.split(" ", 1)
                           for f in _split_fields(EXTRACT_SCHEMA))])

OUTPUT_COLUMNS = ARROW_SCHEMA.names


# list-of-struct columns -> their field names (a core value is a tuple)
_STRUCT_FIELDS = {f.name: [sf.name for sf in f.type.value_type]
                  for f in ARROW_SCHEMA if pa.types.is_list(f.type)
                  and pa.types.is_struct(f.type.value_type)}

_NUMPY_TYPES = {pa.int32(): np.int32, pa.int64(): np.int64,
                pa.float64(): np.float64}


def _validity(values: list) -> pa.Buffer | None:
    valid = [v is not None for v in values]
    if all(valid):
        return None
    return pa.py_buffer(np.packbits(valid, bitorder="little"))


def _offsets(lengths: list[int]) -> pa.Buffer:
    ends = np.cumsum([0, *lengths], dtype=np.int64)
    if ends[-1] > np.iinfo(np.int32).max:
        raise OverflowError("batch column exceeds 32-bit Arrow offsets")
    return pa.py_buffer(ends.astype(np.int32))


def _to_arrow(values, arrow_type: pa.DataType) -> pa.Array:
    """One Arrow array of ``arrow_type`` from a list of Python values
    (``None`` is null, a struct value is a tuple in field order, a map
    value a dict), or an Arrow array cast to it.

    Built from buffers: ``pa.array`` and ``RecordBatch.from_pydict``
    import pandas on their first call, which the stage's Python worker
    otherwise never loads."""
    if isinstance(values, pa.Array):
        return (values if values.type == arrow_type
                else values.cast(arrow_type))
    n, valid = len(values), _validity(values)
    if arrow_type in _NUMPY_TYPES:
        wide = np.array([0 if v is None else v for v in values],
                        dtype=np.result_type(_NUMPY_TYPES[arrow_type],
                                             np.int64))
        data = wide.astype(_NUMPY_TYPES[arrow_type])
        if data.dtype != wide.dtype and not np.array_equal(data, wide):
            raise OverflowError(f"value out of {arrow_type} range")
        return pa.Array.from_buffers(arrow_type, n,
                                     [valid, pa.py_buffer(data)])
    if arrow_type in (pa.string(), pa.binary()):
        text = arrow_type == pa.string()
        data = [b"" if v is None else v.encode() if text else v
                for v in values]
        return pa.Array.from_buffers(
            arrow_type, n, [valid, _offsets([len(d) for d in data]),
                            pa.py_buffer(b"".join(data))])
    if pa.types.is_struct(arrow_type):
        width = arrow_type.num_fields
        rows = [(None,) * width if v is None else v for v in values]
        if any(len(r) != width for r in rows):
            raise ValueError(f"{arrow_type} values need {width} fields")
        columns = list(zip(*rows)) if rows else [()] * width
        return pa.Array.from_buffers(arrow_type, n, [valid], children=[
            _to_arrow(list(c), f.type) for c, f in zip(columns, arrow_type)])
    if pa.types.is_map(arrow_type):
        item_type = pa.struct([arrow_type.key_field, arrow_type.item_field])
        rows = [() if v is None else list(v.items()) for v in values]
    else:
        item_type = arrow_type.value_type
        rows = [() if v is None else v for v in values]
        if not all(isinstance(r, (list, tuple)) for r in rows):
            raise TypeError(f"{arrow_type} values must be lists")
    items = _to_arrow([x for r in rows for x in r], item_type)
    return pa.Array.from_buffers(
        arrow_type, n, [valid, _offsets([len(r) for r in rows])],
        children=[items])


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


def _parse_rows(html: list, urls: list, declared: list | None,
                mimes: list[str], config: ExtractConfig) -> list[dict]:
    """Run each row's route extractor, then the xhtml/xmp/json text
    rewrite; one result dict per row, in batch order."""
    n = len(html)
    results: list[dict] = [None] * n  # type: ignore[list-item]
    routes = [route_for_mime(m) or "" for m in mimes]
    cap = config.max_input_bytes
    # group rows by route ("" for none), run each group's extractor in
    # batch order
    for k in sorted(range(n), key=routes.__getitem__):
        route = routes[k]
        fn = _EXTRACTORS.get(route)
        if fn is None:
            results[k] = _empty_result()
            continue
        data_i = html[k]
        capped = bool(cap) and data_i is not None and len(data_i) > cap
        if capped:
            if route not in _PREFIX_CAPPED_ROUTES:
                # opaque/structured payload: truncation would only
                # produce a parse error — emit the metadata-only
                # capped row directly (type census still works)
                r = _empty_result()
                r["status"] = "input_capped"
                r["metadata"] = {"Content-Type": [mimes[k]]}
                results[k] = r
                continue
            data_i = bytes(data_i)[:cap]
        try:
            decl_i = declared[k] if declared is not None else None
            if route in _MIME_AWARE_ROUTES:
                results[k] = fn(data_i, urls[k], decl_i, config,
                                mime=mimes[k])
            else:
                results[k] = fn(data_i, urls[k], decl_i, config)
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
        for r, route in zip(results, routes):
            if route != "html":
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


def _extract_columns(html: list, urls: list, declared: list | None,
                     config: ExtractConfig) -> dict[str, list]:
    """The per-row core of both entries: detect, parse and identify
    the language of one batch. Returns every output column except
    ``url``, ``warc_ts``, ``part_id`` and ``batch_ms`` as a list in
    batch order, keyed in :data:`OUTPUT_COLUMNS` order. A struct
    element (span, link, child) is a tuple in its fields' order."""
    n = len(html)
    if config.trace_dir:
        import os
        import uuid
        with open(os.path.join(config.trace_dir,
                               f"{uuid.uuid4().hex}_{n}"), "w"):
            pass

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
        langs, dists = default_model().identify_batch(
            [r["text"] for r in results])
        if config.mode == "language":
            # -l CLI mode: the identified language IS the output text
            for r, lg in zip(results, langs):
                r["text"], r["spans"] = lg or "unknown", []
    texts = [r["text"] for r in results]
    return {
        "mime": mimes,
        "charset": [r.get("charset") for r in results],
        "lang": langs,
        "lang_distance": dists,
        "title": [r.get("title") for r in results],
        "text": texts,
        "spans": [r.get("spans", []) for r in results],
        "links": [r.get("links", []) for r in results],
        "metadata": [r.get("metadata", {}) for r in results],
        "status": [r.get("status", "ok") for r in results],
        "error": [r.get("error") for r in results],
        "children": [r.get("children", []) for r in results],
        "n_bytes": [len(b) if b is not None else 0 for b in html],
        "n_chars": [len(t) for t in texts],
    }


def process_batch(pdf: pd.DataFrame, config: ExtractConfig,
                  part_id: int = -1) -> pd.DataFrame:
    """Extract one pandas batch (DataFrame in, DataFrame out) with the
    stage's per-row core: the entry for tests and driver-side replays.
    The Spark stage runs :func:`_extract_record_batch` instead."""
    import pandas as pd

    t0 = time.perf_counter()
    n = len(pdf)
    urls = pdf["url"].tolist() if "url" in pdf else [None] * n
    declared = (pdf["declared_type"].tolist() if "declared_type" in pdf
                else None)
    cols = _extract_columns(pdf["html"].tolist(), urls, declared, config)
    batch_ms = (time.perf_counter() - t0) * 1000.0
    for name, struct in _STRUCT_FIELDS.items():
        cols[name] = [[dict(zip(struct, v)) for v in row]
                      for row in cols[name]]
    return pd.DataFrame({
        "url": urls,
        "warc_ts": (pdf["warc_ts"].values if "warc_ts" in pdf
                    else [None] * n),
        **cols,
        "part_id": part_id,
        "batch_ms": batch_ms,
    })


def _extract_record_batch(batch: pa.RecordBatch, config: ExtractConfig,
                          part_id: int = -1) -> pa.RecordBatch:
    """Extract one Arrow record batch into one of :data:`ARROW_SCHEMA`;
    ``url`` and ``warc_ts`` pass through as Arrow arrays, and absent
    ones are null."""
    t0 = time.perf_counter()
    n = batch.num_rows
    names = batch.schema.names

    def column(name: str) -> pa.Array:
        return (batch.column(name) if name in names
                else pa.nulls(n, ARROW_SCHEMA.field(name).type))

    url = column("url")
    declared = (batch.column("declared_type").to_pylist()
                if "declared_type" in names else None)
    cols = _extract_columns(batch.column("html").to_pylist(),
                            url.to_pylist(), declared, config)
    batch_ms = (time.perf_counter() - t0) * 1000.0
    cols = {"url": url, "warc_ts": column("warc_ts"), **cols,
            "part_id": [part_id] * n, "batch_ms": [batch_ms] * n}
    return pa.RecordBatch.from_arrays(
        [_to_arrow(cols[f.name], f.type) for f in ARROW_SCHEMA],
        schema=ARROW_SCHEMA)


def make_extract_fn(config: ExtractConfig):
    """Build the mapInArrow function (config captured in closure): an
    iterator of ``pa.RecordBatch`` in, one out per input batch."""

    def extract_batches(iterator):
        try:
            from pyspark import TaskContext
            ctx = TaskContext.get()
            part_id = ctx.partitionId() if ctx else -1
        except Exception:
            part_id = -1
        for batch in iterator:
            yield _extract_record_batch(batch, config, part_id)

    return extract_batches
