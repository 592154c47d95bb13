"""OLE2 binary Office extraction (SURVEY.md §2 E7 + B8 OLE2 half).

Container detection mirrors the reference's POIFSContainerDetector
(tika-parsers/.../microsoft/POIFSContainerDetector.java): the set of
top-level directory entry names picks the concrete type. Extraction
mirrors the *output semantics* of the reference's POI-based
extractors (microsoft/OfficeParser.java:72-85, WordExtractor.java,
ExcelExtractor.java, SummaryExtractor.java, OutlookExtractor.java),
re-implemented from the published [MS-DOC]/[MS-XLS]/[MS-PPT]/[MS-OXMSG]
formats — never from POI's source:

- SummaryInformation / DocumentSummaryInformation property sets →
  metadata (title, Author, Keywords, created, Last-Modified, counts);
- Word .doc: piece-table text (CLX in the 0Table/1Table stream,
  compressed-cp1252 vs utf-16 pieces), field codes stripped, one
  paragraph per line;
- Excel .xls: BIFF8 SST + per-sheet cell records, rows TAB-joined,
  one row per line (the <tr><td> shape through the C5 layout);
- PowerPoint .ppt: TextCharsAtom/TextBytesAtom runs, one per line;
- Outlook .msg: subject/from/to/body property substreams, attachments
  as child rows re-entering the detect->route loop (F1 recursion).
"""

from __future__ import annotations

import datetime
import hashlib
import re
import struct
import zlib

from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars
from tika_spark.ole.cfb import CfbFile, MAGIC
from tika_spark.ole.visio import extract_visio_text as _visio_text

_DEFAULT = ExtractConfig()

# ------------------------------------------------------------ detection --

_OUTLOOK_RE = re.compile(r"^__(substg1\.0_|properties_version1\.0"
                         r"|nameid_version1\.0|recip_version1\.0)")


def refine_ole2(data: bytes) -> str:
    """POIFSContainerDetector semantics: entry-name evidence picks the
    concrete OLE2 type; unknown layouts stay the generic office type."""
    if not data.startswith(MAGIC):
        return "application/x-tika-msoffice"
    try:
        names = CfbFile(bytes(data)).top_level_names()
    except Exception:
        return "application/x-tika-msoffice"
    if "WordDocument" in names:
        return "application/msword"
    if "Workbook" in names or "Book" in names:
        return "application/vnd.ms-excel"
    if "PowerPoint Document" in names:
        return "application/vnd.ms-powerpoint"
    if "VisioDocument" in names:
        return "application/vnd.visio"
    if "Quill" in names:
        return "application/x-mspublisher"
    if any(_OUTLOOK_RE.match(n) for n in names):
        return "application/vnd.ms-outlook"
    return "application/x-tika-msoffice"


# ------------------------------------------- property sets (metadata) --

# PIDSI -> metadata key (SummaryInformation FMTID); names follow the
# reference's SummaryExtractor key choices
_PIDSI = {2: "title", 3: "subject", 4: "Author", 5: "Keywords",
          6: "comments", 7: "template", 8: "Last-Author",
          9: "Revision-Number", 12: "created", 13: "Last-Modified",
          14: "Page-Count", 15: "Word-Count", 16: "Character Count",
          18: "Application-Name"}
# PIDDSI (DocumentSummaryInformation)
_PIDDSI = {2: "category", 14: "Manager", 15: "Company",
           17: "Line-Count", 18: "Paragraph-Count", 19: "Slide-Count"}

_EPOCH_1601 = datetime.datetime(1601, 1, 1, tzinfo=datetime.timezone.utc)


# Mac codepage ids (POI CodePageUtil's CP_MAC_* family) → the Python
# codec names (Windows ids map to f"cp{n}" directly; these do not)
_MAC_CODEPAGES = {
    10000: "mac_roman", 10006: "mac_greek", 10007: "mac_cyrillic",
    10029: "mac_latin2", 10079: "mac_iceland", 10081: "mac_turkish",
}


def _parse_property_set(raw: bytes, pidmap: dict[int, str],
                        metadata: dict[str, list[str]]):
    if len(raw) < 48:
        return
    (n_sets,) = struct.unpack_from("<I", raw, 24)
    if n_sets < 1:
        return
    (sec_off,) = struct.unpack_from("<I", raw, 44)
    if sec_off + 8 > len(raw):
        return
    (_cb, n_props) = struct.unpack_from("<II", raw, sec_off)
    # pass 1: the codepage property (PID 1) governs VT_LPSTR decoding
    # (the POI property-set reader honors it; hardcoding cp1252 would
    # garble e.g. Shift-JIS metadata)
    codec = "cp1252"
    for i in range(min(n_props, 64)):
        base = sec_off + 8 + i * 8
        if base + 8 > len(raw):
            break
        pid, off = struct.unpack_from("<II", raw, base)
        p = sec_off + off
        if pid == 1 and p + 8 <= len(raw):
            (vt,) = struct.unpack_from("<I", raw, p)
            if vt & 0xFFFF == 2:
                (cp,) = struct.unpack_from("<h", raw, p + 4)
                cp = cp & 0xFFFF
                if cp == 65001:
                    codec = "utf-8"
                elif cp in _MAC_CODEPAGES:
                    codec = _MAC_CODEPAGES[cp]
                elif cp and cp != 1252:
                    try:
                        # probe with a non-empty byte: the empty-bytes
                        # decode shortcut skips codec lookup entirely,
                        # so b"".decode("cp10000") "succeeds" and the
                        # bogus name then blows up on real data
                        b"\x41".decode(f"cp{cp}")
                        codec = f"cp{cp}"
                    except (LookupError, UnicodeDecodeError):
                        pass
            break
    for i in range(min(n_props, 64)):
        base = sec_off + 8 + i * 8
        if base + 8 > len(raw):
            break
        pid, off = struct.unpack_from("<II", raw, base)
        key = pidmap.get(pid)
        if key is None:
            continue
        p = sec_off + off
        if p + 4 > len(raw):
            continue
        (vt,) = struct.unpack_from("<I", raw, p)
        val = _read_variant(raw, p + 4, vt & 0xFFFF, codec)
        if val is not None and val != "":
            metadata.setdefault(key, []).append(val)


def _read_variant(raw: bytes, p: int, vt: int,
                  codec: str = "cp1252") -> str | None:
    try:
        if vt == 2:    # VT_I2
            return str(struct.unpack_from("<h", raw, p)[0])
        if vt == 3:    # VT_I4
            return str(struct.unpack_from("<i", raw, p)[0])
        if vt == 11:   # VT_BOOL
            return "true" if struct.unpack_from("<H", raw, p)[0] else "false"
        if vt == 30:   # VT_LPSTR (codepage property, NUL-terminated)
            (n,) = struct.unpack_from("<I", raw, p)
            s = raw[p + 4:p + 4 + n].decode(codec, "replace")
            return s.split("\x00", 1)[0]
        if vt == 31:   # VT_LPWSTR
            (n,) = struct.unpack_from("<I", raw, p)
            s = raw[p + 4:p + 4 + 2 * n].decode("utf-16-le", "replace")
            return s.split("\x00", 1)[0]
        if vt == 64:   # VT_FILETIME -> ISO-8601 Z (Metadata.java:51-71)
            (t,) = struct.unpack_from("<Q", raw, p)
            if t == 0:
                return None
            dt = _EPOCH_1601 + datetime.timedelta(microseconds=t // 10)
            return dt.strftime("%Y-%m-%dT%H:%M:%SZ")
    except (struct.error, OverflowError):
        return None
    return None


def _summary_metadata(cfb: CfbFile, metadata: dict[str, list[str]]):
    si = cfb.stream("\x05SummaryInformation")
    if si:
        _parse_property_set(si, _PIDSI, metadata)
    dsi = cfb.stream("\x05DocumentSummaryInformation")
    if dsi:
        _parse_property_set(dsi, _PIDDSI, metadata)


# ----------------------------------------------------------- Word .doc --

# paragraph mark / cell mark / line break / page break -> newline,
# exactly one line per paragraph (WordExtractor emit shape)
_DOC_NEWLINES = {0x0D: "\n", 0x07: "\n", 0x0B: "\n", 0x0C: "\n"}


def _doc_text(cfb: CfbFile) -> str:
    word = cfb.stream("WordDocument")
    if not word or len(word) < 0x200:
        return ""
    (w_ident,) = struct.unpack_from("<H", word, 0)
    # 0xA5EC = Word 8/95 family; 0xA5DC = Word 6.0 (same fcMin/fcMac
    # FIB slots, always the contiguous-text branch below — a format
    # the reference CANNOT read: POI's HWPF throws
    # OldWordFileFormatException on it)
    if w_ident not in (0xA5EC, 0xA5DC):
        return ""
    (n_fib,) = struct.unpack_from("<H", word, 0x0002)
    (flags,) = struct.unpack_from("<H", word, 0x000A)
    if n_fib < 0x00C1:
        # Word 6/95: no piece table — text is the contiguous cp1252
        # run at [fcMin, fcMac) in the WordDocument stream
        fc_min, fc_mac = struct.unpack_from("<II", word, 0x0018)
        if not fc_min < fc_mac <= len(word):
            return ""
        return _doc_clean(word[fc_min:fc_mac].decode("cp1252", "replace"))
    table_name = "1Table" if flags & 0x0200 else "0Table"
    table = cfb.stream(table_name) or cfb.stream("0Table") \
        or cfb.stream("1Table") or b""
    # FIB fibRgLw97: the text stream is partitioned into subranges
    # (MS-DOC 2.5.1) — main, footnotes, headers/footers, macros,
    # comments, endnotes — in that CP order
    (ccp_text, ccp_ftn, ccp_hdd, ccp_mcr, ccp_atn,
     ccp_edn) = struct.unpack_from("<6I", word, 0x004C)
    fc_clx, lcb_clx = struct.unpack_from("<II", word, 0x01A2)

    pieces = _doc_pieces(table[fc_clx:fc_clx + lcb_clx]) if lcb_clx else []
    if not pieces:
        return ""
    chars: list[str] = []
    for (cp_len, fc, compressed) in pieces:
        if compressed:
            seg = word[fc:fc + cp_len].decode("cp1252", "replace")
        else:
            seg = word[fc:fc + 2 * cp_len].decode("utf-16-le", "replace")
        chars.append(seg)
    stream = "".join(chars)
    pos = 0
    main = stream[pos:pos + ccp_text]
    pos += ccp_text
    ftn = stream[pos:pos + ccp_ftn]
    pos += ccp_ftn
    hdd = stream[pos:pos + ccp_hdd]
    pos += ccp_hdd + ccp_mcr
    atn = stream[pos:pos + ccp_atn]
    pos += ccp_atn
    edn = stream[pos:pos + ccp_edn]
    headers, footers = _doc_header_stories(word, table, hdd)
    # reference emit order (microsoft/WordExtractor.java:85-113):
    # header text, body paragraphs, footnotes, comments, endnotes,
    # footer text
    out = [headers, _doc_clean(main)]
    for aux in (ftn, atn, edn):
        cleaned = _doc_clean(aux)
        if cleaned:
            out.append(cleaned if cleaned.endswith("\n")
                       else cleaned + "\n")
    out.append(footers)
    return "".join(out)


def _doc_header_stories(word: bytes, table: bytes,
                        hdd: str) -> tuple[str, str]:
    """Split the header/footer subrange into stories via PlcfHdd
    (FIB fibRgFcLcb97[11], fc at 0x00F2): stories 0-5 are the
    footnote/endnote separators, then per section even/odd header,
    even/odd footer, first header/footer — the POI HeaderStories
    layout the reference routes through (WordExtractor
    getHeaderText/getFooterText). Returns (headers, footers) for the
    first section, each story \\r→newline-normalized with one
    trailing newline, concatenated first/even/odd."""
    if not hdd:
        return "", ""
    try:
        fc, lcb = struct.unpack_from("<II", word, 0x00F2)
    except struct.error:
        return "", ""
    if not lcb or fc + lcb > len(table):
        return "", ""
    plc = table[fc:fc + lcb]
    n = len(plc) // 4
    if n < 2:
        return "", ""
    cps = struct.unpack_from(f"<{n}i", plc, 0)

    def story(i: int) -> str:
        if i + 1 >= n:
            return ""
        a, b = cps[i], cps[i + 1]
        if not 0 <= a <= b <= len(hdd):
            return ""
        txt = _doc_clean(hdd[a:b])
        if txt and not txt.endswith("\n"):
            txt += "\n"
        return txt

    headers = story(10) + story(6) + story(7)   # first, even, odd
    footers = story(11) + story(8) + story(9)
    return headers, footers


def _doc_pieces(clx: bytes) -> list[tuple[int, int, bool]]:
    """CLX -> [(cp_len, byte_offset, compressed)]. Prc blocks (clxt=1)
    are skipped; the Pcdt (clxt=2) holds the PlcPcd piece table."""
    p = 0
    while p < len(clx):
        tag = clx[p]
        if tag == 1:
            (cb,) = struct.unpack_from("<H", clx, p + 1)
            p += 3 + cb
        elif tag == 2:
            (lcb,) = struct.unpack_from("<I", clx, p + 1)
            plc = clx[p + 5:p + 5 + lcb]
            n = (len(plc) - 4) // 12
            if n <= 0:
                return []
            cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
            out = []
            for i in range(n):
                fc_raw, = struct.unpack_from("<I", plc, 4 * (n + 1) + 8 * i + 2)
                compressed = bool(fc_raw & 0x40000000)
                fc = fc_raw & 0x3FFFFFFF
                if compressed:
                    fc //= 2
                out.append((cps[i + 1] - cps[i], fc, compressed))
            return out
        else:
            return []
    return []


_FIELD_CODE_RE = re.compile("\x13[^\x14\x15]*[\x14\x15]?")
_DOC_STRIP_RE = re.compile("[\x00-\x06\x08\x0e-\x1f]")


def _doc_clean(s: str) -> str:
    s = _FIELD_CODE_RE.sub("", s).replace("\x15", "")
    s = "".join(_DOC_NEWLINES.get(ord(c), c) for c in s
                if ord(c) not in (0x13, 0x14, 0x15))
    s = _DOC_STRIP_RE.sub("", s)
    return s


# ---------------------------------------------------------- Excel .xls --


def _xls_records(stream: bytes, start: int = 0):
    p = start
    while p + 4 <= len(stream):
        op, ln = struct.unpack_from("<HH", stream, p)
        yield op, stream[p + 4:p + 4 + ln], p
        p += 4 + ln


def _xls_sst(segments: list[bytes]) -> list[str]:
    """Shared-string table across the SST record payload plus its
    CONTINUE (0x003C) payloads — a normal workbook's SST spans many
    records (8224-byte record cap).

    Continuation rule ([MS-XLS] XLUnicodeRichExtendedString): when
    CHARACTER data splits at a record boundary, the next segment
    begins with a fresh fHighByte option byte for the remaining
    characters; header/run/phonetic bytes split without it.
    """
    out: list[str] = []
    segs = [s for s in segments if s]
    if not segs:
        return out
    i, p = 0, 0

    def need(n: int) -> bytes:
        nonlocal i, p
        parts = bytearray()
        while n:
            while i < len(segs) and p >= len(segs[i]):
                i += 1
                p = 0
            if i >= len(segs):
                raise IndexError("sst truncated")
            take = min(n, len(segs[i]) - p)
            parts += segs[i][p:p + take]
            p += take
            n -= take
        return bytes(parts)

    try:
        _total, unique = struct.unpack("<II", need(8))
        for _ in range(min(unique, 100_000)):
            (cch,) = struct.unpack("<H", need(2))
            grbit = need(1)[0]
            runs = ext = 0
            if grbit & 0x08:  # rich text
                (runs,) = struct.unpack("<H", need(2))
            if grbit & 0x04:  # phonetic
                (ext,) = struct.unpack("<I", need(4))
            high = grbit & 0x01
            chars: list[str] = []
            left = cch
            while left:
                while i < len(segs) and p >= len(segs[i]):
                    i += 1
                    p = 0
                    if i < len(segs) and segs[i]:
                        high = segs[i][0] & 0x01  # continuation grbit
                        p = 1
                if i >= len(segs):
                    raise IndexError("sst chars truncated")
                width = 2 if high else 1
                avail = (len(segs[i]) - p) // width
                if avail <= 0:
                    raise IndexError("sst odd split")
                take = min(left, avail)
                raw = segs[i][p:p + take * width]
                chars.append(raw.decode(
                    "utf-16-le" if high else "cp1252", "replace"))
                p += take * width
                left -= take
            out.append("".join(chars))
            need(4 * runs + ext)  # skip formatting runs + phonetic
    except (struct.error, IndexError):
        pass
    return out


def _rk_value(rk: int) -> str:
    if rk & 0x02:  # integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        val: float = v
    else:
        (val,) = struct.unpack("<d", struct.pack("<Q",
                                                 (rk & 0xFFFFFFFC) << 32))
    if rk & 0x01:
        val = val / 100
    if isinstance(val, float) and val.is_integer():
        return str(int(val))
    return str(val)


def _xls_text(cfb: CfbFile) -> str:
    book = cfb.stream("Workbook") or cfb.stream("Book")
    if not book:
        return ""
    sst_segs: list[bytes] = []
    collecting_sst = False
    sheets: list[tuple[int, str]] = []  # (offset, name)
    for op, payload, _pos in _xls_records(book):
        if op == 0x00FC:
            sst_segs = [payload]
            collecting_sst = True
            continue
        if collecting_sst and op == 0x003C:  # CONTINUE
            sst_segs.append(payload)
            continue
        collecting_sst = False
        if op == 0x0085 and len(payload) >= 8:
            (lb_ply,) = struct.unpack_from("<I", payload, 0)
            cch, grbit = payload[6], payload[7]
            if grbit & 0x01:
                name = payload[8:8 + 2 * cch].decode("utf-16-le", "replace")
            else:
                name = payload[8:8 + cch].decode("cp1252", "replace")
            sheets.append((lb_ply, name))
        elif op == 0x000A:
            break  # EOF of the globals substream (sheets follow)
    sst = _xls_sst(sst_segs)
    lines: list[str] = []
    for lb_ply, name in sheets:
        cells: dict[tuple[int, int], str] = {}
        depth = 0
        for op, payload, _pos in _xls_records(book, lb_ply):
            if op == 0x0809:
                depth += 1
            elif op == 0x000A:
                depth -= 1
                if depth <= 0:
                    break
            elif op == 0x00FD and len(payload) >= 10:
                row, col, _ixfe, isst = struct.unpack_from("<HHHI",
                                                           payload, 0)
                if isst < len(sst):
                    cells[(row, col)] = sst[isst]
            elif op == 0x0203 and len(payload) >= 14:
                row, col = struct.unpack_from("<HH", payload, 0)
                (v,) = struct.unpack_from("<d", payload, 6)
                cells[(row, col)] = (str(int(v)) if v.is_integer()
                                     else str(v))
            elif op == 0x027E and len(payload) >= 10:
                row, col = struct.unpack_from("<HH", payload, 0)
                (rk,) = struct.unpack_from("<I", payload, 6)
                cells[(row, col)] = _rk_value(rk)
            elif op == 0x00BD and len(payload) >= 6:
                row, col0 = struct.unpack_from("<HH", payload, 0)
                nrk = (len(payload) - 6) // 6
                for i in range(nrk):
                    (rk,) = struct.unpack_from("<I", payload, 4 + 6 * i + 2)
                    cells[(row, col0 + i)] = _rk_value(rk)
            elif op == 0x0204 and len(payload) >= 9:
                row, col = struct.unpack_from("<HH", payload, 0)
                (cch,) = struct.unpack_from("<H", payload, 6)
                grbit = payload[8]
                if grbit & 0x01:
                    cells[(row, col)] = payload[9:9 + 2 * cch].decode(
                        "utf-16-le", "replace")
                else:
                    cells[(row, col)] = payload[9:9 + cch].decode(
                        "cp1252", "replace")
        if name:
            lines.append(name)
        rows: dict[int, dict[int, str]] = {}
        for (r, c), v in cells.items():
            rows.setdefault(r, {})[c] = v
        for r in sorted(rows):
            cols = rows[r]
            lines.append("\t".join(cols[c] for c in sorted(cols)))
    return ("\n".join(lines) + "\n") if lines else ""


# ----------------------------------------------------- PowerPoint .ppt --


def _ppt_text(cfb: CfbFile) -> str:
    doc = cfb.stream("PowerPoint Document")
    if not doc:
        return ""
    lines: list[str] = []
    p, n = 0, len(doc)
    while p + 8 <= n:
        (ver_inst, rec_type, rec_len) = struct.unpack_from("<HHI", doc, p)
        p += 8
        if (ver_inst & 0x0F) == 0x0F:
            continue  # container record: descend (payload is records)
        if rec_type == 0x0FA0:   # TextCharsAtom (utf-16-le)
            s = doc[p:p + rec_len].decode("utf-16-le", "replace")
            lines.append(s.replace("\r", "\n").rstrip("\x00"))
        elif rec_type == 0x0FA8:  # TextBytesAtom (cp1252)
            s = doc[p:p + rec_len].decode("cp1252", "replace")
            lines.append(s.replace("\r", "\n").rstrip("\x00"))
        p += rec_len
    return ("\n".join(lines) + "\n") if lines else ""


# ------------------------------------------------------ Publisher .pub --


def _pub_text(cfb: CfbFile) -> str:
    """Publisher text: the Quill/QuillSub/CONTENTS stream's TEXT bits.

    Mirrors the output semantics of the reference's
    PublisherTextExtractor path (microsoft/OfficeParser.java:197-200),
    re-implemented from the Quill stream layout: an 8-byte
    ``CHNKINK\\x20`` signature, then up to 20 bit descriptors of 24
    bytes each starting at 0x20 — marker ``18 00``, a 4-char owner tag,
    three u16 options, a 4-char bit type, and u32 payload (offset,
    length). ``TEXT`` bits hold utf-16-le story text; each story's
    CRs become LFs and stories are newline-joined, matching the
    reference's per-bit ``text + "\\n"`` accumulation.
    """
    contents = cfb.stream("CONTENTS", ("Quill", "QuillSub"))
    if not contents or contents[:8] != b"CHNKINK ":
        return ""
    out: list[str] = []
    for i in range(20):
        off = 0x20 + i * 24
        if off + 24 > len(contents):
            break
        if contents[off] != 0x18 or contents[off + 1] != 0x00:
            continue
        bit_type = contents[off + 12:off + 16]
        start, length = struct.unpack_from("<II", contents, off + 16)
        if bit_type != b"TEXT":
            continue
        raw = contents[start:start + length]
        s = raw[: len(raw) // 2 * 2].decode("utf-16-le", "replace")
        out.append(s.replace("\r", "\n"))
    return ("\n".join(out) + "\n") if out else ""


# -------------------------------------------------------- Outlook .msg --

_SUBSTG_RE = re.compile(r"^__substg1\.0_([0-9A-F]{4})([0-9A-F]{4})$")
_ATTACH_RE = re.compile(r"^__attach_version1\.0_#\d{8}$")

_MSG_PROPS = {"0037": "subject", "0C1A": "Message-From",
              "0E04": "Message-To", "0E03": "Message-Cc"}


def _msg_extract(cfb: CfbFile, metadata: dict[str, list[str]]
                 ) -> tuple[str, list[tuple[str, bytes]]]:
    body = ""
    for e in cfb.entries:
        if e.kind != 2 or e.path != ():
            continue
        m = _SUBSTG_RE.match(e.name)
        if not m:
            continue
        prop, vt = m.group(1), m.group(2)
        raw = cfb.read(e)
        if vt == "001F":
            val = raw.decode("utf-16-le", "replace").rstrip("\x00")
        elif vt == "001E":
            val = raw.decode("cp1252", "replace").rstrip("\x00")
        else:
            continue
        if prop == "1000":
            body = val
        elif prop in _MSG_PROPS:
            metadata.setdefault(_MSG_PROPS[prop], []).append(val)
    children: list[tuple[str, bytes]] = []
    attach_dirs = sorted({e.path[0] for e in cfb.entries
                          if e.path and _ATTACH_RE.match(e.path[0])})
    for d in attach_dirs:
        names: dict[str, str] = {}  # prop id -> decoded name
        payload = None
        for e in cfb.entries:
            if e.path != (d,) or e.kind != 2:
                continue
            m = _SUBSTG_RE.match(e.name)
            if not m:
                continue
            prop, vt = m.group(1), m.group(2)
            if prop in ("3707", "3704") and vt == "001F":
                names[prop] = cfb.read(e).decode(
                    "utf-16-le", "replace").rstrip("\x00")
            elif prop in ("3707", "3704") and vt == "001E":
                names[prop] = cfb.read(e).decode(
                    "cp1252", "replace").rstrip("\x00")
            elif prop == "3701" and vt == "0102":
                payload = cfb.read(e)
        if payload is not None:
            # PidTagAttachLongFilename (3707) beats the 8.3 short
            # name (3704) — OutlookExtractor's preference
            fname = names.get("3707") or names.get("3704")
            children.append((fname or d, payload))
    return body, children


# ------------------------------------------- embedded media / objects --

# OfficeArt BLIP record types (MS-ODRAW 2.2.23+): raster blips carry
# the image after 1-2 16-byte UIDs + a 1-byte tag; metafile blips
# after the UIDs + a 34-byte header whose byte 32 is the compression
# (0 = deflate, 0xFE = none)
_BLIP_RASTER = {0xF01D: "jpg", 0xF01E: "png", 0xF01F: "dib",
                0xF029: "jpg", 0xF02A: "png"}
_BLIP_META = {0xF01A: "emf", 0xF01B: "wmf", 0xF01C: "pict"}
_RASTER_SIGS = ((b"\xff\xd8\xff", "jpg"), (b"\x89PNG", "png"),
                (b"GIF8", "gif"), (b"II*\x00", "tiff"),
                (b"MM\x00*", "tiff"))


def scan_blips(data: bytes) -> list[tuple[str, bytes]]:
    """(ext, image bytes) for every OfficeArt blip found in ``data``
    (a Pictures stream, a Word Data/Table stream, or reassembled
    Excel MsoDrawingGroup payload). Record-header scan: the blip
    length field frames each image, raster payload starts at the
    image magic (UID count varies by recInstance), metafiles are
    inflated per the compression byte. The scan is the
    ParserContainerExtractor image surface (POIFS embedded
    resources) without loading full escher trees."""
    out: list[tuple[str, bytes]] = []
    i, n = 0, len(data)
    while i + 8 <= n:
        vi, rt, ln = struct.unpack_from("<HHI", data, i)
        body = data[i + 8:i + 8 + ln]
        if 16 < ln <= n - i - 8:
            if rt in _BLIP_RASTER:
                hit = None
                for off in (17, 33):
                    for sig, ext in _RASTER_SIGS:
                        if body[off:off + len(sig)] == sig:
                            hit = (off, ext)
                            break
                    if hit:
                        break
                if hit:
                    out.append((hit[1], bytes(body[hit[0]:])))
                    i += 8 + ln
                    continue
            elif rt in _BLIP_META:
                for uid in (16, 32):
                    hdr = body[uid:uid + 34]
                    if len(hdr) != 34:
                        continue
                    comp = hdr[32]
                    payload = bytes(body[uid + 34:])
                    if comp == 0:
                        try:
                            payload = zlib.decompress(payload)
                        except Exception:
                            continue
                    elif comp != 0xFE:
                        continue
                    out.append((_BLIP_META[rt], payload))
                    i += 8 + ln
                    break
                else:
                    i += 1
                    continue
                continue
        i += 1
    return out


def _xls_escher(cfb: CfbFile) -> bytes:
    """Concatenated MSODRAWINGGROUP (0x00EB) + following CONTINUE
    (0x003C) payloads of the Workbook stream — blips span BIFF
    record boundaries, so a raw scan over the stream would truncate
    them."""
    wb = cfb.stream("Workbook") or cfb.stream("Book")
    if not wb:
        return b""
    parts: list[bytes] = []
    in_group = False
    for op, payload, _pos in _xls_records(wb):
        if op == 0x00EB:
            in_group = True
            parts.append(payload)
        elif op == 0x003C and in_group:
            parts.append(payload)
        else:
            in_group = False
    return b"".join(parts)


_INTERNAL_STREAMS = {"\x01Ole", "\x01CompObj", "\x03ObjInfo",
                     "\x03EPRINT", "\x03LinkInfo"}


def _office_children(cfb: CfbFile, mime: str
                     ) -> list[tuple[str, bytes]]:
    """Embedded resources of a binary Office doc, in two families
    (the ParserContainerExtractor surface,
    extractor/ParserContainerExtractor.java semantics):

    - pictures: OfficeArt blips from the format's art stream(s),
      named image1.ext, image2.ext, … in stream order (the POI
      naming the reference pins — 'image1.png' in
      POIContainerExtractionTest);
    - embedded objects: every MBD* storage (Excel) / ObjectPool/_*
      storage (Word): a Package stream is the raw embedded file
      (OOXML zip, pdf); otherwise the storage's streams re-serialize
      into a standalone CFB via the fixture writer and the child is
      '<storage>.<ext>' with ext from the OLE2 container refinement
      ('MBD0003271D.ppt', '_1345471035.ppt' — the reference's own
      expected names).
    """
    children: list[tuple[str, bytes]] = []
    art: list[bytes] = []
    if mime == "application/msword":
        for s in ("Data", "1Table", "0Table", "WordDocument"):
            st = cfb.stream(s)
            if st:
                art.append(st)
    elif mime == "application/vnd.ms-excel":
        art.append(_xls_escher(cfb))
    elif mime == "application/vnd.ms-powerpoint":
        st = cfb.stream("Pictures")
        if st:
            art.append(st)
    seen: set[bytes] = set()
    idx = 0
    for stream_data in art:
        for ext, payload in scan_blips(stream_data):
            digest = hashlib.md5(payload).digest()
            if digest in seen:
                continue    # same blip reachable via two streams
            seen.add(digest)
            idx += 1
            children.append((f"image{idx}.{ext}", payload))

    # --- embedded OLE objects
    objs: dict[tuple, list] = {}
    for e in cfb.entries:
        if e.kind != 2 or not e.path:
            continue
        if e.path[0] == "ObjectPool":
            if len(e.path) < 2:
                continue
            key = e.path[:2]
        elif e.path[0].startswith("MBD"):
            key = e.path[:1]
        else:
            continue
        objs.setdefault(key, []).append(e)
    _EXT = {"application/msword": "doc",
            "application/vnd.ms-excel": "xls",
            "application/vnd.ms-powerpoint": "ppt",
            "application/vnd.visio": "vsd",
            "application/x-mspublisher": "pub"}
    for key in sorted(objs, key=lambda k: k[-1]):
        entries = objs[key]
        names = {e.name for e in entries}
        if "Package" in names:
            pkg = cfb.stream("Package", key)
            if pkg:
                children.append((key[-1] + ".bin", pkg))
            continue
        if "CONTENTS" in names:
            raw = cfb.stream("CONTENTS", key)
            if raw:
                children.append((key[-1] + ".bin", raw))
            continue
        streams = []
        for e in entries:
            if e.name in _INTERNAL_STREAMS:
                continue
            raw = cfb.read(e)
            if raw is not None:
                streams.append((e.path[len(key):], e.name, raw))
        if not streams:
            continue
        try:
            from tika_spark.fixtures.olegen import write_cfb
            rebuilt = write_cfb(streams)
        except Exception:
            continue
        try:
            sub = refine_ole2(rebuilt)
        except Exception:
            sub = None
        ext = _EXT.get(sub or "", "ole")
        children.append((key[-1] + "." + ext, rebuilt))
    return children




def _ole10_native(raw: bytes) -> tuple[str, bytes] | None:
    """(filename, file bytes) from a \x01Ole10Native stream — the
    'packaged file' form of an embedded object (u32 size, u16 flags,
    label\0, source path\0, u32 flags, u32 temp-path len + path,
    u32 data len, data)."""
    try:
        p = 6
        e = raw.index(b"\x00", p)
        label = raw[p:e].decode("cp1252", "replace")
        p = e + 1
        e = raw.index(b"\x00", p)
        p = e + 1
        p += 4
        (tlen,) = struct.unpack_from("<I", raw, p)
        p += 4 + tlen
        (dlen,) = struct.unpack_from("<I", raw, p)
        p += 4
        data = raw[p:p + dlen]
        if dlen and len(data) == dlen:
            return (label or "embedded.bin", bytes(data))
    except Exception:
        pass
    return None


# -------------------------------------------------------------- entry --


def extract_ole(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT,
                mime: str = "application/x-tika-msoffice") -> dict:
    """Extract one OLE2 document. Never raises on content."""
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {"Content-Type": [mime]}
    try:
        cfb = CfbFile(data)
    except Exception as e:
        return {"charset": None, "title": None, "text": "", "spans": [],
                "links": [], "metadata": metadata, "status": "error",
                "error": f"ole2: {e!r}"}
    _summary_metadata(cfb, metadata)
    children: list[tuple[str, bytes]] = []
    try:
        if mime == "application/msword":
            text = _doc_text(cfb)
        elif mime == "application/vnd.ms-excel":
            text = _xls_text(cfb)
        elif mime == "application/vnd.ms-powerpoint":
            text = _ppt_text(cfb)
        elif mime == "application/vnd.ms-outlook":
            text, children = _msg_extract(cfb, metadata)
            if text and not text.endswith("\n"):
                text += "\n"
        elif mime == "application/x-mspublisher":
            text = _pub_text(cfb)
            if text:
                text += "\n"  # the <p> wrap (OfficeParser.java:200)
        elif mime == "application/vnd.visio":
            text = _visio_text(cfb)
        else:
            text = ""  # metadata-only (unknown office layouts)
    except Exception:
        text = ""
    if mime in ("application/msword", "application/vnd.ms-excel",
                "application/vnd.ms-powerpoint"):
        try:
            children = _office_children(cfb, mime)
        except Exception:
            children = []
    elif mime == "application/x-tika-msoffice":
        # a bare OLE wrapper (docx embeddings/oleObjectN.bin): the
        # payload is a root CONTENTS/Package stream or an
        # Ole10Native packaged file
        try:
            for sname, cname in (("CONTENTS", "contents.bin"),
                                 ("Package", "package.bin")):
                raw = cfb.stream(sname)
                if raw:
                    children.append((cname, raw))
            nat = cfb.stream("\x01Ole10Native")
            if nat:
                hit = _ole10_native(nat)
                if hit:
                    children.append(hit)
        except Exception:
            pass
    text = safe_chars(text)
    # no text extracted => metadata_only, whatever metadata holds
    # (the chm/parser.py convention; metadata-only is about TEXT)
    status = "ok" if text else "metadata_only"
    title = metadata.get("title", [None])[0] or \
        metadata.get("subject", [None])[0]
    return {"charset": None, "title": title, "text": text, "spans": [],
            "links": [], "metadata": metadata, "status": status,
            "children": children}
