"""Archive parsers: zip, gzip, tar, bzip2, xz/lzma, ar, cpio
(SURVEY.md §2 E6).

Reimplements the semantics of the reference's PackageParser/
PackageExtractor (tika-parsers/.../pkg/PackageParser.java:40-62,
PackageExtractor.java): each archive entry is announced in the parent
document's text as a package-entry heading (the ``<div
class="package-entry"><h1>name`` frame serialized through the C5
layout contract → one name per line), and the entry bytes are handed
to the embedded-document machinery for recursive parsing.

Spark-native recursion (F1): instead of recursing inside the parser,
entries are returned as a ``children`` list ``[(name, bytes), ...]``;
the driver-side fixpoint in ``tika_spark.pipeline.job.extract_recursive``
explodes them into new rows that re-enter detect → route → parse,
bounded by MAX_EMBED_DEPTH (the reference's package-nesting guard,
tika-core/.../sax/SecureContentHandler.java:80).

Zip-bomb guards (SecureContentHandler.java:65-80 transferred):
- total decompressed bytes ≤ ``config.output_budget(input bytes)``
- at most MAX_PKG_ENTRIES entries surfaced
- per-entry decompression is streamed with a hard cap, so a
  pathological member cannot OOM an executor.
"""

from __future__ import annotations

import bz2
import io
import lzma
import tarfile
import zipfile
import struct
import zlib

from tika_spark.analysis.bitio import LsbReader
from tika_spark.config import ExtractConfig, output_budget

_DEFAULT = ExtractConfig()

MAX_PKG_ENTRIES = 1000
# Implode members at or below this size are decoded in full (so the
# CRC guard runs) even when the recursion byte budget would truncate
# the child; above it, the capped decode skips CRC like stdlib zipfile
_IMPLODE_CRC_BOUND = 8 << 20


# ------------------------------------------------ PKWARE Implode --

def _sf_table(lengths: list[int]) -> dict:
    """Shannon-Fano decode table per the published APPNOTE.TXT
    recipe: stable-sort symbols by bit length, assign 16-bit codes
    walking the sorted list from the end with per-length increments
    1 << (16 - len), then bit-reverse the top `len` bits — the form
    the LSB-first bitstream carries. Verified CRC-exact against real
    PKZIP 1.x members (moby.zip)."""
    order = sorted(range(len(lengths)), key=lambda s: (lengths[s], s))
    code = inc = last = 0
    codes = [0] * len(lengths)
    for i in range(len(order) - 1, -1, -1):
        sym = order[i]
        bl = lengths[sym]
        code += inc
        if bl != last:
            last = bl
            inc = 1 << (16 - bl)
        codes[sym] = code
    table: dict = {}
    for sym, bl in enumerate(lengths):
        top = codes[sym] >> (16 - bl)
        rev = int(format(top, f"0{bl}b")[::-1], 2)
        table[(bl, rev)] = sym
    return table


def _sf_read_tree(data: bytes, pos: int) -> tuple[dict, int]:
    n = data[pos] + 1
    pos += 1
    lengths: list[int] = []
    for i in range(n):
        b = data[pos + i]
        lengths.extend([(b & 0xF) + 1] * ((b >> 4) + 1))
    return _sf_table(lengths), pos + n


class _ImplodeBits(LsbReader):
    # explode() reports every truncation, tree headers included, as
    # IndexError
    __slots__ = ()
    error = IndexError


def _sf(br: LsbReader, table: dict) -> int:
    """One Shannon-Fano symbol, read first bit lowest."""
    v = bl = 0
    while bl <= 16:
        v |= br.read(1) << bl
        bl += 1
        s = table.get((bl, v))
        if s is not None:
            return s
    raise ValueError("bad Shannon-Fano code")


def explode(data: bytes, usize: int, flags: int) -> bytes:
    """Decompress one PKZIP method-6 (Implode) member, from scratch
    per APPNOTE.TXT: general-flag bit 1 selects the 8K window (7 raw
    low distance bits vs 6), bit 2 a third Shannon-Fano tree coding
    literals (and minimum match 3 vs 2). Stream: per token one raw
    bit — 1 = literal (SF-coded or raw byte), 0 = match of
    (low raw bits | SF-coded high) distance and SF-coded length
    (63 extends by 8 raw bits)."""
    big_dict = bool(flags & 0x02)
    has_lit = bool(flags & 0x04)
    pos = 0
    lit_t = None
    if has_lit:
        lit_t, pos = _sf_read_tree(data, pos)
    len_t, pos = _sf_read_tree(data, pos)
    dist_t, pos = _sf_read_tree(data, pos)
    br = _ImplodeBits(data, pos)
    low_bits = 7 if big_dict else 6
    minlen = 3 if has_lit else 2
    out = bytearray()
    while len(out) < usize:
        if br.read(1):
            out.append(_sf(br, lit_t) if has_lit else br.read(8))
        else:
            low = br.read(low_bits)
            dist = (_sf(br, dist_t) << low_bits) | low
            ln = _sf(br, len_t)
            if ln == 63:
                ln += br.read(8)
            ln += minlen
            start = len(out) - dist - 1
            for i in range(ln):
                out.append(out[start + i] if start + i >= 0 else 0)
    return bytes(out[:usize])


def _zip_raw_member(data: bytes, info) -> bytes:
    """Raw compressed bytes of one member via its local header."""
    off = info.header_offset
    nlen, elen = struct.unpack_from("<HH", data, off + 26)
    start = off + 30 + nlen + elen
    return data[start:start + info.compress_size]


def _zip_children(data: bytes, budget: int):
    out, used, truncated = [], 0, False
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            if len(out) >= MAX_PKG_ENTRIES or used >= budget:
                return out, True
            cap = budget - used
            try:
                if info.compress_type == 6:
                    # PKZIP 1.x Implode: stdlib zipfile cannot read
                    # it; the from-scratch explode() can (CRC-checked).
                    # Modest members decode in full even past the
                    # budget cap so the CRC guard still applies (the
                    # cap then truncates AFTER verification); only
                    # genuinely huge members take the capped,
                    # unverified path — mirroring stdlib zipfile's
                    # truncated reads, which also skip CRC.
                    want = info.file_size \
                        if info.file_size <= _IMPLODE_CRC_BOUND \
                        else min(info.file_size, cap + 1)
                    payload = explode(_zip_raw_member(data, info),
                                      want, info.flag_bits)
                    if len(payload) == info.file_size and \
                            (zlib.crc32(payload) & 0xFFFFFFFF) \
                            != info.CRC:
                        continue
                    payload = payload[:cap + 1]
                else:
                    with zf.open(info) as f:
                        payload = f.read(cap + 1)
            except Exception:
                # one encrypted/CRC-corrupt member must not discard
                # the members already extracted (H1 fault isolation;
                # the reference streams entries out as they parse)
                continue
            if len(payload) > cap:
                payload, truncated = payload[:cap], True
            used += len(payload)
            out.append((info.filename, payload))
    return out, truncated


def _gzip_child(data: bytes, url: str | None, budget: int):
    d = zlib.decompressobj(wbits=31)
    payload = d.decompress(data, budget)
    truncated = bool(d.unconsumed_tail)
    name = "gz-entry"
    if url:
        base = url.rstrip("/").rsplit("/", 1)[-1]
        name = base[:-3] if base.lower().endswith(".gz") else base
    return [(name, payload)], truncated


def _zstd_child(data: bytes, url: str | None, budget: int):
    """Zstandard member (from-scratch decoder, analysis/zstdcodec.py)
    — one logical child like the gzip/bzip2/xz members."""
    from tika_spark.analysis.zstdcodec import decompress
    payload = decompress(data, max_out=budget)
    name = "zst-entry"
    if url:
        base = url.rstrip("/").rsplit("/", 1)[-1]
        name = base[:-4] if base.lower().endswith(".zst") else base
    return [(name, payload)], False


def _tar_children(data: bytes, budget: int):
    out, used, truncated = [], 0, False
    with tarfile.open(fileobj=io.BytesIO(data), mode="r:") as tf:
        try:
            for member in tf:
                if not member.isfile():
                    continue
                if len(out) >= MAX_PKG_ENTRIES or used >= budget:
                    return out, True
                cap = budget - used
                try:
                    f = tf.extractfile(member)
                    if f is None:
                        continue
                    payload = f.read(cap + 1)
                except Exception:
                    continue  # keep members already extracted (H1)
                if len(payload) > cap:
                    payload, truncated = payload[:cap], True
                used += len(payload)
                out.append((member.name, payload))
        except Exception:
            # a corrupt header mid-archive ends the walk but keeps
            # everything extracted before it
            return out, True
    return out, truncated


def _ar_children(data: bytes, budget: int):
    """Unix ar archives (``!<arch>`` + 60-byte ASCII headers) — the
    commons-compress ArArchiveInputStream subset (PackageParser ar
    support). GNU long-name table (``//``) resolved; symbol index
    (``/``) skipped."""
    out, used, truncated = [], 0, False
    longnames = b""
    p = 8
    while p + 60 <= len(data):
        hdr = data[p:p + 60]
        if hdr[58:60] != b"`\n":
            break
        name = hdr[0:16].decode("ascii", "replace").rstrip()
        try:
            size = int(hdr[48:58].decode("ascii").strip() or 0)
        except ValueError:
            break
        body = data[p + 60:p + 60 + size]
        p += 60 + size + (size & 1)  # entries 2-byte aligned
        if name == "/":
            continue  # symbol index
        if name == "//":
            longnames = body
            continue
        if name.startswith("/") and name[1:].isdigit():
            off = int(name[1:])
            end = longnames.find(b"\n", off)
            name = longnames[off:end if end >= 0 else None] \
                .decode("ascii", "replace").rstrip("/")
        name = name.rstrip("/")
        if len(out) >= MAX_PKG_ENTRIES or used >= budget:
            return out, True
        cap = budget - used
        if len(body) > cap:
            body, truncated = body[:cap], True
        used += len(body)
        out.append((name, body))
    return out, truncated


def _cpio_children(data: bytes, budget: int):
    """cpio "newc"/"crc" ASCII archives (magics 070701/070702) — the
    commons-compress CpioArchiveInputStream subset."""
    out, used, truncated = [], 0, False
    p = 0
    while p + 110 <= len(data):
        magic = data[p:p + 6]
        if magic not in (b"070701", b"070702"):
            break
        try:
            namesize = int(data[p + 94:p + 102], 16)
            filesize = int(data[p + 54:p + 62], 16)
        except ValueError:
            break
        name_start = p + 110
        name = data[name_start:name_start + namesize - 1] \
            .decode("ascii", "replace")
        body_start = name_start + namesize
        body_start += (-(body_start)) % 4  # pad to 4
        body = data[body_start:body_start + filesize]
        p = body_start + filesize
        p += (-p) % 4
        if name == "TRAILER!!!":
            break
        if filesize == 0:
            continue  # directories
        if len(out) >= MAX_PKG_ENTRIES or used >= budget:
            return out, True
        cap = budget - used
        if len(body) > cap:
            body, truncated = body[:cap], True
        used += len(body)
        out.append((name, body))
    return out, truncated


def _bzip2_child(data: bytes, url: str | None, budget: int):
    d = bz2.BZ2Decompressor()
    payload = d.decompress(data, budget)
    truncated = not d.eof
    name = "bz2-entry"
    if url:
        base = url.rstrip("/").rsplit("/", 1)[-1]
        name = base[:-4] if base.lower().endswith(".bz2") else base
    return [(name, payload)], truncated


def _xz_child(data: bytes, url: str | None, budget: int):
    """xz / legacy-lzma single-stream member (FORMAT_AUTO covers both;
    the commons-compress XZCompressorInputStream surface). Budget-capped
    streaming like the gzip/bzip2 members."""
    d = lzma.LZMADecompressor()
    payload = d.decompress(data, budget)
    truncated = not d.eof
    name = "xz-entry"
    if url:
        base = url.rstrip("/").rsplit("/", 1)[-1]
        low = base.lower()
        if low.endswith(".xz") or low.endswith(".lz"):
            name = base[: base.rfind(".")]
        elif low.endswith(".lzma"):
            name = base[:-5]
        elif low.endswith(".txz") or low.endswith(".tlz"):
            name = base[:-4] + ".tar"
        else:
            name = base
    return [(name, payload)], truncated


_HANDLER_FAMILIES = frozenset((
    "application/x-gzip", "application/x-bzip2", "application/x-tar",
    "application/x-archive", "application/x-cpio", "application/zip",
    "application/x-xz", "application/x-lzma",
    "application/zstd", "application/x-7z-compressed"))


def extract_package(data: bytes, url: str | None = None,
                    declared_type: str | None = None,
                    config: ExtractConfig = _DEFAULT,
                    mime: str | None = None) -> dict:
    """Extract one archive: entry-name text + children for recursion."""
    data = bytes(data or b"")
    budget = output_budget(len(data))

    if mime is None:
        mime = ("application/x-gzip" if data[:2] == b"\x1f\x8b" else
                "application/x-bzip2" if data[:3] == b"BZh" else
                "application/x-xz" if data[:6] == b"\xfd7zXZ\x00" else
                "application/zstd"
                if data[:4] == b"\x28\xb5\x2f\xfd" else
                "application/x-7z-compressed"
                if data[:6] == b"7z\xbc\xaf\x27\x1c" else
                "application/x-tar" if data[257:262] == b"ustar" else
                "application/zip")
    elif mime not in _HANDLER_FAMILIES:
        # archive *subtypes* (x-debian-package -> x-archive, jar/kmz/
        # apk -> zip) dispatch via their lattice supertype family, so
        # a glob-specialized name never derails the byte-level handler
        from tika_spark.mime import lattice
        for t in lattice.supertype_chain(mime):
            if t in _HANDLER_FAMILIES:
                mime = t
                break
    error = None
    try:
        if mime == "application/x-gzip":
            children, truncated = _gzip_child(data, url, budget)
        elif mime == "application/x-bzip2":
            children, truncated = _bzip2_child(data, url, budget)
        elif mime == "application/x-tar":
            children, truncated = _tar_children(data, budget)
        elif mime == "application/x-archive":
            children, truncated = _ar_children(data, budget)
        elif mime == "application/x-cpio":
            children, truncated = _cpio_children(data, budget)
        elif mime in ("application/x-xz", "application/x-lzma"):
            children, truncated = _xz_child(data, url, budget)
        elif mime == "application/zstd":
            children, truncated = _zstd_child(data, url, budget)
        elif mime == "application/x-7z-compressed":
            from tika_spark.pkg.sevenz import sevenz_children
            children, truncated = sevenz_children(
                data, budget, max_entries=MAX_PKG_ENTRIES)
        else:
            children, truncated = _zip_children(data, budget)
    except Exception as e:  # corrupt container -> error row, never raise
        children, truncated = [], False
        error = f"pkg: {e!r}"[:1000]

    # package-entry frame: one <h1>name per entry → name + NEWLINE
    text = "".join(name + "\n" for name, _ in children)
    spans, pos = [], 0
    for name, _ in children:
        spans.append((pos, pos + len(name), "package-entry"))
        pos += len(name) + 1
    return {
        "charset": None,
        "title": None,
        "text": text,
        "spans": spans,
        "links": [],
        "metadata": {"Content-Type": [mime],
                     "package-entry-count": [str(len(children))]},
        "status": ("error" if error else
                   "output_limit" if truncated else "ok"),
        "error": error,
        "children": children,
    }
