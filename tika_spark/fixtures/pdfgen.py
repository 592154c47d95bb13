"""Deterministic minimal PDF writer for golden fixtures.

Produces well-formed PDF 1.4 files with a classic xref table, an Info
dictionary, one or more pages, and (optionally Flate-compressed)
content streams using Td/Tj text placement — the exact subset the
from-scratch extractor (tika_spark.pdf.parser) interprets, modeled on
the reference's fixture corpus (testPDF.pdf, testPDFTwoTextBoxes.pdf).
"""

from __future__ import annotations

import functools
import hashlib
import zlib

# ISO 32000 password pad (public spec constant)
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])

_FILE_ID = bytes(range(16))  # deterministic /ID


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = ch ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _std_crypt_material() -> tuple[bytes, bytes, bytes]:
    """(file_key, O, U) for R2/V1 with empty user+owner passwords."""
    okey = hashlib.md5(_PAD).digest()[:5]
    o_val = _rc4(okey, _PAD)
    p = (-1) & 0xFFFFFFFF
    key = hashlib.md5(_PAD + o_val + p.to_bytes(4, "little")
                      + _FILE_ID).digest()[:5]
    u_val = _rc4(key, _PAD)
    return key, o_val, u_val


def _std_crypt_material_r4() -> tuple[bytes, bytes, bytes]:
    """(file_key, O, U) for V4/R4 AES-128 with empty passwords
    (ISO 32000 algorithms 3, 2 and 5 at 128-bit key length)."""
    okey = hashlib.md5(_PAD).digest()
    for _ in range(50):
        okey = hashlib.md5(okey).digest()
    o_val = _rc4(okey, _PAD)
    for step in range(1, 20):
        o_val = _rc4(bytes(b ^ step for b in okey), o_val)
    p = (-1) & 0xFFFFFFFF
    key = hashlib.md5(_PAD + o_val + p.to_bytes(4, "little")
                      + _FILE_ID).digest()
    for _ in range(50):
        key = hashlib.md5(key).digest()
    u_val = _rc4(key, hashlib.md5(_PAD + _FILE_ID).digest())
    for step in range(1, 20):
        u_val = _rc4(bytes(b ^ step for b in key), u_val)
    return key, o_val, u_val + b"\x00" * 16


@functools.cache
def _std_crypt_material_r6() -> tuple[bytes, bytes, bytes, bytes]:
    """(file_key, U, UE, O48) for V5/R6 AES-256 with an empty user
    password (ISO 32000-2 Algorithm 8/9 shapes; deterministic salts
    so identical inputs build identical fixtures)."""
    from tika_spark.pdf.aes import cbc_encrypt_raw
    from tika_spark.pdf.parser import _hash_2b
    file_key = hashlib.sha256(b"fixture-aes256-file-key").digest()
    vsalt = hashlib.sha256(b"fixture-vsalt").digest()[:8]
    ksalt = hashlib.sha256(b"fixture-ksalt").digest()[:8]
    u_val = _hash_2b(b"", vsalt) + vsalt + ksalt
    ue_val = cbc_encrypt_raw(_hash_2b(b"", ksalt), b"\x00" * 16,
                             file_key)
    # owner entries: valid 48-byte shape (empty owner password hashed
    # over U per Algorithm 9); the empty-user-password parser path
    # never reads them, but real files carry them
    ovsalt = hashlib.sha256(b"fixture-ovsalt").digest()[:8]
    oksalt = hashlib.sha256(b"fixture-oksalt").digest()[:8]
    o_val = _hash_2b(b"", ovsalt, u_val) + ovsalt + oksalt
    return file_key, u_val, ue_val, o_val


def _objkey(key: bytes, num: int, aes: bool = False) -> bytes:
    return hashlib.md5(
        key + num.to_bytes(3, "little") + b"\x00\x00"
        + (b"sAlT" if aes else b"")).digest()[:min(len(key) + 5, 16)]


def _aes_enc(key: bytes, num: int, payload: bytes) -> bytes:
    """Deterministic /AESV2 object encryption: IV derived from the
    object number so identical inputs build identical fixtures."""
    from tika_spark.pdf.aes import cbc_encrypt
    iv = hashlib.md5(b"fixture-iv" + num.to_bytes(4, "big")).digest()
    return cbc_encrypt(_objkey(key, num, aes=True), iv, payload)


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _lzw_encode(data: bytes) -> bytes:
    """Minimal valid LZW stream: CLEAR before every literal (the table
    never grows, codes stay 9-bit) then EOD. Bloated but spec-legal —
    decoder coverage, not compression."""
    bits: list[int] = []
    for b in data:
        bits.append(256)
        bits.append(b)
    bits.append(257)
    out = bytearray()
    acc = n = 0
    for code in bits:
        acc = (acc << 9) | code
        n += 9
        while n >= 8:
            out.append((acc >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        out.append((acc << (8 - n)) & 0xFF)
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    """Literal-runs-only RunLength encoding (copy chunks of <=128)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)  # EOD
    return bytes(out)


def make_pdf(pages: list[list[str]], *, title: str | None = None,
             author: str | None = None, subject: str | None = None,
             creator: str | None = None, compress: bool = True,
             two_columns: bool = False, encrypt: bool | str = False,
             freetext: list[str] | None = None,
             link_uri: str | None = None) -> bytes:
    """Build a PDF. ``pages`` is a list of pages, each a list of lines.

    With ``two_columns`` each page's lines are split into a left and a
    right text box emitted as two separate BT/ET blocks (content-stream
    order = left box fully, then right box — the reading-order pin).
    With ``encrypt=True`` the file uses the standard security handler
    (R2, 40-bit RC4) with EMPTY user and owner passwords — streams
    and strings are encrypted per object, the shape the reference's
    empty-password attempt (PDFParser.java:76-99) opens transparently.
    ``encrypt="aes"`` builds the V4/R4 /AESV2 crypt-filter variant
    (AES-128-CBC); ``encrypt="aes256"`` the V5/R6 /AESV3 variant
    (AES-256-CBC, file key used directly per object).
    """
    objects: list[bytes] = []
    aes = encrypt == "aes"
    aes256 = encrypt == "aes256"
    file_key = o_val = u_val = ue_val = None
    if aes:
        file_key, o_val, u_val = _std_crypt_material_r4()
    elif aes256:
        file_key, u_val, ue_val, o_val = _std_crypt_material_r6()
    elif encrypt:
        file_key, o_val, u_val = _std_crypt_material()

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)  # 1-based object number

    def _aes256_enc(num: int, payload: bytes) -> bytes:
        from tika_spark.pdf.aes import cbc_encrypt
        iv = hashlib.md5(b"fixture-iv" + num.to_bytes(4, "big")).digest()
        return cbc_encrypt(file_key, iv, payload)

    def enc_stream(payload: bytes, num: int) -> bytes:
        if aes:
            return _aes_enc(file_key, num, payload)
        if aes256:
            return _aes256_enc(num, payload)
        return _rc4(_objkey(file_key, num), payload) if encrypt else payload

    def enc_str(s: str, num: int) -> str:
        """Literal string in plaintext builds; hex string when encrypted."""
        if not encrypt:
            return f"({_esc(s)})"
        raw = s.encode("latin-1")
        if aes:
            ct = _aes_enc(file_key, num, raw)
        elif aes256:
            ct = _aes256_enc(num, raw)
        else:
            ct = _rc4(_objkey(file_key, num), raw)
        return "<" + ct.hex().upper() + ">"

    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    content_nums = []
    for lines in pages:
        ops = ["BT", "/F1 12 Tf"]
        if two_columns:
            half = (len(lines) + 1) // 2
            boxes = [(72, lines[:half]), (306, lines[half:])]
            for x0, box_lines in boxes:
                ops.append(f"1 0 0 1 {x0} 720 Tm")
                for i, line in enumerate(box_lines):
                    if i:
                        ops.append("0 -14 Td")
                    ops.append(f"({_esc(line)}) Tj")
        else:
            ops.append("1 0 0 1 72 720 Tm")
            for i, line in enumerate(lines):
                if i:
                    ops.append("0 -14 Td")
                ops.append(f"({_esc(line)}) Tj")
        ops.append("ET")
        raw = "\n".join(ops).encode("latin-1")
        num = len(objects) + 1  # number this stream object will get
        # compress: True -> Flate; False -> raw; or a filter name in
        # {"lzw", "rle", "a85"} to exercise the other decoders
        fdecl = b""
        if compress is True or compress == "flate":
            payload, fdecl = zlib.compress(raw), b" /Filter /FlateDecode"
        elif compress == "lzw":
            payload, fdecl = _lzw_encode(raw), b" /Filter /LZWDecode"
        elif compress == "rle":
            payload, fdecl = _rle_encode(raw), b" /Filter /RunLengthDecode"
        elif compress == "a85":
            import base64
            payload = base64.a85encode(raw) + b"~>"
            fdecl = b" /Filter /ASCII85Decode"
        else:
            payload = raw
        payload = enc_stream(payload, num)
        body = (b"<< /Length " + str(len(payload)).encode() + fdecl
                + b" >>\nstream\n" + payload + b"\nendstream")
        content_nums.append(add(body))

    # annotation objects (FreeText notes + a link) attached to page 1
    annot_nums: list[int] = []
    for note in (freetext or []):
        num = len(objects) + 1
        annot_nums.append(add(
            (f"<< /Type /Annot /Subtype /FreeText /Rect [10 10 100 30] "
             f"/Contents {enc_str(note, num)} >>").encode()))
    if link_uri is not None:
        num = len(objects) + 1
        annot_nums.append(add(
            (f"<< /Type /Annot /Subtype /Link /Rect [0 0 50 50] "
             f"/A << /S /URI /URI {enc_str(link_uri, num)} >> >>"
             ).encode()))

    page_nums = []
    pages_num_placeholder = len(objects) + len(pages) + 1
    for pi, cn in enumerate(content_nums):
        annots = ""
        if annot_nums and pi == 0:
            annots = ("/Annots ["
                      + " ".join(f"{a} 0 R" for a in annot_nums) + "] ")
        page_nums.append(add(
            (f"<< /Type /Page /Parent {pages_num_placeholder} 0 R "
             f"/MediaBox [0 0 612 792] /Contents {cn} 0 R {annots}"
             f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
             ).encode()))

    kids = " ".join(f"{n} 0 R" for n in page_nums)
    pages_num = add((f"<< /Type /Pages /Kids [{kids}] "
                     f"/Count {len(page_nums)} >>").encode())
    assert pages_num == pages_num_placeholder
    catalog_num = add((f"<< /Type /Catalog /Pages {pages_num} 0 R >>").encode())

    info_candidate = len(objects) + 1  # number Info will get if added
    info_entries = []
    for key, val in (("Title", title), ("Author", author),
                     ("Subject", subject), ("Creator", creator)):
        if val is not None:
            info_entries.append(f"/{key} {enc_str(val, info_candidate)}")
    info_num = add(("<< " + " ".join(info_entries) + " >>").encode()) \
        if info_entries else None

    enc_num = None
    if aes256:
        from tika_spark.pdf.aes import cbc_encrypt_raw
        # /Perms: 16 bytes, P + 'T' + 'adb' padding, AES-256-ECB with
        # the file key (ECB == raw CBC with a zero IV for one block)
        perms = ((-1 & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
                 + b"T" + b"adb" + b"fix!")
        perms_ct = cbc_encrypt_raw(file_key, b"\x00" * 16, perms)
        enc_num = add((f"<< /Filter /Standard /V 5 /R 6 /Length 256 "
                       f"/CF << /StdCF << /CFM /AESV3 /AuthEvent "
                       f"/DocOpen /Length 32 >> >> "
                       f"/StmF /StdCF /StrF /StdCF "
                       f"/O <{o_val.hex().upper()}> "
                       f"/U <{u_val.hex().upper()}> "
                       f"/OE <{'00' * 32}> "
                       f"/UE <{ue_val.hex().upper()}> "
                       f"/Perms <{perms_ct.hex().upper()}> "
                       f"/P -1 >>").encode())
    elif aes:
        enc_num = add((f"<< /Filter /Standard /V 4 /R 4 /Length 128 "
                       f"/CF << /StdCF << /CFM /AESV2 /AuthEvent "
                       f"/DocOpen /Length 16 >> >> "
                       f"/StmF /StdCF /StrF /StdCF "
                       f"/O <{o_val.hex().upper()}> "
                       f"/U <{u_val.hex().upper()}> /P -1 >>").encode())
    elif encrypt:
        enc_num = add((f"<< /Filter /Standard /V 1 /R 2 "
                       f"/O <{o_val.hex().upper()}> "
                       f"/U <{u_val.hex().upper()}> /P -1 >>").encode())

    # assemble with xref
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    n = len(objects) + 1
    out += f"xref\n0 {n}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    trailer = f"trailer\n<< /Size {n} /Root {catalog_num} 0 R"
    if info_num:
        trailer += f" /Info {info_num} 0 R"
    if enc_num:
        trailer += (f" /Encrypt {enc_num} 0 R /ID [<{_FILE_ID.hex()}> "
                    f"<{_FILE_ID.hex()}>]")
    trailer += f" >>\nstartxref\n{xref_pos}\n%%EOF\n"
    out += trailer.encode()
    return bytes(out)


def make_pdf_cid(lines: list[str]) -> bytes:
    """PDF whose text uses a 2-byte CID-style encoding with a
    /ToUnicode CMap — the embedded-subset-font shape where a latin-1
    decode of the show strings yields garbage. One bfchar entry per
    distinct character, codes assigned from 1."""
    codes: dict[str, int] = {}
    for line in lines:
        for ch in line:
            codes.setdefault(ch, len(codes) + 1)
    bfchars = "\n".join(
        f"<{c:04X}> <{ord(ch):04X}>" for ch, c in codes.items())
    cmap = ("/CIDInit /ProcSet findresource begin\n"
            "begincodespacerange <0000> <FFFF> endcodespacerange\n"
            f"{len(codes)} beginbfchar\n{bfchars}\nendbfchar\n"
            "end").encode("ascii")

    ops = ["BT", "/F1 12 Tf", "1 0 0 1 72 720 Tm"]
    for i, line in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        hexs = "".join(f"{codes[ch]:04X}" for ch in line)
        ops.append(f"<{hexs}> Tj")
    ops.append("ET")
    content = "\n".join(ops).encode("ascii")

    objects: list[bytes] = []

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    cmap_num = add(b"<< /Length " + str(len(cmap)).encode()
                   + b" >>\nstream\n" + cmap + b"\nendstream")
    font_num = add((f"<< /Type /Font /Subtype /Type0 /BaseFont /Sub-F "
                    f"/ToUnicode {cmap_num} 0 R >>").encode())
    content_num = add(b"<< /Length " + str(len(content)).encode()
                      + b" >>\nstream\n" + content + b"\nendstream")
    page_num = add((f"<< /Type /Page /Parent {len(objects) + 2} 0 R "
                    f"/MediaBox [0 0 612 792] /Contents {content_num} 0 R "
                    f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
                    ).encode())
    pages_num = add((f"<< /Type /Pages /Kids [{page_num} 0 R] "
                     f"/Count 1 >>").encode())
    catalog_num = add((f"<< /Type /Catalog /Pages {pages_num} 0 R >>"
                       ).encode())

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    n = len(objects) + 1
    out += f"xref\n0 {n}\n".encode() + b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {n} /Root {catalog_num} 0 R >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n").encode()
    return bytes(out)


def make_pdf_objstm(lines: list[str], *, title: str | None = None) -> bytes:
    """Build a PDF 1.5-style file: catalog, page tree, page and Info
    dictionaries packed into a Flate-compressed /Type/ObjStm, with the
    trailer carried by a /Type/XRef cross-reference stream (no classic
    ``trailer`` keyword) — the layout modern writers emit and the other
    half of the extractor's trailer/object discovery surface.
    """
    ops = ["BT", "/F1 12 Tf", "1 0 0 1 72 720 Tm"]
    for i, line in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        ops.append(f"({_esc(line)}) Tj")
    ops.append("ET")
    content = zlib.compress("\n".join(ops).encode("latin-1"))

    # objects 2-5 live inside the ObjStm (obj 1)
    inner = {
        2: "<< /Type /Catalog /Pages 3 0 R >>",
        3: "<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        4: ("<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
            "/Contents 6 0 R >>"),
    }
    if title is not None:
        inner[5] = f"<< /Title ({_esc(title)}) >>"
    offsets, body = [], ""
    for num, src in inner.items():
        offsets.append(f"{num} {len(body)}")
        body += src + "\n"
    payload = (" ".join(offsets) + "\n").encode("latin-1")
    first = len(payload)
    objstm = zlib.compress(payload + body.encode("latin-1"))

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")

    def emit(num: int, dict_src: str, stream: bytes | None = None):
        out.extend(f"{num} 0 obj\n{dict_src}".encode("latin-1"))
        if stream is not None:
            out.extend(b"\nstream\n" + stream + b"\nendstream")
        out.extend(b"\nendobj\n")

    emit(1, f"<< /Type /ObjStm /N {len(inner)} /First {first} "
            f"/Filter /FlateDecode /Length {len(objstm)} >>", objstm)
    emit(6, f"<< /Length {len(content)} /Filter /FlateDecode >>", content)
    xref_pos = len(out)
    trailer = "<< /Type /XRef /Size 8 /Root 2 0 R"
    if title is not None:
        trailer += " /Info 5 0 R"
    # the xref stream payload itself is unused by our scanner; a stub is
    # enough to keep the file shape honest
    trailer += " /W [1 2 1] /Length 2 >>"
    emit(7, trailer, b"\x00\x00")
    out.extend(f"startxref\n{xref_pos}\n%%EOF\n".encode())
    return bytes(out)


def make_pdf_images(lines: list[str], jpeg: bytes | None = None,
                    gray=None) -> bytes:
    """One-page PDF with embedded /XObject raster images: ``jpeg``
    rides verbatim as a DCTDecode stream (the dominant real-world
    shape); ``gray`` (h, w) uint8 re-compresses as FlateDecode
    DeviceGray. The content stream paints both (Do operators) after
    the text, matching what real generators emit."""
    import zlib as _z

    import numpy as _np

    objects: list[bytes] = []

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    xob = []
    draw = []
    if jpeg is not None:
        # dimensions from the SOF header for honest /Width /Height
        w = h = 8
        i = 2
        while i + 9 < len(jpeg):
            if jpeg[i] == 0xFF and jpeg[i + 1] in (0xC0, 0xC2):
                h = int.from_bytes(jpeg[i + 5:i + 7], "big")
                w = int.from_bytes(jpeg[i + 7:i + 9], "big")
                break
            i += 1
        n = add((f"<< /Type /XObject /Subtype /Image /Width {w} "
                 f"/Height {h} /ColorSpace /DeviceRGB "
                 f"/BitsPerComponent 8 /Filter /DCTDecode "
                 f"/Length {len(jpeg)} >>").encode()
                + b"\nstream\n" + jpeg + b"\nendstream")
        xob.append(f"/Im0 {n} 0 R")
        draw += ["q", f"{w} 0 0 {h} 72 500 cm", "/Im0 Do", "Q"]
    if gray is not None:
        arr = _np.asarray(gray, dtype=_np.uint8)
        h, w = arr.shape[:2]
        comp = _z.compress(arr.tobytes())
        n = add((f"<< /Type /XObject /Subtype /Image /Width {w} "
                 f"/Height {h} /ColorSpace /DeviceGray "
                 f"/BitsPerComponent 8 /Filter /FlateDecode "
                 f"/Length {len(comp)} >>").encode()
                + b"\nstream\n" + comp + b"\nendstream")
        xob.append(f"/Im1 {n} 0 R")
        draw += ["q", f"{w} 0 0 {h} 300 500 cm", "/Im1 Do", "Q"]

    ops = ["BT", "/F1 12 Tf", "1 0 0 1 72 720 Tm"]
    for i, line in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        ops.append(f"({_esc(line)}) Tj")
    ops.append("ET")
    ops.extend(draw)
    content = "\n".join(ops).encode("latin-1")

    font_num = add(b"<< /Type /Font /Subtype /Type1 "
                   b"/BaseFont /Helvetica >>")
    content_num = add(b"<< /Length " + str(len(content)).encode()
                      + b" >>\nstream\n" + content + b"\nendstream")
    page_num = add((f"<< /Type /Page /Parent {len(objects) + 2} 0 R "
                    f"/MediaBox [0 0 612 792] "
                    f"/Contents {content_num} 0 R "
                    f"/Resources << /Font << /F1 {font_num} 0 R >> "
                    f"/XObject << {' '.join(xob)} >> >> >>").encode())
    pages_num = add((f"<< /Type /Pages /Kids [{page_num} 0 R] "
                     f"/Count 1 >>").encode())
    catalog_num = add((f"<< /Type /Catalog /Pages {pages_num} 0 R >>"
                       ).encode())

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    n = len(objects) + 1
    out += f"xref\n0 {n}\n".encode() + b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {n} /Root {catalog_num} 0 R >>\n"
            f"startxref\n{xref_pos}\n%%EOF\n").encode()
    return bytes(out)
