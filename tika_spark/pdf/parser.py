"""Minimal from-scratch PDF text + metadata extractor.

Semantics mirrored from the reference's PDF chain:

- reading order is **content-stream order**, never geometric sort
  (tika-parsers/.../pdf/PDF2XHTML.java:84-98 ``setSortByPosition(false)``;
  pinned by PDFParserTest.java:147 — two text boxes come out box by
  box, not interleaved);
- a word separator (single space) is inserted at chunk joins so
  headings and paragraphs never concatenate
  (PDFParserTest.java:67-70 — no "ToolkitApache");
- line separator is ``\\n``; each page is a ``<div class="page">`` with
  one paragraph through the XHTML layout contract -> page text +
  ``\\n`` (p) + ``\\n`` (div)  (PDF2XHTML.java:119-179);
- doc-info dictionary entries Title/Author/Subject/Keywords/Creator/
  Producer/Trapped/CreationDate/ModDate plus custom entries map to
  metadata (PDFParser.java:102-138);
- encrypted or unparseable documents degrade to a metadata-only /
  error row, never an exception (PDFParser.java:76-99 ignores decrypt
  failures).

Supported filters: FlateDecode, ASCIIHexDecode, ASCII85Decode,
RunLengthDecode, LZWDecode, none. Text decoding: fonts with a
/ToUnicode CMap (bfchar/bfrange, 1- or 2-byte codes) are decoded
through it per the current Tf font; fonts without one fall back to a
latin-1-compatible single-byte interpretation.

Encryption: the standard security handler with an EMPTY user password
is attempted exactly like the reference (PDFParser.java:76-99 tries
``""`` and degrades on failure): the key is derived per ISO 32000
algorithms 2/4/5, /U is verified, and strings + streams decrypt with
the per-object key. Covered: RC4 V<=2 / R<=3, V4/R4 crypt filters —
/V2 (RC4) and /AESV2 (AES-128-CBC, from-scratch cipher in
tika_spark.pdf.aes) — and V5/R5-R6 /AESV3 (AES-256-CBC, ISO 32000-2
Algorithm 2.A/2.B password hashing, /UE file-key unwrap, file key
used directly per object). Anything else (user-password protected,
public-key handlers) degrades to the metadata-only ``encrypted`` row.
"""

from __future__ import annotations

import hashlib
import re
import zlib

from tika_spark.config import ExtractConfig
from tika_spark.html.layout import safe_chars

_DEFAULT = ExtractConfig()


# --------------------------------------------------------- filters

def _rle_decode(data: bytes) -> bytes:
    """PDF RunLengthDecode: <=127 = copy n+1 literal bytes; 129..255 =
    repeat next byte 257-n times; 128 = EOD."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n == 128:
            break
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        else:
            if i < len(data):
                out += bytes([data[i]]) * (257 - n)
                i += 1
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (TIFF-style LZW, MSB-first codes, 9->12 bit,
    early-change=1): clear=256, EOD=257."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # early change: width grows one code before the table fills
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


# ------------------------------------------------- empty-password RC4

_PW_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


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


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6 password hash): SHA-256 seed,
    then rounds of AES-128-CBC over (pwd||K||udata)x64 with a
    SHA-256/384/512 pick by the first-16-byte sum mod 3; stop after
    >= 64 rounds once E's last byte <= rounds - 32."""
    from tika_spark.pdf.aes import cbc_encrypt_raw
    k = hashlib.sha256(pwd + salt + udata).digest()
    rounds = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = cbc_encrypt_raw(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[mod](e).digest()
        rounds += 1
        if rounds >= 64 and e[-1] <= rounds - 32:
            return k[:32]


def _std_security_key_v5(enc: dict) -> bytes | None:
    """ISO 32000-2 Algorithm 2.A with the empty USER password
    (R5 legacy single-SHA-256 and R6): verify the /U validation hash,
    then unwrap the 32-byte file key from /UE with AES-256-CBC
    (intermediate key from the key salt, zero IV, no padding)."""
    from tika_spark.pdf.aes import cbc_decrypt_raw
    r = int(enc.get("R", 6))
    u = enc.get("U")
    ue = enc.get("UE")
    if not isinstance(u, bytes) or not isinstance(ue, bytes) \
            or len(u) < 48 or len(ue) < 32:
        return None
    u = bytes(u)
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 5:
        chk = hashlib.sha256(vsalt).digest()
    else:
        chk = _hash_2b(b"", vsalt)
    if chk != u[:32]:
        return None
    inter = hashlib.sha256(ksalt).digest() if r == 5 \
        else _hash_2b(b"", ksalt)
    return cbc_decrypt_raw(inter, b"\x00" * 16, bytes(ue)[:32])


def _std_security_key(enc: dict, id0: bytes) -> bytes | None:
    """ISO 32000 algorithm 2 with the empty user password; returns the
    file key iff /U verifies (algorithms 4/5), else None. Covers
    V1/V2 (RC4, R2/R3), V4/R4 (crypt filters — the AES-128 /AESV2
    shape PDFBox opens for the reference, pdf/PDFParser.java:76-99),
    and V5/R5-R6 (AES-256 /AESV3, ISO 32000-2 Algorithm 2.A/2.B)."""
    try:
        v = int(enc.get("V", 0))
        r = int(enc.get("R", 2))
        if str(enc.get("Filter", "Standard")) != "Standard" \
                or v > 5 or r > 6 or v == 3:
            return None
        if v == 5:
            return _std_security_key_v5(enc) if r in (5, 6) else None
        o = enc.get("O")
        u = enc.get("U")
        if not isinstance(o, bytes) or not isinstance(u, bytes):
            return None
        o, u = bytes(o), bytes(u)
        p = int(enc.get("P", -1)) & 0xFFFFFFFF
        nbytes = 5 if v == 1 else max(
            5, min(16, int(enc.get("Length", 128 if v == 4 else 40))
                   // 8))
        h = hashlib.md5()
        h.update(_PW_PAD)
        h.update(o[:32])
        h.update(p.to_bytes(4, "little"))
        h.update(id0)
        if r >= 4 and enc.get("EncryptMetadata") is False:
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        if r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:nbytes]).digest()
        key = key[:nbytes]
        if r == 2:
            ok = _rc4(key, _PW_PAD) == u[:32]
        else:
            chk = hashlib.md5(_PW_PAD + id0).digest()
            chk = _rc4(key, chk)
            for step in range(1, 20):
                chk = _rc4(bytes(b ^ step for b in key), chk)
            ok = chk == u[:16]
        return key if ok else None
    except Exception:
        return None


def _crypt_ciphers(enc: dict, resolve) -> tuple[str, str] | None:
    """(stream_cipher, string_cipher) for the document: 'rc4' | 'aes'
    | 'id'. V<4 is bare RC4; V4/V5 route through /CF named crypt
    filters selected by /StmF and /StrF (ISO 32000 7.6.5) — /V2 is
    RC4, /AESV2 is AES-128-CBC, /AESV3 (V5 only) is AES-256-CBC,
    /Identity passes through. Returns None for an unsupported or
    misplaced filter method (e.g. /AESV3 at V4)."""
    v = int(enc.get("V", 0))
    if v < 4:
        return ("rc4", "rc4")
    cf = resolve(enc.get("CF"))

    def one(sel) -> str | None:
        name = str(sel or "Identity")
        if name == "Identity":
            return "id"
        f = resolve(cf.get(name)) if isinstance(cf, dict) else None
        cfm = str((f or {}).get("CFM", "None"))
        if cfm == "AESV2" and v == 4:
            return "aes"
        if cfm == "AESV3" and v == 5:
            return "aes"
        if cfm == "V2":
            return "rc4"
        return None

    stm = one(enc.get("StmF"))
    strf = one(enc.get("StrF"))
    if stm is None or strf is None:
        return None
    return (stm, strf)


def _object_key(file_key: bytes, num: int, gen: int,
                aes: bool = False) -> bytes:
    """Per-object key (ISO 32000 7.6.2 algorithm 1); /AESV2 appends
    the spec's 'sAlT' constant to the hash input."""
    h = hashlib.md5(file_key + num.to_bytes(3, "little")
                    + gen.to_bytes(2, "little")
                    + (b"sAlT" if aes else b"")).digest()
    return h[:min(len(file_key) + 5, 16)]

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_TRAILER_RE = re.compile(rb"trailer\b")

# ---------------------------------------------------------------- lexer --

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment
                nl = d.find(b"\n", self.pos)
                self.pos = n if nl < 0 else nl + 1
            else:
                return

    def parse_object(self):
        self._skip_ws()
        d = self.data
        if self.pos >= len(d):
            return None
        c = d[self.pos]
        if d.startswith(b"<<", self.pos):
            return self._parse_dict()
        if c == 0x3C:  # '<' hex string
            return self._parse_hex_string()
        if c == 0x28:  # '('
            return self._parse_literal_string()
        if c == 0x2F:  # '/'
            return self._parse_name()
        if c == 0x5B:  # '['
            return self._parse_array()
        return self._parse_number_or_keyword()

    def _parse_dict(self):
        self.pos += 2
        out = {}
        while True:
            self._skip_ws()
            if self.data.startswith(b">>", self.pos):
                self.pos += 2
                return out
            if self.pos >= len(self.data):
                return out
            key = self.parse_object()
            if not isinstance(key, Name):
                return out
            out[str(key)] = self.parse_object()

    def _parse_array(self):
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.pos >= len(self.data):
                return out
            if self.data[self.pos] == 0x5D:  # ']'
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_name(self):
        self.pos += 1
        start = self.pos
        d = self.data
        while self.pos < len(d) and d[self.pos] not in _WS and \
                d[self.pos] not in _DELIM:
            self.pos += 1
        raw = d[start:self.pos]
        # #xx hex escapes in names
        raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                     lambda m: bytes([int(m.group(1), 16)]), raw)
        return Name(raw.decode("latin-1"))

    def _parse_literal_string(self):
        self.pos += 1
        d = self.data
        out = bytearray()
        depth = 1
        while self.pos < len(d):
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= len(d):
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out += {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                            0x62: b"\b", 0x66: b"\f"}[e]
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal
                    oct_digits = d[self.pos:self.pos + 3]
                    m = re.match(rb"[0-7]{1,3}", oct_digits)
                    out.append(int(m.group(0), 8) & 0xFF)
                    self.pos += len(m.group(0))
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return PdfString(bytes(out))
                out.append(c)
                self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        return PdfString(bytes(out))

    def _parse_hex_string(self):
        end = self.data.find(b">", self.pos)
        raw = self.data[self.pos + 1: end if end >= 0 else len(self.data)]
        self.pos = (end + 1) if end >= 0 else len(self.data)
        hexs = re.sub(rb"[^0-9A-Fa-f]", b"", raw)
        if len(hexs) % 2:
            hexs += b"0"
        return PdfString(bytes.fromhex(hexs.decode("ascii")))

    _NUM_RE = re.compile(rb"[-+]?\d*\.?\d+")

    def _parse_number_or_keyword(self):
        d = self.data
        m = self._NUM_RE.match(d, self.pos)
        if m:
            # could be "N G R" indirect reference
            save = self.pos
            self.pos = m.end()
            tok = m.group(0)
            if b"." not in tok:
                self._skip_ws()
                m2 = self._NUM_RE.match(d, self.pos)
                if m2 and b"." not in m2.group(0):
                    p2 = m2.end()
                    k = p2
                    while k < len(d) and d[k] in _WS:
                        k += 1
                    if k < len(d) and d[k:k + 1] == b"R" and (
                            k + 1 >= len(d) or d[k + 1] in _WS
                            or d[k + 1] in _DELIM):
                        self.pos = k + 1
                        return Ref(int(tok), int(m2.group(0)))
                self.pos = m.end()
                return int(tok)
            return float(tok)
        # keyword (true/false/null/operator)
        start = self.pos
        while self.pos < len(d) and d[self.pos] not in _WS and \
                d[self.pos] not in _DELIM:
            self.pos += 1
        kw = d[start:self.pos]
        if not kw:
            self.pos += 1
            return None
        return Keyword(kw.decode("latin-1"))


class Name(str):
    pass


class Keyword(str):
    pass


class PdfString(bytes):
    def text(self) -> str:
        if self.startswith(b"\xfe\xff"):
            return self[2:].decode("utf-16-be", errors="replace")
        return self.decode("latin-1")


class Ref(tuple):
    def __new__(cls, num, gen):
        return super().__new__(cls, (num, gen))


# ------------------------------------------------------------- document --


class PdfDocument:
    def __init__(self, data: bytes):
        self.data = data
        self.objects: dict[int, tuple[dict | object, bytes | None]] = {}
        self.gens: dict[int, int] = {}
        self._scan_objects()
        # trailer before ObjStm expansion: an encrypted file's ObjStm
        # payloads must be RC4-decrypted before their inner objects can
        # be parsed, and the key needs /Encrypt + /ID from the trailer
        self.trailer = self._find_trailer()
        self.decrypted = self._try_decrypt()
        self._expand_object_streams()

    def _scan_objects(self):
        """Sequential object scan. Two hostile-input rules:

        - a match starting inside a previous object's extent is a
          byte pattern in stream payload, not a real object — skipped
          (otherwise a crafted stream could shadow a real object,
          'later definitions win');
        - when an object's /Length is a literal int, the stream body
          is taken as exactly that many bytes, so b'endobj'/b'endstream'
          byte sequences inside the payload cannot truncate it.
        """
        d = self.data
        skip_until = 0
        for m in _OBJ_RE.finditer(d):
            if m.start() < skip_until:
                continue
            num = int(m.group(1))
            gen = int(m.group(2)) if m.lastindex and m.lastindex >= 2 \
                else 0
            body_start = m.end()
            end = d.find(b"endobj", body_start)
            sm = re.compile(rb"stream\r?\n").search(
                d, body_start, end if end >= 0 else len(d))
            stream_data = None
            if sm:
                obj_part = d[body_start:sm.start()]
                obj = _Lexer(obj_part).parse_object()
                s_start = sm.end()
                length = obj.get("Length") if isinstance(obj, dict) \
                    else None
                s_end = -1
                if isinstance(length, int) and \
                        0 <= length <= len(d) - s_start:
                    es = d.find(b"endstream", s_start + length)
                    if 0 <= es - (s_start + length) <= 4:
                        stream_data = d[s_start:s_start + length]
                        s_end = es
                if stream_data is None:   # Length indirect/absent/bad
                    es = d.find(b"endstream", s_start)
                    stream_data = d[s_start: es if es >= 0 else None]
                    if stream_data.endswith(b"\r\n"):
                        stream_data = stream_data[:-2]
                    elif stream_data.endswith(b"\n"):
                        stream_data = stream_data[:-1]
                    s_end = es
                end = d.find(b"endobj",
                             s_end if s_end >= 0 else s_start)
            else:
                obj = _Lexer(
                    d[body_start: end if end >= 0 else len(d)]
                ).parse_object()
            skip_until = end + 6 if end >= 0 else len(d)
            # later definitions (incremental updates) win
            self.objects[num] = (obj, stream_data)
            self.gens[num] = gen

    def _try_decrypt(self) -> bool:
        """Empty-password standard-handler decrypt (PDFParser.java:76-99
        semantics). On success every top-level object's strings and
        stream bytes are replaced with plaintext and True is returned;
        on failure the document stays as-is (caller emits the
        ``encrypted`` status row)."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return False
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            return False
        ids = self.trailer.get("ID")
        id0 = bytes(ids[0]) if isinstance(ids, list) and ids and \
            isinstance(ids[0], bytes) else b""
        key = _std_security_key(enc, id0)
        if key is None:
            return False
        ciphers = _crypt_ciphers(enc, self.resolve)
        if ciphers is None:
            return False     # unsupported crypt filter method
        stm_cipher, str_cipher = ciphers
        enc_num = enc_ref[0] if isinstance(enc_ref, Ref) else None

        def apply(cipher: str, okeys, data: bytes) -> bytes:
            if cipher == "aes":
                from tika_spark.pdf.aes import cbc_decrypt
                return cbc_decrypt(okeys[1], data)
            if cipher == "rc4":
                return _rc4(okeys[0], data)
            return data      # Identity

        def walk(obj, okeys):
            if isinstance(obj, PdfString):
                return PdfString(apply(str_cipher, okeys, bytes(obj)))
            if isinstance(obj, dict):
                return {k: walk(v, okeys) for k, v in obj.items()}
            if isinstance(obj, list):
                return [walk(v, okeys) for v in obj]
            return obj
        for num, (obj, raw) in list(self.objects.items()):
            if num == enc_num:
                continue
            # ISO 32000 7.6.2: the per-object key hashes the object's
            # GENERATION, not always 0 (incremental updates re-save
            # objects at gen > 0). V5/AES-256 uses the 32-byte file
            # key directly for every object (ISO 32000-2 7.6.3.3).
            gen = self.gens.get(num, 0)
            if len(key) == 32:
                okeys = (key, key)
            else:
                okeys = (_object_key(key, num, gen),
                         _object_key(key, num, gen, aes=True))
            is_xref = isinstance(obj, dict) and \
                str(obj.get("Type", "")) == "XRef"
            new_obj = obj if is_xref else walk(obj, okeys)
            new_raw = raw
            if raw is not None and not is_xref:  # XRef streams are never
                new_raw = apply(stm_cipher, okeys, raw)  # encrypted
            self.objects[num] = (new_obj, new_raw)
        return True

    def _expand_object_streams(self):
        """Surface objects stored inside /Type/ObjStm compressed object
        streams (PDF 1.5+ — where modern writers put catalogs, page
        dicts and info dicts). Header = N pairs of "objnum offset",
        bodies start at /First. Top-level definitions win (incremental
        updates already override during the scan)."""
        for num, (obj, raw) in list(self.objects.items()):
            if not (isinstance(obj, dict) and raw is not None
                    and str(obj.get("Type", "")) == "ObjStm"):
                continue
            try:
                data = self._decode_stream(obj, raw)
                n = int(self.resolve(obj.get("N")) or 0)
                first = int(self.resolve(obj.get("First")) or 0)
                head = _Lexer(data[:first])
                pairs = []
                for _ in range(n):
                    onum = head.parse_object()
                    off = head.parse_object()
                    pairs.append((int(onum), int(off)))
                for onum, off in pairs:
                    inner = _Lexer(data, first + off).parse_object()
                    if onum not in self.objects:
                        self.objects[onum] = (inner, None)
            except Exception:
                continue  # a broken ObjStm must not sink the document

    def _find_trailer(self) -> dict:
        out: dict = {}
        # PDF 1.5 cross-reference streams: the trailer dict (Root/Info/
        # Encrypt) lives in the /Type/XRef stream dictionary instead of
        # a classic "trailer" keyword. Scan order = file order, so
        # later (incremental-update) xref streams override earlier ones.
        for num in sorted(self.objects):
            obj = self.objects[num][0]
            if isinstance(obj, dict) and str(obj.get("Type", "")) == "XRef":
                out.update(obj)
        for m in _TRAILER_RE.finditer(self.data):
            t = _Lexer(self.data, m.end()).parse_object()
            if isinstance(t, dict):
                out.update(t)
        if "Root" not in out:
            # no classic trailer (e.g. xref streams): find a /Type/Catalog
            for num, (obj, _) in self.objects.items():
                if isinstance(obj, dict) and str(obj.get("Type", "")) == "Catalog":
                    out["Root"] = Ref(num, 0)
                    break
        return out

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref) and depth < 32:
            got = self.objects.get(obj[0])
            obj = got[0] if got else None
            depth += 1
        return obj

    def stream_of(self, ref) -> bytes | None:
        if isinstance(ref, Ref):
            got = self.objects.get(ref[0])
            if not got:
                return None
            obj, raw = got
        else:
            return None
        if raw is None:
            return None
        return self._decode_stream(obj if isinstance(obj, dict) else {}, raw)

    def _decode_stream(self, sdict: dict, raw: bytes) -> bytes:
        filters = sdict.get("Filter")
        filters = [filters] if isinstance(filters, (Name, str)) and \
            not isinstance(filters, list) else (filters or [])
        data = raw
        for f in filters:
            fname = str(self.resolve(f))
            if fname == "FlateDecode":
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    try:
                        data = zlib.decompressobj().decompress(data)
                    except zlib.error:
                        return b""
            elif fname == "ASCIIHexDecode":
                hexs = re.sub(rb"[^0-9A-Fa-f]", b"",
                              data.split(b">", 1)[0])
                if len(hexs) % 2:
                    hexs += b"0"
                data = bytes.fromhex(hexs.decode("ascii"))
            elif fname == "ASCII85Decode":
                try:
                    import base64
                    body = data.split(b"~>", 1)[0]
                    body = re.sub(rb"\s", b"", body)
                    data = base64.a85decode(body)
                except Exception:
                    return b""
            elif fname == "RunLengthDecode":
                data = _rle_decode(data)
            elif fname == "LZWDecode":
                data = _lzw_decode(data)
            else:
                return b""  # unsupported filter: skip stream
        return data

    def pages(self) -> list[dict]:
        """Page dicts in document order via the page tree."""
        root = self.resolve(self.trailer.get("Root"))
        out: list[dict] = []
        if isinstance(root, dict):
            self._walk_pages(self.resolve(root.get("Pages")), out, 0)
        if not out:
            # damaged page tree: fall back to any /Type/Page objects
            for num in sorted(self.objects):
                obj = self.objects[num][0]
                if isinstance(obj, dict) and str(obj.get("Type", "")) == "Page":
                    out.append(obj)
        return out

    def _walk_pages(self, node, out: list, depth: int):
        if not isinstance(node, dict) or depth > 32:
            return
        ntype = str(node.get("Type", ""))
        if ntype == "Page":
            out.append(node)
            return
        kids = self.resolve(node.get("Kids"))  # /Kids may be indirect
        for kid in (kids if isinstance(kids, list) else []):
            self._walk_pages(self.resolve(kid), out, depth + 1)

    def page_fonts(self, page: dict
                   ) -> dict[str, tuple[int, dict[int, str]]]:
        """Resource name → parsed /ToUnicode CMap for the page's fonts
        (embedded-font text that a latin-1 decode would garble)."""
        out: dict[str, tuple[int, dict[int, str]]] = {}
        # /Resources is an inheritable page attribute (ISO 32000
        # 7.7.3.4): walk the /Parent chain when absent on the page
        node, res, depth = page, None, 0
        while isinstance(node, dict) and depth <= 32:
            res = self.resolve(node.get("Resources"))
            if isinstance(res, dict):
                break
            node, depth = self.resolve(node.get("Parent")), depth + 1
        if not isinstance(res, dict):
            return out
        fonts = self.resolve(res.get("Font"))
        if not isinstance(fonts, dict):
            return out
        for name, fref in fonts.items():
            fd = self.resolve(fref)
            if not isinstance(fd, dict):
                continue
            tu = fd.get("ToUnicode")
            data = self.stream_of(tu) if isinstance(tu, Ref) else None
            if data:
                try:
                    out[str(name)] = parse_tounicode(data)
                except Exception:
                    continue
        return out

    def page_images(self, page: dict, max_images: int = 32
                    ) -> list[tuple[str, bytes]]:
        """Embedded raster images of a page: [(suggested_name,
        payload)] from the /Resources /XObject dict's /Image
        entries (the PDFBox route the reference takes —
        `ExtractImages`/PDF2XHTML embedded-doc emission: every image
        becomes an embedded document).

        DCTDecode images surface as the embedded JPEG VERBATIM
        (any preceding filters applied); 8-bit DeviceGray/DeviceRGB
        raster streams re-wrap losslessly as PNG through the in-repo
        encoder. Other colorspaces/filters are skipped — embedded
        images must never fail the page.
        """
        out: list[tuple[str, bytes]] = []
        res = self.resolve(page.get("Resources"))
        xo = self.resolve(res.get("XObject")) \
            if isinstance(res, dict) else None
        if not isinstance(xo, dict):
            return out
        for name in sorted(xo, key=str):
            if len(out) >= max_images:
                break
            ref = xo[name]
            if not isinstance(ref, Ref):
                continue
            got = self.objects.get(ref[0])
            if not got:
                continue
            obj, raw = got
            if not isinstance(obj, dict) or raw is None:
                continue
            if str(self.resolve(obj.get("Subtype"))) != "Image":
                continue
            try:
                filters = obj.get("Filter")
                if isinstance(filters, (Name, str)) and \
                        not isinstance(filters, list):
                    filters = [filters]
                filters = [str(self.resolve(f))
                           for f in (filters or [])]
                if filters and filters[-1] == "DCTDecode":
                    data = self._decode_stream(
                        {"Filter": filters[:-1]}, raw)
                    if data:
                        out.append((f"{name}.jpg", data))
                    continue
                data = self._decode_stream(obj, raw)
                if not data:
                    continue
                w = int(self.resolve(obj.get("Width")) or 0)
                h = int(self.resolve(obj.get("Height")) or 0)
                bpc = int(self.resolve(
                    obj.get("BitsPerComponent")) or 0)
                cs = str(self.resolve(obj.get("ColorSpace")))
                ch = {"DeviceGray": 1, "DeviceRGB": 3}.get(cs)
                if bpc != 8 or ch is None or w <= 0 or h <= 0 \
                        or len(data) < w * h * ch:
                    continue
                import numpy as np

                from tika_spark.analysis.pixels import png_bytes
                arr = np.frombuffer(
                    data, np.uint8, w * h * ch).reshape(h, w, ch)
                out.append((f"{name}.png", png_bytes(arr)))
            except Exception:
                continue
        return out

    def page_font_widths(self, page: dict
                         ) -> dict[str, tuple[int, list, float]]:
        """Resource name → (/FirstChar, /Widths (em/1000), missing
        default) for the node's simple fonts — the REAL advance
        metrics PDFTextStripper uses for word-boundary decisions;
        glyph classes (_adv) are only the fallback."""
        out: dict[str, tuple[int, list, float]] = {}
        res = self._resources_of(page)
        fonts = self.resolve(res.get("Font"))
        if not isinstance(fonts, dict):
            return out
        for name, fref in fonts.items():
            fd = self.resolve(fref)
            if not isinstance(fd, dict):
                continue
            widths = self.resolve(fd.get("Widths"))
            first = self.resolve(fd.get("FirstChar"))
            if isinstance(widths, list) and isinstance(first, int):
                ws = [float(self.resolve(w) or 0) for w in widths]
                desc = self.resolve(fd.get("FontDescriptor"))
                missing = 500.0
                if isinstance(desc, dict):
                    mw = self.resolve(desc.get("MissingWidth"))
                    if isinstance(mw, (int, float)) and mw > 0:
                        missing = float(mw)
                out[str(name)] = (first, ws, missing)
        return out

    def _resources_of(self, node: dict) -> dict:
        """Resolve the (inheritable) /Resources of a page or form."""
        res, depth = None, 0
        while isinstance(node, dict) and depth <= 32:
            res = self.resolve(node.get("Resources"))
            if isinstance(res, dict):
                return res
            node, depth = self.resolve(node.get("Parent")), depth + 1
        return {}

    def form_xobjects(self, node: dict, depth: int = 0
                      ) -> dict[str, tuple]:
        """Resource name → (content, fonts, nested forms) for every
        /Subtype /Form XObject reachable from ``node``'s resources —
        page text frequently lives inside form XObjects drawn with
        ``Do`` (e.g. the reference's testPDF.pdf puts its whole body
        in /Fm1), so the interpreter must descend. Depth ≤ 3,
        ≤ 32 forms per level (defensive budgets)."""
        out: dict[str, tuple] = {}
        if depth > 3:
            return out
        res = self._resources_of(node)
        xo = self.resolve(res.get("XObject"))
        if not isinstance(xo, dict):
            return out
        for name, ref in list(xo.items())[:32]:
            obj = self.resolve(ref)
            if not isinstance(obj, dict) \
                    or str(obj.get("Subtype")) != "Form":
                continue
            data = self.stream_of(ref) if isinstance(ref, Ref) else None
            if not data:
                continue
            out[str(name)] = (data, self.page_fonts(obj),
                              self.page_font_widths(obj),
                              self.form_xobjects(obj, depth + 1))
        return out

    def page_content(self, page: dict) -> bytes:
        contents = page.get("Contents")
        if isinstance(contents, Ref) and self.stream_of(contents) is None:
            # indirect ref to an ARRAY of stream refs (no stream at
            # that object): resolve to reach the array
            contents = self.resolve(contents)
        refs = contents if isinstance(contents, list) else [contents]
        parts = []
        for r in refs:
            s = self.stream_of(r)
            if s:
                parts.append(s)
        return b"\n".join(parts)

    def page_annotations(self, page: dict
                         ) -> tuple[list[str], list[str]]:
        """(freetext_contents, link_uris) of a page's /Annots
        (PDF2XHTML.java:181-250: FreeText annotation text is emitted
        after the page body; Link /A /URI actions become links)."""
        freetext: list[str] = []
        uris: list[str] = []
        annots = self.resolve(page.get("Annots"))
        if not isinstance(annots, list):
            return freetext, uris
        for aref in annots[:256]:
            a = self.resolve(aref)
            if not isinstance(a, dict):
                continue
            sub = str(a.get("Subtype", ""))
            if sub == "FreeText":
                c = self.resolve(a.get("Contents"))
                if isinstance(c, PdfString):
                    val = c.text().strip()
                    if val:
                        freetext.append(val)
            elif sub == "Link":
                action = self.resolve(a.get("A"))
                if isinstance(action, dict):
                    uri = self.resolve(action.get("URI"))
                    if isinstance(uri, PdfString):
                        val = uri.text().strip()
                        if val:
                            uris.append(val)
        return freetext, uris


# ------------------------------------------------------ ToUnicode CMap --

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_CSPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", re.S)


def _u16(hexs: bytes) -> str:
    return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be",
                                                      "replace")


def parse_tounicode(cmap: bytes) -> tuple[int, dict[int, str]]:
    """Parse a /ToUnicode CMap stream → (code byte width, code→str).

    Handles bfchar pairs, bfrange with either an incrementing <dst>
    base or an array of destinations; the codespace range sets the
    code width (1 or 2 bytes)."""
    width = 1
    m = _CSPACE_RE.search(cmap)
    if m:
        width = max(1, len(m.group(1)) // 2)
    table: dict[int, str] = {}
    for block in _BFCHAR_RE.findall(cmap):
        toks = _HEX_RE.findall(block)
        for i in range(0, len(toks) - 1, 2):
            table[int(toks[i], 16)] = _u16(toks[i + 1])
    for block in _BFRANGE_RE.findall(cmap):
        pos = 0
        while True:
            mm = re.match(
                rb"\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
                rb"(<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])",
                block[pos:])
            if not mm:
                break
            lo, hi = int(mm.group(1), 16), int(mm.group(2), 16)
            if mm.group(4):  # incrementing base
                base = int(mm.group(4), 16)
                for k in range(min(hi - lo + 1, 65536)):
                    table[lo + k] = chr(base + k)
            else:            # explicit destination array
                dsts = _HEX_RE.findall(mm.group(5))
                for k, d in enumerate(dsts):
                    if lo + k <= hi:
                        table[lo + k] = _u16(d)
            pos += mm.end()
    return width, table


def _decode_with_cmap(s: bytes, width: int, table: dict[int, str]) -> str:
    out = []
    step = width
    for i in range(0, len(s) - step + 1, step):
        code = int.from_bytes(s[i:i + step], "big")
        got = table.get(code)
        out.append(got if got is not None else
                   (chr(code) if code < 0x110000 else "�"))
    return "".join(out)


# ------------------------------------------------- content interpreter --


# approximate Helvetica advance widths (em/1000) by glyph class —
# used ONLY to estimate where a text chunk ends for word-boundary
# decisions (no font programs are loaded); values from the published
# AFM metrics, bucketed
_NARROW = set("iIl.,:;'!|jft()[]{}/\\ \"`*r-")
_WIDE = set("mMW@%")
_MID_CAPS = set("ABCDEFGHKNOPQRSUVXYZ&")


def _adv(s: str) -> float:
    """Estimated advance of ``s`` in em units."""
    w = 0.0
    for c in s:
        if c in _NARROW:
            w += 0.30
        elif c in _WIDE:
            w += 0.87
        elif c in _MID_CAPS or c.isdigit():
            w += 0.69
        else:
            w += 0.52
    return w


def _interpret_text(content: bytes,
                    font_cmaps: dict[str, tuple[int, dict[int, str]]]
                    | None = None,
                    xobjects: dict[str, tuple] | None = None,
                    depth: int = 0,
                    font_widths: dict[str, tuple[int, list, float]]
                    | None = None) -> str:
    """Run the text-showing subset of the content-stream language.

    Line logic (PDFTextStripper-equivalent defaults): a vertical move
    starts a new line; a horizontal move within a line inserts the
    word separator only when the gap past the previous chunk's
    estimated end exceeds the spacing tolerance (0.139 em ≈ half a
    Helvetica space width — PDFTextStripper's 0.5 × space-width
    default), so kerned words split across text objects re-join
    ("R"+"igh"+"t column" in testPDFTwoTextBoxes.pdf must read
    "Right column", PDFParserTest.java:147) while true inter-word
    gaps still separate; TJ kerning gaps below -180/1000 em insert
    the word separator. Chunk end is estimated at 0.5 em per char
    (no font metrics are loaded — average Latin advance)."""
    lex = _Lexer(content)
    stack: list = []
    out: list[str] = []
    in_text = False
    x = y = 0.0
    leading = 0.0
    size = 12.0
    scale = 1.0                   # |a| of the last Tm (text→user units)
    last_end_x: float | None = None
    last_y: float | None = None
    font_cmaps = font_cmaps or {}
    xobjects = xobjects or {}
    font_widths = font_widths or {}
    cur_cmap: tuple[int, dict[int, str]] | None = None
    cur_widths: tuple[int, list, float] | None = None

    def txt(s: PdfString) -> str:
        if cur_cmap is not None and not s.startswith(b"\xfe\xff"):
            return _decode_with_cmap(bytes(s), cur_cmap[0], cur_cmap[1])
        return s.text()

    def adv(s: str) -> float:
        # real /Widths when the current simple font declares them
        # (byte code == char ordinal for the latin encodings we
        # decode); the class table is the fallback
        if cur_widths is not None and cur_cmap is None:
            first, ws, missing = cur_widths
            total = 0.0
            for c in s:
                idx = ord(c) - first
                w = ws[idx] if 0 <= idx < len(ws) else missing
                total += (w if w > 0 else missing) / 1000.0
            return total
        return _adv(s)

    def show(s: str):
        nonlocal last_end_x, last_y
        if s == "":
            return
        em = size * scale
        if last_y is not None and y != last_y:
            out.append("\n")                      # line separator
        elif last_y is not None and last_end_x is not None \
                and x - last_end_x > 0.139 * em and out \
                and not out[-1].endswith((" ", "\n")):
            out.append(" ")                       # word separator at joins
        out.append(s)
        last_end_x = x + adv(s) * em
        last_y = y

    while True:
        try:
            tok = lex.parse_object()
        except Exception:
            break
        if tok is None:
            break
        if not isinstance(tok, Keyword):
            stack.append(tok)
            continue
        op = str(tok)
        if op == "BT":
            in_text = True
            x = y = 0.0
        elif op == "ET":
            in_text = False
        elif op == "Td" and len(stack) >= 2:
            # Td translations are text-space; x/y (and the 0.139*em
            # word-gap threshold in show()) live in user space, so the
            # deltas scale by the tracked Tm scale factor
            x, y = x + _f(stack[-2]) * scale, y + _f(stack[-1]) * scale
        elif op == "TD" and len(stack) >= 2:
            leading = -_f(stack[-1])
            x, y = x + _f(stack[-2]) * scale, y + _f(stack[-1]) * scale
        elif op == "Tm" and len(stack) >= 6:
            x, y = _f(stack[-2]), _f(stack[-1])
            a = abs(_f(stack[-6]))
            if a > 0:
                scale = a
        elif op == "T*":
            y -= leading * scale
        elif op == "TL" and stack:
            leading = _f(stack[-1])
        elif op == "Tf" and len(stack) >= 2:
            name = next((v for v in stack if isinstance(v, Name)), None)
            cur_cmap = font_cmaps.get(str(name)) if name else None
            cur_widths = font_widths.get(str(name)) if name else None
            if isinstance(stack[-1], (int, float)) and stack[-1] > 0:
                size = float(stack[-1])
        elif op in ("Tj", "'", '"') and in_text:
            if op != "Tj":
                y -= leading * scale
            s = next((v for v in reversed(stack)
                      if isinstance(v, PdfString)), None)
            if s is not None:
                show(txt(s))
        elif op == "TJ" and in_text and stack:
            arr = stack[-1]
            if isinstance(arr, list):
                parts: list[str] = []
                for item in arr:
                    if isinstance(item, PdfString):
                        parts.append(txt(item))
                    elif isinstance(item, (int, float)) and item < -180:
                        parts.append(" ")  # big kerning gap = word break
                show("".join(parts))
        elif op == "Do" and depth < 3:
            name = next((v for v in reversed(stack)
                         if isinstance(v, Name)), None)
            form = xobjects.get(str(name)) if name else None
            if form is not None:
                fdata, ffonts, fwidths, fchildren = form
                sub = _interpret_text(
                    fdata, ffonts or font_cmaps, fchildren,
                    depth + 1, fwidths or font_widths)
                if sub:
                    if out and not out[-1].endswith("\n"):
                        out.append("\n")
                    out.append(sub)
                    last_end_x = last_y = None  # fresh layout state
        stack.clear()

    return "".join(out)


def _f(v) -> float:
    return float(v) if isinstance(v, (int, float)) else 0.0


def extract_pdf(data: bytes, url: str | None = None,
                declared_type: str | None = None,
                config: ExtractConfig = _DEFAULT) -> dict:
    """Extract one PDF. Never raises on content."""
    data = bytes(data or b"")
    metadata: dict[str, list[str]] = {"Content-Type": ["application/pdf"]}
    try:
        doc = PdfDocument(data)
    except Exception as e:  # scanner is defensive, but belt+braces
        return {"charset": None, "title": None, "text": "", "spans": [],
                "links": [], "metadata": metadata, "status": "error",
                "error": f"pdf: {e!r}"}

    # encrypted and the empty-password attempt failed -> metadata-only
    # row (PDFParser.java:76-99: try "" password, degrade on failure)
    encrypted = isinstance(doc.trailer.get("Encrypt"), (Ref, dict)) \
        and not doc.decrypted

    info = doc.resolve(doc.trailer.get("Info"))
    _INFO_KEYS = {"Title": "title", "Author": "Author", "Subject": "subject",
                  "Keywords": "Keywords", "Creator": "Application-Name",
                  "Producer": "producer", "Trapped": "trapped",
                  "CreationDate": "created", "ModDate": "Last-Modified"}
    if isinstance(info, dict):
        for k, v in info.items():
            v = doc.resolve(v)
            if isinstance(v, PdfString):
                val = v.text().strip()
            elif isinstance(v, (Name, int, float)):
                val = str(v)
            elif isinstance(v, list):
                val = ", ".join(x.text() if isinstance(x, PdfString)
                                else str(x) for x in v)
            else:
                continue
            if val:
                metadata.setdefault(_INFO_KEYS.get(k, k), []).append(val)

    pages = doc.pages()
    metadata["xmpTPg:NPages"] = [str(len(pages))]

    if encrypted:
        return {"charset": None, "title": metadata.get("title", [None])[0],
                "text": "", "spans": [], "links": [], "metadata": metadata,
                "status": "encrypted"}

    pieces: list[str] = []
    spans: list[tuple[int, int, str]] = []
    links: list[tuple[str, str, str | None, str | None]] = []
    children: list[tuple[str, bytes]] = []
    pos = 0
    for page in pages:
        try:
            content = doc.page_content(page)
            page_text = _interpret_text(
                content, doc.page_fonts(page),
                doc.form_xobjects(page),
                font_widths=doc.page_font_widths(page)) \
                if content else ""
        except Exception:
            page_text = ""
        try:
            ann_ft, ann_uris = doc.page_annotations(page)
        except Exception:
            ann_ft, ann_uris = [], []
        if ann_ft:
            # FreeText annotation text follows the page body
            # (PDF2XHTML.java:181-250)
            page_text = (page_text + "\n" if page_text else "") \
                + "\n".join(ann_ft)
        links.extend(("annotation", u, None, None) for u in ann_uris)
        if len(children) < 64:     # doc-level embedded-image budget
            try:
                children.extend(doc.page_images(page))
            except Exception:
                pass
        # <div class=page><p>text</p></div> -> text + '\n' (p) + '\n' (div)
        pieces.append(page_text)
        pieces.append("\n\n")
        spans.append((pos, pos + len(page_text), "page"))
        pos += len(page_text) + 2

    text = safe_chars("".join(pieces))
    return {"charset": None, "title": metadata.get("title", [None])[0],
            "text": text, "spans": spans, "links": links,
            "metadata": metadata, "status": "ok",
            "children": children[:64]}
