"""From-scratch Brotli decoder + fixture encoder (RFC 7932, pure
Python).

Decoder: LSB-first bit stream, window-size header, metadata /
uncompressed / compressed meta-blocks, simple (1-4 symbol) and
complex (code-length-coded, with 16/17 repeat semantics) canonical
prefix codes, literal/command/distance block switching with block
count codes, context modes (LSB6/MSB6/UTF8/Signed) and
inverse-move-to-front context maps, the 704-symbol insert-and-copy
command alphabet, the 4-slot distance ring buffer with the 16
ring-delta codes, and NPOSTFIX/NDIRECT distance composition.

Static dictionary (round 5, closing the r4 documented drop): the
122,784-byte RFC 7932 Appendix A word dictionary ships as repo data
(analysis/data/brotli_dictionary.bin) with the 50 affix strings and
121 word transforms in the generated analysis/brotli_transforms.py —
all extracted byte-exact from the public brotli implementation
bundled in pyarrow's libarrow by tools/gen_brotli_dict.py. A
distance past the end of available output now resolves to a
(possibly transformed) dictionary word per RFC 7932 section 8, so
real webserver payloads and WOFF2 fonts that reference the
dictionary decode instead of status-rowing. The
UTF8/Signed literal-context lookup tables are likewise generated
spec data (analysis/brotli_context.py) — the earlier structural
transcription disagreed with the spec tables on 221/256 entries and
mis-selected literal trees in context-mapped (quality-11) streams.
Cross-implementation conformance: the decoder round-trips 2,500+
reference-encoder streams (all quality tiers 1-11, dictionary-heavy
text + random binary) byte-exactly; see tests/test_brotli.py and
BENCH/CONFORMANCE.md.

Encoder (fixtures): emits genuine brotli streams three ways —
uncompressed meta-blocks, a literals-only compressed meta-block
(canonical complex prefix codes, single command whose copy part is
cut off by MLEN), and an LZ-compressed form with real copy commands
and explicit distances (greedy hash matcher), optionally with
multiple literal block types + an explicit context map to exercise
block switching and IMTF in round-trip tests.

Reference parity: the reference (tballison/tika) has no brotli
surface (its WOFF2 support, like ours before this module, stopped
at container detection); this backs the WOFF2 font tier
(analysis/woff2.py + media.py _woff2_meta) and is pipeline
extension beyond the reference.

Scale contract: per-row decode inside mapInPandas with an explicit
``max_out`` inflate guard; corrupt payloads raise ValueError and
become status rows; no shuffle.
"""

from __future__ import annotations

from tika_spark.analysis.bitio import (LsbReader, LsbWriter, PrefixCode,
                                       canonical_codes, huffman_lengths)

# ------------------------------------------------------- prefix codes


CLC_ORDER = (1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10,
             11, 12, 13, 14, 15)


def _read_clc_len(bits: LsbReader) -> int:
    # variable code: 00->0, 01->4, 10->3, 110->2, 1110->1, 1111->5
    if bits.read(1) == 0:
        return 0 if bits.read(1) == 0 else 3
    # first bit 1
    b = bits.read(1)
    if b == 0:
        return 4
    if bits.read(1) == 0:
        return 2
    return 1 if bits.read(1) == 0 else 5


def _write_clc_len(w: LsbWriter, v: int):
    # mirror of _read_clc_len's bit order (LSB-first reads)
    pattern = {0: (0b00, 2), 3: (0b10, 2), 4: (0b01, 2),
               2: (0b011, 3), 1: (0b0111, 4), 5: (0b1111, 4)}[v]
    w.write(pattern[0], pattern[1])


def _read_prefix_code(bits: LsbReader, alphabet_size: int) -> PrefixCode:
    """RFC 7932 section 3.4/3.5: simple or complex prefix code."""
    ident = bits.read(2)
    if ident == 1:
        # simple code
        nsym = bits.read(2) + 1
        abits = max(1, (alphabet_size - 1).bit_length())
        syms = []
        for _ in range(nsym):
            s = bits.read(abits)
            if s >= alphabet_size:
                raise ValueError("brotli simple-code symbol out of range")
            syms.append(s)
        if len(set(syms)) != nsym:
            raise ValueError("duplicate simple-code symbols")
        lengths = [0] * alphabet_size
        if nsym == 1:
            return PrefixCode(((syms[0], 1),))
        if nsym == 2:
            syms.sort()
            lengths[syms[0]] = lengths[syms[1]] = 1
        elif nsym == 3:
            syms = [syms[0]] + sorted(syms[1:])
            lengths[syms[0]] = 1
            lengths[syms[1]] = lengths[syms[2]] = 2
        else:
            tree_select = bits.read(1)
            if tree_select:
                # canonical sorting applies among equal lengths only
                syms = [syms[0], syms[1]] + sorted(syms[2:])
                lengths[syms[0]] = 1
                lengths[syms[1]] = 2
                lengths[syms[2]] = lengths[syms[3]] = 3
            else:
                syms.sort()
                for s in syms:
                    lengths[s] = 2
        return PrefixCode(enumerate(lengths))
    # complex code: ident = HSKIP (number of skipped CLC slots)
    hskip = ident
    clc_lens = [0] * 18
    space = 32
    nz = 0
    for i in range(hskip, 18):
        ln = _read_clc_len(bits)
        clc_lens[CLC_ORDER[i]] = ln
        if ln:
            space -= 32 >> ln
            nz += 1
            if space <= 0:
                break
    if space < 0:
        raise ValueError("over-subscribed code-length code")
    clc = PrefixCode(enumerate(clc_lens))
    if clc.single is None and space != 0:
        raise ValueError("incomplete brotli code-length code")
    # read symbol code lengths with 16/17 repeats
    lengths = [0] * alphabet_size
    symbol = 0
    prev_nonzero = 8
    repeat = 0
    repeat_len = 0
    space = 1 << 15
    while symbol < alphabet_size and space > 0:
        s = clc.read(bits)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            repeat = 0
            if s:
                prev_nonzero = s
                space -= (1 << 15) >> s
        elif s == 16:
            extra = bits.read(2)
            if repeat and repeat_len == prev_nonzero:
                new = ((repeat - 2) << 2) + extra + 3
            else:
                repeat = 0
                new = extra + 3
            delta = new - repeat
            repeat = new
            repeat_len = prev_nonzero
            for _ in range(delta):
                if symbol >= alphabet_size:
                    raise ValueError("brotli repeat overruns alphabet")
                lengths[symbol] = prev_nonzero
                symbol += 1
                space -= (1 << 15) >> prev_nonzero
        else:  # 17: repeat zero
            extra = bits.read(3)
            if repeat and repeat_len == 0:
                new = ((repeat - 2) << 3) + extra + 3
            else:
                repeat = 0
                new = extra + 3
            delta = new - repeat
            repeat = new
            repeat_len = 0
            for _ in range(delta):
                if symbol >= alphabet_size:
                    raise ValueError("brotli repeat overruns alphabet")
                lengths[symbol] = 0
                symbol += 1
    code = PrefixCode(enumerate(lengths))
    if code.single is None and space != 0:
        raise ValueError("under/over-subscribed brotli prefix code")
    return code


# ------------------------------------------------ alphabets and tables

# insert length codes: (extra bits, base)
INSERT_EXTRA = (0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
                6, 7, 8, 9, 10, 12, 14, 24)
INSERT_BASE = (0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66,
               98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
COPY_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
              5, 5, 6, 7, 8, 9, 10, 24)
COPY_BASE = (2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38,
             54, 70, 102, 134, 198, 326, 582, 1094, 2118)
# 704-symbol command alphabet: zone -> (insert-code high, copy-code
# high); zones 0-1 repeat zones' 0-1 ranges with implicit distance
_INSERT_RANGE_LUT = (0, 0, 8, 8, 0, 16, 8, 16, 16)
_COPY_RANGE_LUT = (0, 8, 0, 8, 16, 0, 16, 8, 16)

# ---- RFC 7932 static dictionary (Appendix A + section 8) ----------
# words-per-length bits for lengths 4..24; the data blob and the
# transform tables are generated by tools/gen_brotli_dict.py
_DICT_NDBITS = (10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7,
                8, 7, 7, 6, 6, 5, 5)
_DICT_OFFSETS = []
_off = 0
for _i, _b in enumerate(_DICT_NDBITS):
    _DICT_OFFSETS.append(_off)
    _off += (1 << _b) * (_i + 4)

_dict_blob: bytes | None = None


def _static_dictionary() -> bytes:
    global _dict_blob
    if _dict_blob is None:
        import os
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "brotli_dictionary.bin")
        with open(path, "rb") as f:
            _dict_blob = f.read()
        if len(_dict_blob) != 122_784:
            raise ValueError("brotli static dictionary data corrupt")
    return _dict_blob


def _ferment(buf: bytearray, pos: int) -> int:
    """RFC 7932 section 8 pseudo-uppercase over one UTF-8 unit;
    returns the number of bytes consumed."""
    c = buf[pos]
    if c < 192:
        if 97 <= c <= 122:
            buf[pos] ^= 32
        return 1
    if c < 224:
        if pos + 1 < len(buf):
            buf[pos + 1] ^= 32
        return 2
    if pos + 2 < len(buf):
        buf[pos + 2] ^= 5
    return 3


def _dict_word(copy_len: int, word_id: int) -> bytes:
    """Resolve one static-dictionary reference: copy_len selects the
    length section (must be 4..24), word_id packs (transform_id,
    index). Raises ValueError on invalid references, as the spec
    requires."""
    from tika_spark.analysis.brotli_transforms import (PREFIX_SUFFIX,
                                                      TRANSFORMS)
    if not 4 <= copy_len <= 24:
        raise ValueError("brotli dictionary copy length out of 4..24")
    bits = _DICT_NDBITS[copy_len - 4]
    index = word_id & ((1 << bits) - 1)
    tid = word_id >> bits
    if tid >= len(TRANSFORMS):
        raise ValueError("brotli dictionary transform id out of range")
    base = _DICT_OFFSETS[copy_len - 4] + index * copy_len
    word = bytearray(_static_dictionary()[base:base + copy_len])
    pfx_id, ttype, sfx_id = TRANSFORMS[tid]
    if ttype == 0:
        body = word
    elif ttype <= 9:                       # omit last N
        body = word[:-ttype] if ttype < len(word) else bytearray()
    elif ttype == 10:                      # uppercase first
        body = word
        _ferment(body, 0)
    elif ttype == 11:                      # uppercase all
        body = word
        p = 0
        while p < len(body):
            p += _ferment(body, p)
    else:                                  # 12..20: omit first N
        n = ttype - 11
        body = word[n:] if n < len(word) else bytearray()
    return bytes(PREFIX_SUFFIX[pfx_id]) + bytes(body) \
        + bytes(PREFIX_SUFFIX[sfx_id])


BLOCK_COUNT_EXTRA = (2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5,
                     6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
BLOCK_COUNT_BASE = (1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113,
                    145, 177, 209, 241, 305, 369, 497, 753, 1265,
                    2289, 4337, 8433, 16625)


def _cmd_split(cmd: int):
    """command symbol -> (insert_code, copy_code, implicit_dist)."""
    zone = cmd >> 6
    implicit = zone < 2
    idx = zone if zone < 2 else zone - 2
    ins = _INSERT_RANGE_LUT[idx] + ((cmd >> 3) & 7)
    cop = _COPY_RANGE_LUT[idx] + (cmd & 7)
    return ins, cop, implicit


def _cmd_symbol(insert_code: int, copy_code: int, implicit: bool) -> int:
    """inverse of _cmd_split (encoder)."""
    ih, il = insert_code & ~7, insert_code & 7
    ch, cl = copy_code & ~7, copy_code & 7
    for idx in range(9):
        if _INSERT_RANGE_LUT[idx] == ih and _COPY_RANGE_LUT[idx] == ch:
            if implicit:
                if idx < 2:
                    return (idx << 6) | (il << 3) | cl
                continue
            return ((idx + 2) << 6) | (il << 3) | cl
    raise ValueError("no command symbol for insert/copy code pair")


def _len_code(value: int, bases, extras):
    """value -> (code, extra_val) for an (extra, base) length table."""
    for i in range(len(bases) - 1, -1, -1):
        if value >= bases[i]:
            extra = value - bases[i]
            if extra < (1 << extras[i]):
                return i, extra
            break
    raise ValueError(f"length {value} not representable")


# context modes
_LSB6, _MSB6, _UTF8, _SIGNED = 0, 1, 2, 3


def _literal_context(mode: int, p1: int, p2: int) -> int:
    """RFC 7932 section 7.1: literal context id from the previous two
    output bytes. LSB6/MSB6 are computed; the UTF8 and Signed tables
    are the generated spec data in brotli_context.py (extracted from
    the public brotli implementation — the earlier structural
    transcription disagreed on 221/256 entries and mis-selected
    literal trees in quality-11 streams)."""
    if mode == _LSB6:
        return p1 & 0x3F
    if mode == _MSB6:
        return p1 >> 2
    from tika_spark.analysis import brotli_context as _bx
    if mode == _UTF8:
        return _bx.UTF8_LUT0[p1] | _bx.UTF8_LUT1[p2]
    return _bx.SIGNED_LUT0[p1] | _bx.SIGNED_LUT1[p2]


# ------------------------------------------------------- block state


class _BlockState:
    """One category's (L/I/D) block type + count machinery."""

    __slots__ = ("ntypes", "type_code", "count_code", "btype",
                 "prev", "count")

    def __init__(self, bits: LsbReader):
        self.ntypes = _read_count(bits)
        self.btype = 0
        self.prev = 1
        if self.ntypes >= 2:
            self.type_code = _read_prefix_code(bits, self.ntypes + 2)
            self.count_code = _read_prefix_code(bits, 26)
            self.count = _read_block_count(bits, self.count_code)
        else:
            self.type_code = None
            self.count_code = None
            self.count = 1 << 60

    def tick(self, bits: LsbReader):
        if self.count == 0:
            sym = self.type_code.read(bits)
            if sym == 0:
                new = self.prev
            elif sym == 1:
                new = (self.btype + 1) % self.ntypes
            else:
                new = sym - 2
            self.prev = self.btype
            self.btype = new
            self.count = _read_block_count(bits, self.count_code)
        self.count -= 1


def _read_count(bits: LsbReader) -> int:
    """NBLTYPES / NTREES variable-length count (1..256)."""
    if bits.read(1) == 0:
        return 1
    n = bits.read(3)
    return (1 << n) + 1 + bits.read(n)


def _write_count(w: LsbWriter, v: int):
    if v == 1:
        w.write(0, 1)
        return
    w.write(1, 1)
    n = (v - 1).bit_length() - 1
    w.write(n, 3)
    w.write(v - 1 - (1 << n), n)


def _read_block_count(bits: LsbReader, code: PrefixCode) -> int:
    sym = code.read(bits)
    return BLOCK_COUNT_BASE[sym] + bits.read(BLOCK_COUNT_EXTRA[sym])


def _read_context_map(bits: LsbReader, ntrees: int, size: int) -> list[int]:
    if ntrees == 1:
        return [0] * size
    rlemax = (bits.read(4) + 1) if bits.read(1) else 0
    code = _read_prefix_code(bits, ntrees + rlemax)
    cmap = []
    while len(cmap) < size:
        s = code.read(bits)
        if s == 0:
            cmap.append(0)
        elif s <= rlemax:
            reps = (1 << s) + bits.read(s)
            if len(cmap) + reps > size:
                raise ValueError("brotli context-map RLE overrun")
            cmap.extend([0] * reps)
        else:
            cmap.append(s - rlemax)
    if bits.read(1):  # inverse move-to-front
        mtf = list(range(256))
        for i, v in enumerate(cmap):
            val = mtf[v]
            if v:
                del mtf[v]
                mtf.insert(0, val)
            cmap[i] = val
    if any(v >= ntrees for v in cmap):
        raise ValueError("brotli context map value out of range")
    return cmap


# ------------------------------------------------------------ decode


def decompress(data: bytes, max_out: int = 1 << 26) -> bytes:
    """Decode a complete brotli stream. Raises ValueError on corrupt
    input, on output beyond ``max_out`` (inflate-bomb guard), and on
    static-dictionary references (documented drop, see module
    docstring)."""
    bits = LsbReader(bytes(data or b""))
    # window size (value only bounds back-references; we keep all out)
    if bits.read(1) == 0:
        wbits = 16
    else:
        n = bits.read(3)
        if n != 0:
            wbits = 17 + n
        else:
            n = bits.read(3)
            wbits = (8 + n) if n != 0 else 17
    out = bytearray()
    islast = False
    while not islast:
        islast = bits.read(1) == 1
        if islast and bits.read(1) == 1:
            break  # ISLASTEMPTY
        mnibbles = bits.read(2)
        if mnibbles == 3:
            # metadata meta-block
            if bits.read(1):
                raise ValueError("brotli reserved bit set")
            mskip = bits.read(2)
            skip = (bits.read(8 * mskip) + 1) if mskip else 0
            if mskip > 1 and ((skip - 1) >> (8 * (mskip - 1))) == 0:
                raise ValueError("non-minimal brotli MSKIPLEN")
            if bits.align():
                raise ValueError("non-zero padding at byte alignment")
            bits.raw(skip)
            continue
        mlen = bits.read(16 + 4 * mnibbles) + 1
        if len(out) + mlen > max_out:
            raise ValueError("brotli output exceeds max_out guard")
        if not islast and bits.read(1):
            # uncompressed
            if bits.align():
                raise ValueError("non-zero padding at byte alignment")
            out += bits.raw(mlen)
            continue
        _decode_meta_block(bits, mlen, out, wbits)
    return bytes(out)


def _decode_meta_block(bits: LsbReader, mlen: int, out: bytearray,
                       wbits: int):
    bl = _BlockState(bits)   # literals
    bi = _BlockState(bits)   # insert-and-copy
    bd = _BlockState(bits)   # distances
    npostfix = bits.read(2)
    ndirect = bits.read(4) << npostfix
    cmodes = [bits.read(2) for _ in range(bl.ntypes)]
    ntreesl = _read_count(bits)
    cmap_l = _read_context_map(bits, ntreesl, 64 * bl.ntypes)
    ntreesd = _read_count(bits)
    cmap_d = _read_context_map(bits, ntreesd, 4 * bd.ntypes)
    lit_codes = [_read_prefix_code(bits, 256) for _ in range(ntreesl)]
    cmd_codes = [_read_prefix_code(bits, 704) for _ in range(bi.ntypes)]
    dist_alpha = 16 + ndirect + (48 << npostfix)
    dist_codes = [_read_prefix_code(bits, dist_alpha)
                  for _ in range(ntreesd)]
    # distance ring, most-recent first: code 0 reads ring[0]. The RFC
    # lists the initial contents as "16, 15, 11, 4", but those fill
    # the buffer in PUSH order — the initial "last distance" (code 0)
    # is 4, then 11, 15, 16 (verified against the reference decoder
    # with crafted streams; see tests/test_brotli.py ring probes)
    ring = [4, 11, 15, 16]
    mpos = 0
    max_back = (1 << wbits) - 16
    while mpos < mlen:
        bi.tick(bits)
        cmd = cmd_codes[bi.btype].read(bits)
        ins_code, cop_code, implicit = _cmd_split(cmd)
        ins_len = INSERT_BASE[ins_code] + bits.read(INSERT_EXTRA[ins_code])
        cop_len = COPY_BASE[cop_code] + bits.read(COPY_EXTRA[cop_code])
        for _ in range(ins_len):
            if mpos >= mlen:
                raise ValueError("brotli insert overruns meta-block")
            bl.tick(bits)
            p1 = out[-1] if len(out) >= 1 else 0
            p2 = out[-2] if len(out) >= 2 else 0
            ctx = _literal_context(cmodes[bl.btype], p1, p2)
            tree = cmap_l[(bl.btype << 6) | ctx]
            out.append(lit_codes[tree].read(bits))
            mpos += 1
        if mpos >= mlen:
            break
        if implicit:
            sym = 0
            dist = ring[0]
        else:
            bd.tick(bits)
            ctx = min(cop_len - 2, 3)
            tree = cmap_d[(bd.btype << 2) | ctx]
            sym = dist_codes[tree].read(bits)
            dist = _distance_value(bits, sym, ring, ndirect, npostfix)
        limit = min(len(out), max_back)
        if dist > limit:
            # static-dictionary reference (RFC 7932 section 8);
            # dictionary distances never enter the ring (verified
            # against the reference decoder: ring codes after a
            # dictionary reference still read the pre-reference ring)
            piece = _dict_word(cop_len, dist - limit - 1)
            if mpos + len(piece) > mlen:
                raise ValueError(
                    "brotli dictionary word overruns meta-block")
            out.extend(piece)
            mpos += len(piece)
            continue
        if sym != 0:
            ring.pop()
            ring.insert(0, dist)
        if mpos + cop_len > mlen:
            raise ValueError("brotli copy overruns meta-block")
        start = len(out) - dist
        for k in range(cop_len):
            out.append(out[start + k])
        mpos += cop_len


def _distance_value(bits, sym, ring, ndirect, npostfix) -> int:
    if sym < 16:
        base = ring[0] if sym < 10 else ring[1]
        if sym == 0:
            return ring[0]
        if sym == 1:
            return ring[1]
        if sym == 2:
            return ring[2]
        if sym == 3:
            return ring[3]
        delta = ((0, 0, 0, 0, -1, 1, -2, 2, -3, 3,
                  -1, 1, -2, 2, -3, 3)[sym])
        d = base + delta
        if d <= 0:
            raise ValueError("brotli ring-delta distance <= 0")
        return d
    if sym < 16 + ndirect:
        return sym - 16 + 1
    dcode = sym - 16 - ndirect
    postfix = dcode & ((1 << npostfix) - 1)
    dcode >>= npostfix
    nbits = 1 + (dcode >> 1)
    offset = ((2 + (dcode & 1)) << nbits) - 4
    return ((offset + bits.read(nbits)) << npostfix) \
        + postfix + ndirect + 1


# ------------------------------------------------------------- encoder


def _huffman_lengths(freqs: dict[int, int], max_len: int = 15
                     ) -> dict[int, int]:
    """Huffman lengths; past ``max_len`` a flat code instead
    (fixture-tier compression quality; correctness only needs a
    complete code)."""
    depth = huffman_lengths(freqs)
    if max(depth.values()) > max_len:
        # flat fallback: ceil(log2(n)) bits for everyone, padded to a
        # complete code by giving the first few symbols shorter codes
        items = sorted(freqs.items())
        n = len(items)
        bits_ = (n - 1).bit_length()
        depth = {s: bits_ for s, _ in items}
        slack = (1 << bits_) - n
        for s, _ in items:
            if slack == 0:
                break
            # promoting one symbol a level frees one slot
            depth[s] = bits_ - 1 if bits_ > 1 else 1
            slack -= 1
    return depth


def _emit_prefix_code(w: LsbWriter, lengths: dict[int, int],
                      alphabet_size: int):
    """Emit a prefix code header (simple for <= 4 symbols, complex
    otherwise) such that _read_prefix_code reproduces ``lengths``."""
    syms = sorted(lengths)
    if len(syms) == 1:
        w.write(1, 2)           # simple
        w.write(0, 2)           # nsym - 1 = 0
        abits = max(1, (alphabet_size - 1).bit_length())
        w.write(syms[0], abits)
        return
    if len(syms) <= 4:
        # canonical simple shapes: 2 syms -> (1,1); 3 -> (1,2,2);
        # 4 -> (2,2,2,2) or (1,2,3,3)
        vals = sorted(lengths.values())
        abits = max(1, (alphabet_size - 1).bit_length())
        if len(syms) == 2 and vals == [1, 1]:
            w.write(1, 2)
            w.write(1, 2)
            for s in syms:
                w.write(s, abits)
            return
        if len(syms) == 3 and vals == [1, 2, 2]:
            w.write(1, 2)
            w.write(2, 2)
            first = [s for s in syms if lengths[s] == 1][0]
            rest = sorted(s for s in syms if s != first)
            for s in [first] + rest:
                w.write(s, abits)
            return
        if len(syms) == 4 and vals == [2, 2, 2, 2]:
            w.write(1, 2)
            w.write(3, 2)
            for s in syms:
                w.write(s, abits)
            w.write(0, 1)       # tree select
            return
        if len(syms) == 4 and vals == [1, 2, 3, 3]:
            w.write(1, 2)
            w.write(3, 2)
            first = [s for s in syms if lengths[s] == 1][0]
            second = [s for s in syms if lengths[s] == 2][0]
            rest = sorted(s for s in syms if lengths[s] == 3)
            for s in [first, second] + rest:
                w.write(s, abits)
            w.write(1, 1)       # tree select
            return
    # complex form: emit per-symbol lengths with 17-runs for zeros
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    # trim trailing zeros: decoder stops once kraft-complete
    while full and full[-1] == 0:
        full.pop()
    used_clc = {}
    tokens = []
    i = 0
    while i < len(full):
        ln = full[i]
        if ln == 0:
            j = i
            while j < len(full) and full[j] == 0:
                j += 1
            run = j - i
            # adjacent 17-tokens COMPOUND in the decoder's repeat
            # recurrence; separate chunks with explicit zero tokens
            while run >= 3:
                chunk = min(run, 10)
                tokens.append((17, chunk - 3))
                used_clc[17] = used_clc.get(17, 0) + 1
                run -= chunk
                if run >= 3:
                    tokens.append((0, None))
                    used_clc[0] = used_clc.get(0, 0) + 1
                    run -= 1
            for _ in range(run):
                tokens.append((0, None))
                used_clc[0] = used_clc.get(0, 0) + 1
            i = j
        else:
            tokens.append((ln, None))
            used_clc[ln] = used_clc.get(ln, 0) + 1
            i += 1
    clc_lens = _huffman_lengths(used_clc, max_len=5)
    if len(clc_lens) == 1:
        (only,) = clc_lens
        clc_lens = {only: 1}
        # single-length CLC: PrefixCode treats as single symbol; the
        # reader consumes no bits per token, so emit nothing below
    w.write(0, 2)  # HSKIP = 0 (complex)
    space = 32
    emitted = 0
    for slot in CLC_ORDER:
        ln = clc_lens.get(slot, 0)
        _write_clc_len(w, ln)
        emitted += 1
        if ln:
            space -= 32 >> ln
            if space <= 0:
                break
    clc_codes = canonical_codes(sorted(clc_lens.items()))
    single_clc = len(clc_lens) == 1
    for tok, extra in tokens:
        if not single_clc:
            w.write_code(*clc_codes[tok])
        if tok == 17:
            w.write(extra, 3)
        elif tok == 16:
            w.write(extra, 2)


def _write_var_mlen(w: LsbWriter, mlen: int):
    if mlen <= (1 << 16):
        w.write(0, 2)
        w.write(mlen - 1, 16)
    elif mlen <= (1 << 20):
        w.write(1, 2)
        w.write(mlen - 1, 20)
    elif mlen <= (1 << 24):
        w.write(2, 2)
        w.write(mlen - 1, 24)
    else:
        raise ValueError("meta-block too large")


def compress(data: bytes, mode: str = "literals") -> bytes:
    """Emit a genuine brotli stream for ``data``.

    mode="raw": uncompressed meta-blocks.
    mode="literals": one compressed meta-block, literals only (the
      command's copy part is cut off by MLEN per RFC 7932 section 2).
    mode="lz": greedy hash matcher emitting real insert-and-copy
      commands with explicit distances.
    """
    data = bytes(data)
    w = LsbWriter()
    w.write(0, 1)  # WBITS = 16
    if not data:
        w.write(1, 1)  # ISLAST
        w.write(1, 1)  # ISLASTEMPTY
        return w.bytes()
    if mode == "raw":
        pos = 0
        while pos < len(data):
            chunk = data[pos:pos + (1 << 24)]
            pos += len(chunk)
            w.write(0, 1)           # not last
            _write_var_mlen(w, len(chunk))
            w.write(1, 1)           # ISUNCOMPRESSED
            w.align()
            w.raw(chunk)
        w.write(1, 1)
        w.write(1, 1)               # last, empty
        return w.bytes()
    if mode == "literals":
        cmds = [(len(data), data, 0, 0)]    # one giant insert
    elif mode == "lz":
        cmds = _greedy_lz(data)
    else:
        raise ValueError(f"unknown brotli encode mode {mode!r}")
    if len(data) > (1 << 24):
        raise ValueError("single-meta-block modes cap at 16 MiB")
    w.write(1, 1)   # ISLAST
    w.write(0, 1)   # not empty
    _write_var_mlen(w, len(data))
    # NBLTYPES L/I/D = 1
    for _ in range(3):
        _write_count(w, 1)
    w.write(0, 2)   # NPOSTFIX
    w.write(0, 4)   # NDIRECT
    w.write(_LSB6, 2)               # context mode for the one L type
    _write_count(w, 1)              # NTREESL
    _write_count(w, 1)              # NTREESD
    # literal code over observed bytes
    lit_freq: dict[int, int] = {}
    for _, lits, _, _ in cmds:
        for b in lits:
            lit_freq[b] = lit_freq.get(b, 0) + 1
    if not lit_freq:
        lit_freq = {0: 1}
    lit_lens = _huffman_lengths(lit_freq)
    # command code over used command symbols
    cmd_syms = []
    last_dist = None
    for ins_len, lits, cop_len, dist in cmds:
        cmd_syms.append(_command_symbol_for(ins_len, cop_len, dist,
                                            last_dist))
        if cop_len:
            last_dist = dist
    cmd_freq: dict[int, int] = {}
    for sym, _, _ in cmd_syms:
        cmd_freq[sym] = cmd_freq.get(sym, 0) + 1
    cmd_lens = _huffman_lengths(cmd_freq)
    # distance code over used distance symbols
    dist_freq: dict[int, int] = {}
    for _, dsym, _ in cmd_syms:
        if dsym is not None:
            dist_freq[dsym[0]] = dist_freq.get(dsym[0], 0) + 1
    if not dist_freq:
        dist_freq = {0: 1}
    dist_lens = _huffman_lengths(dist_freq)
    _emit_prefix_code(w, lit_lens, 256)
    _emit_prefix_code(w, cmd_lens, 704)
    _emit_prefix_code(w, dist_lens, 16 + 0 + (48 << 0))
    lit_codes = canonical_codes(sorted(lit_lens.items()))
    cmd_codes = canonical_codes(sorted(cmd_lens.items()))
    dist_codes = canonical_codes(sorted(dist_lens.items()))
    single_lit = len(lit_lens) == 1
    single_cmd = len(cmd_lens) == 1
    single_dist = len(dist_lens) == 1
    for (ins_len, lits, cop_len, dist), (sym, dsym, extras) in zip(
            cmds, cmd_syms):
        if not single_cmd:
            w.write_code(*cmd_codes[sym])
        ins_code, ins_extra, cop_code, cop_extra = extras
        w.write(ins_extra, INSERT_EXTRA[ins_code])
        w.write(cop_extra, COPY_EXTRA[cop_code])
        for b in lits:
            if not single_lit:
                w.write_code(*lit_codes[b])
        if dsym is not None:
            ds, dextra, dbits = dsym
            if not single_dist:
                w.write_code(*dist_codes[ds])
            if dbits:
                w.write(dextra, dbits)
    return w.bytes()


def _command_symbol_for(ins_len: int, cop_len: int, dist: int,
                        last_dist: int | None = None):
    """-> (cmd symbol, (dist_sym, extra, extra_bits) | None,
    (ins_code, ins_extra, cop_code, cop_extra)). ``cop_len`` 0 means
    the tail command whose copy is cut off by MLEN (any legal copy
    code works; we use code 0 = length 2). When the distance repeats
    ``last_dist``, the command uses the ring buffer: an implicit-
    distance zone when the codes fit (cmd < 128 reads no distance
    symbol at all), else distance symbol 0 (= ring[0], no push)."""
    ins_code, ins_extra = _len_code(ins_len, INSERT_BASE, INSERT_EXTRA)
    if cop_len == 0:
        cop_code, cop_extra = 0, 0
        dsym = None
        sym = _cmd_symbol(ins_code, cop_code, implicit=False)
        return sym, dsym, (ins_code, ins_extra, cop_code, cop_extra)
    cop_code, cop_extra = _len_code(cop_len, COPY_BASE, COPY_EXTRA)
    if last_dist is not None and dist == last_dist:
        if ins_code < 16 and cop_code < 16:
            try:
                sym = _cmd_symbol(ins_code, cop_code, implicit=True)
                return sym, None, (ins_code, ins_extra, cop_code,
                                   cop_extra)
            except ValueError:
                pass
        sym = _cmd_symbol(ins_code, cop_code, implicit=False)
        return sym, (0, 0, 0), (ins_code, ins_extra, cop_code,
                                cop_extra)
    # explicit distance, NPOSTFIX=0 NDIRECT=0: sym >= 16
    dcode_val = dist - 1    # NDIRECT + 1 subtracted
    # find (nbits, hi) with ((2+hi) << nbits) - 4 <= dcode_val
    dsym = None
    for nb in range(1, 25):
        for hi in (0, 1):
            off = ((2 + hi) << nb) - 4
            if off <= dcode_val < off + (1 << nb):
                sym = 16 + ((nb - 1) << 1) + hi
                dsym = (sym, dcode_val - off, nb)
                break
        if dsym:
            break
    if dsym is None:
        raise ValueError("distance out of range")
    sym = _cmd_symbol(ins_code, cop_code, implicit=False)
    return sym, dsym, (ins_code, ins_extra, cop_code, cop_extra)


def _greedy_lz(data: bytes, min_match: int = 4):
    """Greedy hash-chain matcher -> [(ins_len, literals, copy_len,
    dist)]; final command has copy_len 0 (cut off by MLEN)."""
    n = len(data)
    table: dict[bytes, int] = {}
    cmds = []
    lit_start = 0
    i = 0
    while i + min_match <= n:
        key = data[i:i + min_match]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= (1 << 16) - 16:
            # extend match (capped so long periodic runs become
            # several same-distance copies -> ring/implicit codes)
            length = min_match
            while (i + length < n and length < 1024
                   and data[j + length] == data[i + length]):
                length += 1
            length = min(length, n - i)
            cmds.append((i - lit_start, data[lit_start:i], length, i - j))
            i += length
            lit_start = i
        else:
            i += 1
    if lit_start < n or not cmds:
        # trailing literals ride a final copy-cut-by-MLEN command;
        # when the last match already reached EOF, appending an
        # empty command would write bits PAST the meta-block's
        # declared content — our decoder never reads them, but the
        # reference decoder (rightly) rejects such streams as
        # corrupt (round-5 reverse-conformance finding)
        cmds.append((n - lit_start, data[lit_start:n], 0, 0))
    return cmds


# ------------------------------------------- block-switching encoder


def compress_blocks(data: bytes, seg: int = 64) -> bytes:
    """Literals-only stream using TWO literal block types that
    alternate every ``seg`` literals, NTREESL=2 with an explicit
    context map (type 0 -> tree 0, type 1 -> tree 1, context-free),
    and real block-switch commands — round-trip coverage for the
    decoder's block machinery that the single-type modes never
    touch. Each tree is trained on its own half of the literals."""
    data = bytes(data)
    if not data:
        return compress(data)
    if len(data) > (1 << 24):
        raise ValueError("single-meta-block modes cap at 16 MiB")
    w = LsbWriter()
    w.write(0, 1)   # WBITS = 16
    w.write(1, 1)   # ISLAST
    w.write(0, 1)   # not empty
    _write_var_mlen(w, len(data))
    # literal blocks: 2 types
    _write_count(w, 2)
    # block type prefix code (alphabet 4): single symbol 1 =
    # "current + 1 mod 2" — every switch toggles the type
    w.write(1, 2)
    w.write(0, 2)
    w.write(1, 2)
    # block count prefix code (alphabet 26): single symbol
    segs = [data[i:i + seg] for i in range(0, len(data), seg)]
    count_sym, count_extra = _len_code(seg, BLOCK_COUNT_BASE,
                                       BLOCK_COUNT_EXTRA)
    w.write(1, 2)
    w.write(0, 2)
    w.write(count_sym, 5)
    # first block count (same symbol; extra bits follow)
    w.write(count_extra, BLOCK_COUNT_EXTRA[count_sym])
    # insert-and-copy / distance: 1 type each
    _write_count(w, 1)
    _write_count(w, 1)
    w.write(0, 2)   # NPOSTFIX
    w.write(0, 4)   # NDIRECT
    w.write(_LSB6, 2)   # context mode, type 0
    w.write(_LSB6, 2)   # context mode, type 1
    # NTREESL = 2 with explicit context map: 64 zeros then 64 ones
    _write_count(w, 2)
    w.write(0, 1)                   # no RLE (RLEMAX absent)
    # context-map prefix code over {0, 1}
    w.write(1, 2)
    w.write(1, 2)
    w.write(0, 1)
    w.write(1, 1)
    for v in [0] * 64 + [1] * 64:
        w.write(v, 1)               # canonical 1-bit codes: 0->0,1->1
    w.write(0, 1)                   # no IMTF
    _write_count(w, 1)              # NTREESD = 1
    # literal trees per block type
    lit_lens = []
    for t in (0, 1):
        freq: dict[int, int] = {}
        for i, s in enumerate(segs):
            if i % 2 == t:
                for b in s:
                    freq[b] = freq.get(b, 0) + 1
        if not freq:
            freq = {0: 1}
        lit_lens.append(_huffman_lengths(freq))
    # command code: one giant insert (copy cut off by MLEN)
    ins_code, ins_extra = _len_code(len(data), INSERT_BASE,
                                    INSERT_EXTRA)
    cmd_sym = _cmd_symbol(ins_code, 0, implicit=False)
    for lens in lit_lens:
        _emit_prefix_code(w, lens, 256)
    _emit_prefix_code(w, {cmd_sym: 1}, 704)
    _emit_prefix_code(w, {0: 1}, 64)    # distance code, never read
    # body: the command, then literals with block switches
    w.write(ins_extra, INSERT_EXTRA[ins_code])
    # copy extra bits for copy code 0: none
    codes = [canonical_codes(sorted(lens.items()))
             for lens in lit_lens]
    singles = [len(lens) == 1 for lens in lit_lens]
    count = seg
    btype = 0
    for i, b in enumerate(data):
        if count == 0:
            # switch: type symbol is the single-code (no bits), then
            # the count symbol (single, no bits) + its extra bits
            w.write(count_extra, BLOCK_COUNT_EXTRA[count_sym])
            btype ^= 1
            count = seg
        count -= 1
        if not singles[btype]:
            w.write_code(*codes[btype][b])
    return w.bytes()


def compress_ctx(data: bytes) -> bytes:
    """Literals-only stream whose NTREESL=2 context map is keyed on
    the literal CONTEXT (MSB6 of the previous byte: ctx < 32 ->
    tree 0, else tree 1), not on block type — round-trip coverage
    for context-dependent tree selection in the decoder."""
    data = bytes(data)
    if not data:
        return compress(data)
    if len(data) > (1 << 24):
        raise ValueError("single-meta-block modes cap at 16 MiB")
    w = LsbWriter()
    w.write(0, 1)   # WBITS = 16
    w.write(1, 1)   # ISLAST
    w.write(0, 1)   # not empty
    _write_var_mlen(w, len(data))
    for _ in range(3):
        _write_count(w, 1)          # NBLTYPES L/I/D = 1
    w.write(0, 2)   # NPOSTFIX
    w.write(0, 4)   # NDIRECT
    w.write(_MSB6, 2)               # context mode
    _write_count(w, 2)              # NTREESL = 2
    w.write(0, 1)                   # no RLE
    # context-map code over {0,1}; map: ctx 0..31 -> 0, 32..63 -> 1
    w.write(1, 2)
    w.write(1, 2)
    w.write(0, 1)
    w.write(1, 1)
    for v in [0] * 32 + [1] * 32:
        w.write(v, 1)
    w.write(0, 1)                   # no IMTF
    _write_count(w, 1)              # NTREESD = 1
    # split literals by the tree each will use (MSB6 of prev byte)
    freqs = [{}, {}]
    prev = 0
    for b in data:
        t = 0 if (prev >> 2) < 32 else 1
        freqs[t][b] = freqs[t].get(b, 0) + 1
        prev = b
    lens = [_huffman_lengths(f) if f else {0: 1} for f in freqs]
    ins_code, ins_extra = _len_code(len(data), INSERT_BASE,
                                    INSERT_EXTRA)
    cmd_sym = _cmd_symbol(ins_code, 0, implicit=False)
    for ln in lens:
        _emit_prefix_code(w, ln, 256)
    _emit_prefix_code(w, {cmd_sym: 1}, 704)
    _emit_prefix_code(w, {0: 1}, 64)
    w.write(ins_extra, INSERT_EXTRA[ins_code])
    codes = [canonical_codes(sorted(ln.items()))
             for ln in lens]
    singles = [len(ln) == 1 for ln in lens]
    prev = 0
    for b in data:
        t = 0 if (prev >> 2) < 32 else 1
        if not singles[t]:
            w.write_code(*codes[t][b])
        prev = b
    return w.bytes()
