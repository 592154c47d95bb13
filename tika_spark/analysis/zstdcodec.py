"""From-scratch Zstandard decoder + fixture encoder (RFC 8878,
pure Python).

Decoder: frame headers (window descriptor, single-segment,
content-size fields, dictionary-id fields rejected cleanly), raw /
RLE / compressed blocks, the four literals forms (raw, RLE,
Huffman-compressed with direct or FSE-compressed weight tables, in
one or four streams, and treeless repeats), sequences in all four
table modes (predefined, RLE, FSE-compressed, repeat), the
backward-read bit streams with sentinel bits, FSE decode-table
construction (step-spread with low-probability cells at the table
top), the literal/match-length/offset code baselines + extra bits,
the three-slot repeat-offset ring with the literals-length-zero
shift, and sequence execution with overlapping matches.

Dictionaries (RFC 8878 section 5) are supported: raw-content
dictionaries (no magic — the whole blob seeds the match window) and
structured ``0xEC30A437`` dictionaries (Dictionary_ID, entropy
tables in zstd's load order — Huffman literals, then OF/ML/LL FSE —
three little-endian repeat offsets validated against the content
size, then content). A frame naming a Dictionary_ID decodes only
when the matching dictionary is passed (``zdict=``); matches may
reach back into dictionary content, the first block may open in
treeless/repeat entropy modes against the dictionary's tables, and
the repeat-offset ring seeds from the dictionary. Content checksums
ARE verified (from-scratch XXH64, pinned by the published test
vectors). Skippable frames are skipped per spec.

Encoder (fixtures): genuine zstd frames four ways — raw blocks, RLE
blocks, compressed blocks with raw literals + predefined-FSE-coded
sequences from a greedy LZ matcher (real repeat-offset usage), and
single-stream Huffman literals with a direct-weights table — plus
dictionary-referencing frames (``zdict=``): the match window is
seeded with the dictionary content and mode="dict" opens the frame
with treeless literals + all-repeat sequence tables straight from a
structured dictionary's entropy section (``build_dict`` writes
one). FSE
encoding runs the decode table backward (each symbol's state
intervals partition the table, so the previous state is unique);
Huffman encoding uses the same weight-canonical code the decoder
builds. Every wire path above is therefore pinned by dual-path
round-trips with no third-party codec in the loop.

The predefined FSE distributions and the LL/ML/OF baseline tables
are transcribed from RFC 8878 section 3.1.1.3.2.2; as with the VP8
and brotli tiers, round-trip correctness is table-independent
(encoder and decoder share them), and real-file parity additionally
depends on transcription fidelity, unverifiable in this sandbox
(no reference zstd binary or test vectors).

Reference parity: the reference (tballison/tika) routes
application/zstd to an OPTIONAL commons-compress codec
(`CompressorParser.java` — present only when the zstd-jni jar is on
the classpath); this module makes the format first-class for the
archive tier (pkg/parser.py) and .warc.zst web archives.

Scale contract: per-row decode inside mapInPandas with an explicit
``max_out`` inflate guard; corrupt payloads raise ValueError and
become status rows; no shuffle.
"""

from __future__ import annotations

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F

# ----------------------------------------------- backward bit streams


class _BackBits:
    """RFC 8878 backward bit stream: starts at the LAST byte, skips
    the sentinel 1 bit, then serves bit fields MSB-first."""

    __slots__ = ("acc", "nbits")

    def __init__(self, data: bytes):
        if not data:
            raise ValueError("empty zstd bitstream")
        acc = int.from_bytes(data, "little")
        top = acc.bit_length()
        if top == 0:
            raise ValueError("zstd bitstream without a sentinel bit")
        self.acc = acc
        self.nbits = top - 1            # strip the sentinel

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if n > self.nbits:
            # the spec allows reading past the start as zeros for
            # final state reloads; bound it to one field's worth
            pad = n - self.nbits
            if pad > 32:
                raise ValueError("zstd bitstream exhausted")
            v = (self.acc & ((1 << self.nbits) - 1)) << pad
            self.nbits = 0
            self.acc = 0
            return v
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        return v

    def exhausted(self) -> bool:
        return self.nbits == 0


class _BackWriter:
    """Mirror of _BackBits: fields appended in DECODER-READ order."""

    __slots__ = ("acc", "nbits")

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int):
        if n == 0:
            return
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n

    def bytes(self) -> bytes:
        # sentinel directly above the first-decoded field; the byte
        # pad lives ABOVE the sentinel (content stays dense at bit 0
        # so exhaustion-terminated streams end exactly)
        acc = (1 << self.nbits) | self.acc
        return acc.to_bytes((self.nbits + 8) // 8, "little")


# ------------------------------------------------------ FSE machinery


def _fse_decode_table(counts: list[int], accuracy: int):
    """RFC 8878 section 4.1.1 decode table: [(symbol, nb_bits,
    baseline)] of size 1 << accuracy. ``counts`` are the normalized
    frequencies (-1 = less-than-one)."""
    size = 1 << accuracy
    if sum(c for c in counts if c > 0) + sum(
            1 for c in counts if c == -1) > size:
        raise ValueError("over-subscribed FSE distribution")
    cells = [None] * size
    # low-probability symbols occupy the top cells, assigned from the
    # LAST cell downward in ascending symbol order (reference
    # FSE_buildDTable: tableDecode[highThreshold--] — round-5
    # conformance sweep caught the ascending placement mis-decoding
    # every frame whose state lands in these cells, e.g. any match
    # length >= 8k via the predefined ML table)
    low = [s for s, c in enumerate(counts) if c == -1]
    high_start = size - len(low)
    for i, s in enumerate(low):
        cells[size - 1 - i] = s
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, c in enumerate(counts):
        if c <= 0:
            continue
        for _ in range(c):
            cells[pos] = s
            pos = (pos + step) & mask
            while pos >= high_start:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("corrupt FSE distribution (spread mismatch)")
    nxt = [c if c > 0 else 1 for c in counts]
    table = [None] * size
    for i in range(size):
        s = cells[i]
        if s is None:
            raise ValueError("FSE table has unassigned cells")
        x = nxt[s]
        nxt[s] = x + 1
        nb = accuracy - (x.bit_length() - 1)
        baseline = (x << nb) - size
        table[i] = (s, nb, baseline)
    return table


def _fse_read_distribution(data: bytes, pos: int, max_accuracy: int,
                           max_symbols: int):
    """Parse an FSE table description -> (counts, accuracy, new_pos).
    Bit fields are read LSB-first from the byte stream (forward);
    the variable-width count coding follows the remaining-total
    threshold scheme of RFC 8878 section 4.1.1."""
    bitpos = 0

    def take(n):
        nonlocal bitpos
        byte_i = pos + (bitpos >> 3)
        chunk = data[byte_i:byte_i + 6]
        if len(chunk) * 8 < (bitpos & 7) + n:
            raise ValueError("truncated FSE description")
        v = int.from_bytes(chunk.ljust(6, b"\x00"), "little")
        v = (v >> (bitpos & 7)) & ((1 << n) - 1)
        bitpos += n
        return v

    def peek(n):
        byte_i = pos + (bitpos >> 3)
        chunk = data[byte_i:byte_i + 6]
        v = int.from_bytes(chunk.ljust(6, b"\x00"), "little")
        return (v >> (bitpos & 7)) & ((1 << n) - 1)

    accuracy = take(4) + 5
    if accuracy > max_accuracy:
        raise ValueError("FSE accuracy beyond the field's limit")
    remaining = (1 << accuracy) + 1
    threshold = 1 << accuracy
    nb_bits = accuracy + 1
    counts: list[int] = []
    prev_zero = False
    while remaining > 1 and len(counts) <= max_symbols:
        if prev_zero:
            while True:
                rep = take(2)
                counts.extend([0] * rep)
                if rep != 3:
                    break
            prev_zero = False
            if len(counts) > max_symbols:
                break
            continue
        while remaining < threshold:
            nb_bits -= 1
            threshold >>= 1
        cap = 2 * threshold - 1 - remaining
        v = peek(nb_bits)
        low = v & (threshold - 1)
        if low < cap:
            count = low
            bitpos += nb_bits - 1
        else:
            count = v & (2 * threshold - 1)
            bitpos += nb_bits
            if count >= threshold:
                count -= cap
        count -= 1                      # -1 encodes "less than one"
        counts.append(count)
        remaining -= -count if count < 0 else count
        prev_zero = count == 0
    if remaining != 1:
        raise ValueError("FSE distribution does not sum to table size")
    if len(counts) > max_symbols + 1:
        raise ValueError("FSE distribution has too many symbols")
    new_pos = pos + ((bitpos + 7) >> 3)
    return counts, accuracy, new_pos


class _FwdWriter:
    """LSB-first forward bit writer (FSE descriptions, literal
    section headers)."""

    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, v: int, nbits: int):
        self.buf |= (v & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.buf & 0xFF)
            self.buf >>= 8
            self.n -= 8

    def bytes(self) -> bytes:
        b = bytearray(self.out)
        if self.n:
            b.append(self.buf & 0xFF)
        return bytes(b)


def _fse_write_distribution(counts: list[int], accuracy: int) -> bytes:
    """Mirror of _fse_read_distribution (fixture encoder)."""
    w = _FwdWriter()
    w.write(accuracy - 5, 4)
    remaining = (1 << accuracy) + 1
    threshold = 1 << accuracy
    nb_bits = accuracy + 1
    i = 0
    while i < len(counts) and remaining > 1:
        count = counts[i]
        i += 1
        while remaining < threshold:
            nb_bits -= 1
            threshold >>= 1
        cap = 2 * threshold - 1 - remaining
        enc = count + 1
        low_ok = enc < cap
        if low_ok:
            w.write(enc, nb_bits - 1)
        else:
            v = enc if enc < threshold else enc + cap
            w.write(v, nb_bits)
        remaining -= -count if count < 0 else count
        if count == 0:
            # zero-repeat chain for following zeros
            run = 0
            while i < len(counts) and counts[i] == 0:
                run += 1
                i += 1
            while run >= 3:
                w.write(3, 2)
                run -= 3
            w.write(run, 2)
    if remaining != 1:
        raise ValueError("counts do not sum to the table size")
    return w.bytes()


# -------------------------------------- predefined tables + baselines

LL_DEFAULT = (4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
              2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
              -1, -1, -1, -1)                      # accuracy 6
ML_DEFAULT = (1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
              1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
              1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
              -1, -1, -1, -1, -1, -1, -1)          # accuracy 6
OF_DEFAULT = (1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
              1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)  # acc 5

LL_BASE = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
           16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512,
           1024, 2048, 4096, 8192, 16384, 32768, 65536)
LL_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
            1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12,
            13, 14, 15, 16)
ML_BASE = tuple(range(3, 35)) + (35, 37, 39, 41, 43, 47, 51, 59,
                                 67, 83, 99, 131, 259, 515, 1027,
                                 2051, 4099, 8195, 16387, 32771,
                                 65539)
ML_EXTRA = (0,) * 32 + (1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9,
                        10, 11, 12, 13, 14, 15, 16)

MAX_LL_SYMBOL, MAX_ML_SYMBOL, MAX_OF_SYMBOL = 35, 52, 31
LL_MAX_ACC, ML_MAX_ACC, OF_MAX_ACC = 9, 9, 8


def _ll_code(v: int) -> int:
    for i in range(len(LL_BASE) - 1, -1, -1):
        if v >= LL_BASE[i]:
            return i
    raise ValueError("bad literal length")


def _ml_code(v: int) -> int:
    for i in range(len(ML_BASE) - 1, -1, -1):
        if v >= ML_BASE[i]:
            return i
    raise ValueError("bad match length")


# ------------------------------------------------------------ huffman


class _Huff:
    """Weight-canonical Huffman code (RFC 8878 section 4.2.1):
    weight w > 0 -> length max_bits + 1 - w; the LAST symbol's
    weight is implied (it completes the weight total to a power of
    two); codes are assigned longest-first, natural symbol order
    within a weight, read MSB-first from the backward stream."""

    __slots__ = ("table", "max_bits", "n_symbols")

    def __init__(self, weights: list[int]):
        total = sum((1 << (w - 1)) for w in weights if w > 0)
        if total == 0:
            raise ValueError("empty huffman weights")
        target = 1 << total.bit_length()     # strictly greater power
        last = target - total
        if last & (last - 1):
            raise ValueError("huffman weights do not complete a "
                             "power of two")
        full = list(weights) + [last.bit_length()]
        max_bits = target.bit_length() - 1
        if max_bits > 11:
            raise ValueError("huffman code longer than 11 bits")
        lengths = {sym: max_bits + 1 - w
                   for sym, w in enumerate(full) if w > 0}
        self.table = {}
        code = 0
        prev = None
        for ln, sym in sorted(((l, sy) for sy, l in lengths.items()),
                              key=lambda t: (-t[0], t[1])):
            if prev is not None and ln != prev:
                code >>= (prev - ln)
            self.table[(ln, code)] = sym
            code += 1
            prev = ln
        if code != (1 << prev):
            raise ValueError("huffman weights form an incomplete code")
        self.max_bits = max_bits
        self.n_symbols = len(full)

    def read(self, bits: _BackBits) -> int:
        code = 0
        for ln in range(1, self.max_bits + 1):
            code = (code << 1) | bits.read(1)
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in zstd stream")

    def codes(self) -> dict:
        """symbol -> (code, len) for the encoder."""
        return {s: (c, ln) for (ln, c), s in self.table.items()}


def _fse_weight_stream_decode(table, acc: int, bits: _BackBits,
                              limit: int = 255) -> list[int]:
    """Two alternating FSE states; emission k uses stream k%2; after
    each emission the just-used state updates (setting emission
    k+2's value) until the bit budget runs dry, when the OTHER
    state's pending symbol flushes and decoding ends."""
    s1 = bits.read(acc)
    s2 = bits.read(acc)
    out = []
    cur, oth = s1, s2
    while True:
        sym, nb, base = table[cur]
        out.append(sym)
        if len(out) > limit:
            raise ValueError("huffman weight stream runaway")
        if bits.nbits >= nb and (bits.nbits or nb):
            nxt = base + bits.read(nb)
            cur, oth = oth, nxt
        else:
            out.append(table[oth][0])
            break
    return out


def _read_huffman(data: bytes, pos: int):
    """Huffman tree description -> (_Huff, new_pos)."""
    if pos >= len(data):
        raise ValueError("truncated huffman description")
    hb = data[pos]
    pos += 1
    if hb >= 128:
        n = hb - 127
        nbytes = (n + 1) // 2
        blob = data[pos:pos + nbytes]
        if len(blob) < nbytes:
            raise ValueError("truncated direct huffman weights")
        weights = []
        for i in range(n):
            b = blob[i >> 1]
            weights.append((b >> 4) if i % 2 == 0 else (b & 15))
        return _Huff(weights), pos + nbytes
    blob = data[pos:pos + hb]
    if len(blob) < hb:
        raise ValueError("truncated FSE huffman weights")
    counts, acc, dpos = _fse_read_distribution(blob, 0, 6, 255)
    table = _fse_decode_table(counts, acc)
    weights = _fse_weight_stream_decode(table, acc,
                                        _BackBits(blob[dpos:]))
    return _Huff(weights), pos + hb


def _fse_intervals(table):
    """symbol -> [(lo, hi, cell_index, nb, base)]: each symbol's
    state intervals partition [0, table size)."""
    iv = {}
    for idx, (s, nb, base) in enumerate(table):
        iv.setdefault(s, []).append((base, base + (1 << nb), idx,
                                     nb, base))
    return iv


def _fse_encode_chain(table, symbols: list[int]):
    """Choose cells c_0..c_{n-1} (decode order) with symbol(c_k) =
    symbols[k] and c_{k+step} inside c_k's interval for the
    alternating-stream layout used by the weight stream (step=2).
    Returns the cells."""
    iv = _fse_intervals(table)
    n = len(symbols)
    cells = [None] * n

    def pick(sym, within):
        lst = iv.get(sym)
        if not lst:
            raise ValueError("symbol missing from FSE table")
        if within is None:
            return lst[0]
        for lo, hi, idx, nb, base in lst:
            if lo <= within < hi:
                return (lo, hi, idx, nb, base)
        raise AssertionError("FSE intervals must partition the table")

    for k in range(n - 1, -1, -1):
        within = cells[k + 2][2] if k + 2 < n else None
        cells[k] = pick(symbols[k], within)
    return cells


def _write_huffman_weights_fse(weights: list[int],
                               counts: list[int] | None = None,
                               acc: int = 5) -> bytes:
    """Encoder dual of the FSE-weights branch of _read_huffman."""
    m = len(weights)
    if m < 2:
        raise ValueError("need two explicit weights for FSE form")
    if counts is None:
        hist = {}
        for w in weights:
            hist[w] = hist.get(w, 0) + 1
        size = 1 << acc
        syms = sorted(hist)
        if len(syms) < 2:
            raise ValueError("single-weight streams use the direct "
                             "form (zero-bit FSE cells would defeat "
                             "exhaustion-based termination)")
        # cap every count at size/2 so each cell reads >= 1 bit and
        # the stream end is exactly detectable
        cap = size >> 1
        counts = [0] * (max(syms) + 1)
        left = size
        for i, sym in enumerate(syms):
            rest = len(syms) - 1 - i
            if i == len(syms) - 1:
                c = left
            else:
                c = max(1, (hist[sym] * size) // m)
                c = min(c, left - rest)
            c = min(c, cap)
            counts[sym] = c
            left -= c
        if left:
            for sym in syms:
                add = min(left, cap - counts[sym])
                counts[sym] += add
                left -= add
                if left == 0:
                    break
        if left:
            raise ValueError("cannot normalize weight histogram")
    table = _fse_decode_table(counts, acc)
    cells = _fse_encode_chain(table, weights)
    bw = _BackWriter()
    bw.write(cells[0][2], acc)            # init stream A
    bw.write(cells[1][2], acc)            # init stream B
    for k in range(m - 2):                # update after emission k
        lo, hi, idx, nb, base = cells[k]
        bw.write(cells[k + 2][2] - base, nb)
    blob = _fse_write_distribution(counts, acc) + bw.bytes()
    if len(blob) >= 128:
        raise ValueError("weight table too large for FSE form")
    return bytes((len(blob),)) + blob


# ----------------------------------------------------------- literals


def _decode_literals(block: bytes, pos: int, prev_huff):
    """Literals section -> (literals bytes, new_pos, huff_used)."""
    if pos >= len(block):
        raise ValueError("missing literals section")
    b0 = block[pos]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):                       # raw / RLE
        if sf in (0, 2):
            rs = b0 >> 3
            pos += 1
        elif sf == 1:
            if pos + 2 > len(block):
                raise ValueError("short literals header")
            rs = (b0 >> 4) | (block[pos + 1] << 4)
            pos += 2
        else:
            if pos + 3 > len(block):
                raise ValueError("short literals header")
            rs = (b0 >> 4) | (block[pos + 1] << 4) \
                | (block[pos + 2] << 12)
            pos += 3
        if ltype == 0:
            lits = block[pos:pos + rs]
            if len(lits) < rs:
                raise ValueError("short raw literals")
            return lits, pos + rs, prev_huff
        if pos >= len(block):
            raise ValueError("short RLE literals")
        return bytes((block[pos],)) * rs, pos + 1, prev_huff
    # compressed (2) / treeless (3)
    if sf == 0:
        n_streams = 1
        if pos + 3 > len(block):
            raise ValueError("short literals header")
        v = b0 | (block[pos + 1] << 8) | (block[pos + 2] << 16)
        rs = (v >> 4) & 0x3FF
        cs = v >> 14
        pos += 3
    elif sf == 1:
        n_streams = 4
        if pos + 3 > len(block):
            raise ValueError("short literals header")
        v = b0 | (block[pos + 1] << 8) | (block[pos + 2] << 16)
        rs = (v >> 4) & 0x3FF
        cs = v >> 14
        pos += 3
    elif sf == 2:
        n_streams = 4
        if pos + 4 > len(block):
            raise ValueError("short literals header")
        v = (b0 | (block[pos + 1] << 8) | (block[pos + 2] << 16)
             | (block[pos + 3] << 24))
        rs = (v >> 4) & 0x3FFF
        cs = v >> 18
        pos += 4
    else:
        n_streams = 4
        if pos + 5 > len(block):
            raise ValueError("short literals header")
        v = int.from_bytes(block[pos:pos + 5], "little")
        rs = (v >> 4) & 0x3FFFF
        cs = v >> 22
        pos += 5
    end = pos + cs
    if end > len(block):
        raise ValueError("literals overrun the block")
    if ltype == 2:
        huff, pos = _read_huffman(block, pos)
    else:
        if prev_huff is None:
            raise ValueError("treeless literals without a prior tree")
        huff = prev_huff
    body = block[pos:end]
    if n_streams == 1:
        lits = _huff_stream(huff, body, rs)
    else:
        if len(body) < 6:
            raise ValueError("missing literals jump table")
        s1 = int.from_bytes(body[0:2], "little")
        s2 = int.from_bytes(body[2:4], "little")
        s3 = int.from_bytes(body[4:6], "little")
        off = 6
        sizes = [s1, s2, s3, len(body) - 6 - s1 - s2 - s3]
        if sizes[3] < 0:
            raise ValueError("bad literals jump table")
        per = (rs + 3) // 4
        outs = []
        for k, sz in enumerate(sizes):
            want = per if k < 3 else rs - 3 * per
            outs.append(_huff_stream(huff, body[off:off + sz], want))
            off += sz
        lits = b"".join(outs)
    if len(lits) != rs:
        raise ValueError("literals size mismatch")
    return lits, end, huff


def _huff_stream(huff, body: bytes, want: int) -> bytes:
    bits = _BackBits(body)
    out = bytearray()
    for _ in range(want):
        out.append(huff.read(bits))
    return bytes(out)


# ---------------------------------------------------------- sequences


def _read_seq_table(block, pos, mode, default, default_acc, max_sym,
                    max_acc, prev):
    """One sequence table per its 2-bit mode -> (table, acc, pos)."""
    if mode == 0:
        return _fse_decode_table(list(default), default_acc), \
            default_acc, pos
    if mode == 1:
        if pos >= len(block):
            raise ValueError("short RLE sequence table")
        sym = block[pos]
        if sym > max_sym:
            raise ValueError("RLE sequence symbol out of range")
        # a 0-bit single-state table
        return [(sym, 0, 0)], 0, pos + 1
    if mode == 2:
        counts, acc, pos = _fse_read_distribution(block, pos,
                                                  max_acc, max_sym)
        return _fse_decode_table(counts, acc), acc, pos
    if prev is None:
        raise ValueError("repeat sequence mode without a prior table")
    return prev[0], prev[1], pos


def _decode_sequences(block, pos, n_seq, prev_tables):
    """-> (list of (ll, ml, offset_value), tables) — offset_value is
    the raw coded value (repeat logic applied by the executor)."""
    if pos >= len(block):
        raise ValueError("missing sequence modes byte")
    modes = block[pos]
    pos += 1
    if modes & 3:
        raise ValueError("reserved sequence mode bits set")
    ll_mode = (modes >> 6) & 3
    of_mode = (modes >> 4) & 3
    ml_mode = (modes >> 2) & 3
    pt = prev_tables or {}
    ll_t, ll_acc, pos = _read_seq_table(
        block, pos, ll_mode, LL_DEFAULT, 6, MAX_LL_SYMBOL,
        LL_MAX_ACC, pt.get("ll"))
    of_t, of_acc, pos = _read_seq_table(
        block, pos, of_mode, OF_DEFAULT, 5, MAX_OF_SYMBOL,
        OF_MAX_ACC, pt.get("of"))
    ml_t, ml_acc, pos = _read_seq_table(
        block, pos, ml_mode, ML_DEFAULT, 6, MAX_ML_SYMBOL,
        ML_MAX_ACC, pt.get("ml"))
    bits = _BackBits(block[pos:])
    ll_state = bits.read(ll_acc)
    of_state = bits.read(of_acc)
    ml_state = bits.read(ml_acc)
    out = []
    for i in range(n_seq):
        of_code = of_t[of_state][0]
        if of_code > 31:
            raise ValueError("offset code out of range")
        of_value = (1 << of_code) + bits.read(of_code)
        ml_code = ml_t[ml_state][0]
        ml = ML_BASE[ml_code] + bits.read(ML_EXTRA[ml_code])
        ll_code = ll_t[ll_state][0]
        ll = LL_BASE[ll_code] + bits.read(LL_EXTRA[ll_code])
        out.append((ll, ml, of_value))
        if i + 1 < n_seq:
            s, nb, base = ll_t[ll_state]
            ll_state = base + bits.read(nb)
            s, nb, base = ml_t[ml_state]
            ml_state = base + bits.read(nb)
            s, nb, base = of_t[of_state]
            of_state = base + bits.read(nb)
    tables = {"ll": (ll_t, ll_acc), "of": (of_t, of_acc),
              "ml": (ml_t, ml_acc)}
    return out, tables


def _apply_offset(of_value: int, ll: int, reps: list[int]) -> int:
    """RFC 8878 repeat-offset resolution + ring update."""
    if of_value > 3:
        off = of_value - 3
        reps[2] = reps[1]
        reps[1] = reps[0]
        reps[0] = off
        return off
    idx = of_value - 1 + (1 if ll == 0 else 0)
    if idx == 0:
        return reps[0]
    if idx == 1:
        off = reps[1]
        reps[1] = reps[0]
        reps[0] = off
        return off
    off = reps[2] if idx == 2 else reps[0] - 1
    if off == 0:
        raise ValueError("zero repeat offset")
    reps[2] = reps[1]
    reps[1] = reps[0]
    reps[0] = off
    return off


# ------------------------------------------------------- dictionaries

DICT_MAGIC = b"\x37\xa4\x30\xec"                   # 0xEC30A437 LE


class ZstdDict:
    """Parsed RFC 8878 section 5 dictionary.

    ``content`` seeds the match window; structured dictionaries also
    carry ``dict_id``, a literals Huffman table, the three sequence
    FSE tables (``tables`` in the decoder's prev-tables shape), and
    the initial repeat-offset ring. Raw-content dictionaries have
    ``dict_id`` 0 and no entropy section.
    """

    __slots__ = ("dict_id", "content", "huff", "tables", "reps")

    def __init__(self, dict_id: int, content: bytes, huff=None,
                 tables=None, reps=(1, 4, 8)):
        self.dict_id = dict_id
        self.content = bytes(content)
        self.huff = huff
        self.tables = tables
        self.reps = tuple(reps)


def parse_dict(raw: bytes) -> ZstdDict:
    """Bytes → :class:`ZstdDict`. Without the ``0xEC30A437`` magic
    the whole blob is a raw-content dictionary; with it, the entropy
    section is loaded in zstd's order (Huffman literals, then OF /
    ML / LL FSE tables), then the three little-endian repeat offsets
    (each must be nonzero and within the content), then content."""
    raw = bytes(raw)
    if raw[:4] != DICT_MAGIC:
        return ZstdDict(0, raw)
    if len(raw) < 8:
        raise ValueError("truncated zstd dictionary header")
    dict_id = int.from_bytes(raw[4:8], "little")
    huff, pos = _read_huffman(raw, 8)
    of_counts, of_acc, pos = _fse_read_distribution(
        raw, pos, OF_MAX_ACC, MAX_OF_SYMBOL)
    ml_counts, ml_acc, pos = _fse_read_distribution(
        raw, pos, ML_MAX_ACC, MAX_ML_SYMBOL)
    ll_counts, ll_acc, pos = _fse_read_distribution(
        raw, pos, LL_MAX_ACC, MAX_LL_SYMBOL)
    if pos + 12 > len(raw):
        raise ValueError("truncated zstd dictionary repeat offsets")
    reps = [int.from_bytes(raw[pos + 4 * i:pos + 4 * i + 4], "little")
            for i in range(3)]
    pos += 12
    content = raw[pos:]
    for r in reps:
        if r == 0 or r > len(content):
            raise ValueError("zstd dictionary repeat offset out of "
                             "range")
    tables = {
        "ll": (_fse_decode_table(ll_counts, ll_acc), ll_acc),
        "of": (_fse_decode_table(of_counts, of_acc), of_acc),
        "ml": (_fse_decode_table(ml_counts, ml_acc), ml_acc),
    }
    return ZstdDict(dict_id, content, huff, tables, reps)


def build_dict(content: bytes, dict_id: int,
               literal_sample: bytes | None = None) -> bytes:
    """Write a structured dictionary (fixture surface): Huffman
    literals table trained on ``literal_sample`` (default: the
    content), the three predefined sequence distributions written as
    explicit FSE tables (so a repeat-mode first block can code any
    sequence the predefined tables can), repeat ring {1,4,8}, then
    ``content``. ``dict_id`` must be nonzero (0 means raw-content)."""
    content = bytes(content)
    if not dict_id:
        raise ValueError("structured dictionaries need a nonzero id")
    if len(content) < 8:
        raise ValueError("dictionary content too short for the "
                         "default repeat ring")
    desc, _ = _huff_description(literal_sample
                                if literal_sample is not None
                                else content)
    out = bytearray(DICT_MAGIC)
    out += dict_id.to_bytes(4, "little")
    out += desc
    out += _fse_write_distribution(list(OF_DEFAULT), 5)
    out += _fse_write_distribution(list(ML_DEFAULT), 6)
    out += _fse_write_distribution(list(LL_DEFAULT), 6)
    for r in (1, 4, 8):
        out += r.to_bytes(4, "little")
    out += content
    return bytes(out)


# ------------------------------------------------------- frame decode


def decompress(data: bytes, max_out: int = 1 << 26,
               zdict: "ZstdDict | bytes | None" = None) -> bytes:
    """Decode one-or-more concatenated zstd frames (skippable frames
    skipped). ``zdict`` supplies the dictionary for frames that name
    one (raw bytes are parsed via :func:`parse_dict`). Raises
    ValueError on corrupt input, a missing/mismatched dictionary, or
    output beyond ``max_out``."""
    data = bytes(data or b"")
    if zdict is not None and not isinstance(zdict, ZstdDict):
        zdict = parse_dict(bytes(zdict))
    pos = 0
    out = bytearray()
    saw_frame = False
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("trailing garbage after zstd frame")
        magic = int.from_bytes(data[pos:pos + 4], "little")
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if pos + 8 > len(data):
                raise ValueError("short skippable frame")
            sz = int.from_bytes(data[pos + 4:pos + 8], "little")
            pos += 8 + sz
            continue
        if data[pos:pos + 4] != ZSTD_MAGIC:
            raise ValueError("bad zstd magic")
        pos = _decode_frame(data, pos + 4, out, max_out, zdict)
        saw_frame = True
    if not saw_frame:
        raise ValueError("no zstd frame present")
    return bytes(out)


def _decode_frame(data: bytes, pos: int, out: bytearray,
                  max_out: int,
                  zdict: "ZstdDict | None" = None) -> int:
    if pos >= len(data):
        raise ValueError("missing frame header")
    fhd = data[pos]
    pos += 1
    dict_flag = fhd & 3
    checksum = (fhd >> 2) & 1
    if (fhd >> 3) & 1:
        raise ValueError("reserved frame-header bit set")
    single = (fhd >> 5) & 1
    fcs_flag = fhd >> 6
    if not single:
        pos += 1                                   # window descriptor
    did_bytes = (0, 1, 2, 4)[dict_flag]
    if did_bytes:
        did = int.from_bytes(data[pos:pos + did_bytes], "little")
        if did:
            if zdict is None:
                raise ValueError(
                    f"frame names dictionary {did} but none was "
                    "supplied (zdict=)")
            if zdict.dict_id and zdict.dict_id != did:
                raise ValueError(
                    f"frame names dictionary {did} but the supplied "
                    f"dictionary is {zdict.dict_id}")
        pos += did_bytes
    fcs_bytes = (1 if single else 0, 2, 4, 8)[fcs_flag]
    content_size = None
    if fcs_bytes:
        if pos + fcs_bytes > len(data):
            raise ValueError("short frame-content-size field")
        content_size = int.from_bytes(data[pos:pos + fcs_bytes],
                                      "little")
        if fcs_bytes == 2:
            content_size += 256
        pos += fcs_bytes
    # the frame decodes into its own window so matches can reach the
    # dictionary content but never a PREVIOUS frame's output (RFC
    # 8878: the window never spans frames)
    prev_huff = None
    prev_tables = None
    if zdict is not None:
        buf = bytearray(zdict.content)
        prev_huff = zdict.huff
        if zdict.tables is not None:
            prev_tables = dict(zdict.tables)
            prev_tables["reps"] = list(zdict.reps)
    else:
        buf = bytearray()
    base = len(buf)
    while True:
        if pos + 3 > len(data):
            raise ValueError("missing block header")
        bh = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if btype == 0:                              # raw
            if pos + bsize > len(data):
                raise ValueError("raw block overruns frame")
            buf += data[pos:pos + bsize]
            pos += bsize
        elif btype == 1:                            # RLE
            if pos >= len(data):
                raise ValueError("missing RLE byte")
            buf += data[pos:pos + 1] * bsize
            pos += 1
        elif btype == 2:
            if pos + bsize > len(data):
                raise ValueError("compressed block overruns frame")
            block = data[pos:pos + bsize]
            pos += bsize
            prev_huff, prev_tables = _decode_block(
                block, buf, prev_huff, prev_tables, max_out)
        else:
            raise ValueError("reserved block type")
        if len(buf) - base > max_out:
            raise ValueError("zstd output exceeds max_out guard")
        if last:
            break
    if checksum:
        if pos + 4 > len(data):
            raise ValueError("missing content checksum")
        want = int.from_bytes(data[pos:pos + 4], "little")
        got = xxh64(bytes(buf[base:])) & 0xFFFFFFFF
        if got != want:
            raise ValueError("zstd content checksum mismatch")
        pos += 4
    if content_size is not None and len(buf) - base != content_size:
        raise ValueError("frame content size mismatch")
    out += buf[base:]
    return pos


def _decode_block(block, out, prev_huff, prev_tables, max_out):
    lits, pos, huff = _decode_literals(block, 0, prev_huff)
    # sequence count
    if pos >= len(block):
        raise ValueError("missing sequence count")
    b0 = block[pos]
    pos += 1
    if b0 == 0:
        n_seq = 0
    elif b0 < 128:
        n_seq = b0
    elif b0 < 255:
        if pos >= len(block):
            raise ValueError("short sequence count")
        n_seq = ((b0 - 128) << 8) + block[pos]
        pos += 1
    else:
        if pos + 2 > len(block):
            raise ValueError("short sequence count")
        n_seq = block[pos] + (block[pos + 1] << 8) + 0x7F00
        pos += 2
    if n_seq == 0:
        out += lits
        return huff, prev_tables
    seqs, tables = _decode_sequences(block, pos, n_seq, prev_tables)
    # repeat offsets persist ACROSS blocks within a frame
    if prev_tables is not None and "reps" in prev_tables:
        reps = prev_tables["reps"]
    else:
        reps = [1, 4, 8]
    lp = 0
    for ll, ml, of_value in seqs:
        if lp + ll > len(lits):
            raise ValueError("literal run overruns the section")
        out += lits[lp:lp + ll]
        lp += ll
        off = _apply_offset(of_value, ll, reps)
        if off > len(out):
            raise ValueError("match offset beyond output start")
        if len(out) + ml > max_out * 2:
            raise ValueError("zstd output exceeds max_out guard")
        start = len(out) - off
        if off >= ml:                           # bulk copy
            out += out[start:start + ml]
        else:
            for k in range(ml):                 # self-overlapping
                out.append(out[start + k])
    out += lits[lp:]
    tables["reps"] = reps
    return huff, tables




# ------------------------------------------------------------ encoder


def _fse_chain_step1(table, symbols):
    """Cells c_0..c_{n-1} with symbol(c_i) = symbols[i] and c_{i+1}
    in c_i's interval (single-state chain, used by the three
    sequence tables)."""
    iv = _fse_intervals(table)
    n = len(symbols)
    cells = [None] * n
    for k in range(n - 1, -1, -1):
        lst = iv.get(symbols[k])
        if not lst:
            raise ValueError("symbol missing from FSE table")
        if k == n - 1:
            cells[k] = lst[0]
        else:
            within = cells[k + 1][2]
            for lo, hi, idx, nb, base in lst:
                if lo <= within < hi:
                    cells[k] = (lo, hi, idx, nb, base)
                    break
            else:
                raise AssertionError("intervals must partition")
    return cells


def _of_code(of_value: int) -> int:
    return of_value.bit_length() - 1


def _choose_of_value(offset: int, ll: int, reps: list[int]) -> int:
    """Smallest coded value reproducing ``offset`` given the ring."""
    for cand in (1, 2, 3):
        clone = list(reps)
        try:
            if _apply_offset(cand, ll, clone) == offset:
                return cand
        except ValueError:
            continue
    return offset + 3


def _encode_sequences(seqs, table_mode: str = "predefined",
                      tables: dict | None = None):
    """-> (section bytes, uses) for (ll, ml, of_value) triples.
    table_mode="repeat" codes against ``tables`` (the decoder's
    prev-tables shape — a structured dictionary's entropy section or
    a previous block's tables) with the all-repeat modes byte."""
    out = bytearray()
    n = len(seqs)
    ll_syms = [_ll_code(ll) for ll, _, _ in seqs]
    ml_syms = [_ml_code(ml) for _, ml, _ in seqs]
    of_syms = [_of_code(ofv) for _, _, ofv in seqs]
    if max(of_syms) > MAX_OF_SYMBOL:
        raise ValueError("offset too large")
    if table_mode == "repeat":
        if tables is None:
            raise ValueError("repeat mode needs prior tables")
        out.append(0b11111100)             # LL/OF/ML all mode 3
        ll_t, ll_acc = tables["ll"]
        of_t, of_acc = tables["of"]
        ml_t, ml_acc = tables["ml"]
    elif table_mode == "predefined":
        out.append(0)                      # modes byte: all 00
        ll_t = _fse_decode_table(list(LL_DEFAULT), 6)
        of_t = _fse_decode_table(list(OF_DEFAULT), 5)
        ml_t = _fse_decode_table(list(ML_DEFAULT), 6)
        ll_acc, of_acc, ml_acc = 6, 5, 6
    elif table_mode == "fse":
        # explicit FSE table for LL (histogram-normalized), the other
        # two predefined — exercises mode 2 in the sequences context
        out.append(0b10000000)             # LL mode 2, OF 0, ML 0
        hist = {}
        for s in ll_syms:
            hist[s] = hist.get(s, 0) + 1
        acc = 6
        size = 1 << acc
        syms = sorted(hist)
        counts = [0] * (max(syms) + 1)
        left = size
        for i, sym in enumerate(syms):
            rest = len(syms) - 1 - i
            c = left if i == len(syms) - 1 else max(
                1, (hist[sym] * size) // n)
            c = min(c, left - rest)
            counts[sym] = c
            left -= c
        out += _fse_write_distribution(counts, acc)
        ll_t = _fse_decode_table(counts, acc)
        of_t = _fse_decode_table(list(OF_DEFAULT), 5)
        ml_t = _fse_decode_table(list(ML_DEFAULT), 6)
        ll_acc, of_acc, ml_acc = acc, 5, 6
    else:
        raise ValueError(f"unknown sequence table mode {table_mode!r}")
    ll_cells = _fse_chain_step1(ll_t, ll_syms)
    of_cells = _fse_chain_step1(of_t, of_syms)
    ml_cells = _fse_chain_step1(ml_t, ml_syms)
    bw = _BackWriter()
    bw.write(ll_cells[0][2], ll_acc)
    bw.write(of_cells[0][2], of_acc)
    bw.write(ml_cells[0][2], ml_acc)
    for i, (ll, ml, ofv) in enumerate(seqs):
        oc = of_syms[i]
        bw.write(ofv - (1 << oc), oc)
        mc = ml_syms[i]
        bw.write(ml - ML_BASE[mc], ML_EXTRA[mc])
        lc = ll_syms[i]
        bw.write(ll - LL_BASE[lc], LL_EXTRA[lc])
        if i + 1 < n:
            for cells, k in ((ll_cells, i), (ml_cells, i),
                             (of_cells, i)):
                lo, hi, idx, nb, base = cells[k]
                bw.write(cells[k + 1][2] - base, nb)
    return bytes(out) + bw.bytes()


def _emit_literals_raw(lits: bytes) -> bytes:
    n = len(lits)
    if n < 32:
        return bytes(((n << 3) | 0,)) + lits           # sf 0, 5-bit
    if n < 4096:
        b0 = ((n & 15) << 4) | (1 << 2) | 0
        return bytes((b0, n >> 4)) + lits              # sf 1, 12-bit
    b0 = ((n & 15) << 4) | (3 << 2) | 0
    return bytes((b0, (n >> 4) & 0xFF, n >> 12)) + lits


def _huff_description(sample: bytes, fse_weights: bool = False):
    """Huffman tree description trained on ``sample`` -> (wire
    bytes, _Huff). Raises ValueError when the sample cannot form one
    (fewer than two distinct bytes, code too long, >128 weights in
    the direct form)."""
    hist = {}
    for b in sample:
        hist[b] = hist.get(b, 0) + 1
    if len(hist) < 2:
        raise ValueError("huffman table needs two distinct bytes")
    from tika_spark.analysis.brotlicodec import _huffman_lengths
    lengths = _huffman_lengths(hist, max_len=11)
    max_len = max(lengths.values())
    last_sym = max(lengths)
    weights = [max_len + 1 - lengths[s] if s in lengths else 0
               for s in range(last_sym + 1)]
    huff = _Huff(weights[:-1])
    if fse_weights:
        return _write_huffman_weights_fse(weights[:-1]), huff
    ws = weights[:-1]
    if len(ws) > 128:
        raise ValueError("direct form caps at 128 weights")
    packed = bytearray((127 + len(ws),))
    for i in range(0, len(ws), 2):
        hi = ws[i] << 4
        lo = ws[i + 1] if i + 1 < len(ws) else 0
        packed.append(hi | lo)
    return bytes(packed), huff


def _emit_literals_huff(lits: bytes, reuse: "_Huff | None" = None,
                        fse_weights: bool = False):
    """Single-stream compressed (or treeless, when ``reuse``)
    literals; sf 0 caps both sizes at 1023. -> (bytes, _Huff) or
    None when the form cannot hold these literals."""
    n = len(lits)
    if n == 0 or n > 1023:
        return None
    if reuse is None:
        try:
            desc, huff = _huff_description(lits, fse_weights)
        except ValueError:
            return None
        ltype = 2
    else:
        huff = reuse
        desc = b""
        ltype = 3
    codes = huff.codes()
    bw = _BackWriter()
    for b in lits:
        if b not in codes:
            return None
        c, ln = codes[b]
        bw.write(c, ln)
    body = desc + bw.bytes()
    cs = len(body)
    if cs > 1023:
        return None
    v = ltype | (0 << 2) | (n << 4) | (cs << 14)   # sf 0, 1 stream
    return v.to_bytes(3, "little") + body, huff


def _greedy_matches(data: bytes, min_match: int = 3,
                    max_match: int = 1 << 16,
                    prefix: bytes = b""):
    """[(ll, ml, offset)] + trailing literal count, zstd-style.
    ``prefix`` (dictionary content + any earlier frame output) only
    seeds the window: matches may reach INTO it but are emitted only
    for ``data`` positions."""
    base = len(prefix)
    if base:
        data = bytes(prefix) + data
    n = len(data)
    table: dict[bytes, int] = {}
    seqs = []
    i = 0
    while i + 4 <= base:                 # seed window, emit nothing
        table[data[i:i + 4]] = i
        i += 1
    lit_start = base
    i = base
    while i + 4 <= n:
        key = data[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None:
            length = 4
            while (i + length < n and length < max_match
                   and data[j + length] == data[i + length]):
                length += 1
            if n - (i + length) < 1 and length > min_match:
                length -= 1         # keep one trailing literal (the
                                    # last sequence may end flush,
                                    # but a tail literal exercises
                                    # the post-sequence copy)
            seqs.append((i - lit_start, length, i - j))
            i += length
            lit_start = i
        else:
            i += 1
    return seqs, n - lit_start


def compress(data: bytes, mode: str = "lz",
             block_cap: int = 1 << 17,
             checksum: bool = False,
             zdict: "ZstdDict | bytes | None" = None) -> bytes:
    """Emit a genuine zstd frame.

    mode="raw": raw blocks. mode="rle": RLE blocks (uniform chunks
    required). mode="literals": compressed blocks, raw literals, no
    sequences. mode="lz": greedy matches + predefined FSE sequence
    tables + raw literals. mode="huff": like lz but Huffman literals
    (direct weights, treeless reuse on later blocks). mode="fse":
    like lz but the LL table is an explicit FSE distribution and the
    Huffman weights ride the FSE form. mode="dict": like lz but
    every block opens in repeat sequence mode against a structured
    dictionary's entropy tables with treeless literals on its
    Huffman table (fresh-tree fallback when a literal byte lacks a
    code).

    ``zdict`` (any mode) seeds the match window with the dictionary
    content and writes the Dictionary_ID header field for structured
    dictionaries; the decoder then needs the same dictionary.
    """
    data = bytes(data)
    n = len(data)
    zd = None
    if zdict is not None:
        zd = (zdict if isinstance(zdict, ZstdDict)
              else parse_dict(bytes(zdict)))
    if mode == "dict" and (zd is None or zd.tables is None):
        raise ValueError("mode='dict' needs a structured dictionary")
    dflag, did_field = 0, b""
    if zd is not None and zd.dict_id:
        did = zd.dict_id
        if did < 256:
            dflag, did_field = 1, did.to_bytes(1, "little")
        elif did < (1 << 16):
            dflag, did_field = 2, did.to_bytes(2, "little")
        else:
            dflag, did_field = 3, did.to_bytes(4, "little")
    out = bytearray(ZSTD_MAGIC)
    # single-segment header (+dict id) + exact content size
    ck = (1 << 2) if checksum else 0
    if n < 256:
        out.append((0 << 6) | (1 << 5) | ck | dflag)
        out += did_field
        out.append(n)
    elif n - 256 < (1 << 16):
        out.append((1 << 6) | (1 << 5) | ck | dflag)
        out += did_field
        out += (n - 256).to_bytes(2, "little")
    else:
        out.append((2 << 6) | (1 << 5) | ck | dflag)
        out += did_field
        out += n.to_bytes(4, "little")
    if n == 0:
        out += (1 | (0 << 1) | (0 << 3)).to_bytes(3, "little")
        if checksum:
            out += (xxh64(b"") & 0xFFFFFFFF).to_bytes(4, "little")
        return bytes(out)
    pos = 0
    window = zd.content if zd is not None else b""
    prev_huff = zd.huff if (zd is not None and mode in
                            ("huff", "fse", "dict")) else None
    # repeat-offset ring persists frame-wide; a structured
    # dictionary seeds it (mirrors the decoder)
    reps = (list(zd.reps) if zd is not None and zd.tables is not None
            else [1, 4, 8])
    while pos < n:
        chunk = data[pos:pos + block_cap]
        last = 1 if pos + len(chunk) >= n else 0
        if mode == "raw":
            out += (last | (0 << 1)
                    | (len(chunk) << 3)).to_bytes(3, "little")
            out += chunk
        elif mode == "rle":
            if chunk.count(chunk[0]) != len(chunk):
                raise ValueError("rle mode needs uniform input")
            out += (last | (1 << 1)
                    | (len(chunk) << 3)).to_bytes(3, "little")
            out.append(chunk[0])
        else:
            block = bytearray()
            if mode == "literals":
                block += _emit_literals_raw(chunk)
                block.append(0)                     # 0 sequences
            else:
                seqs, tail = _greedy_matches(
                    chunk, prefix=window + data[:pos])
                lits = bytearray()
                lp = 0
                for ll, ml, off in seqs:
                    lits += chunk[lp:lp + ll]
                    lp += ll + ml
                lits += chunk[lp:]
                if mode in ("huff", "fse", "dict") and (
                        seqs or mode == "dict"):
                    got = _emit_literals_huff(
                        bytes(lits), reuse=prev_huff,
                        fse_weights=(mode == "fse"))
                    if got is None and prev_huff is not None:
                        got = _emit_literals_huff(
                            bytes(lits), reuse=None,
                            fse_weights=(mode == "fse"))
                    if got is None:
                        block += _emit_literals_raw(bytes(lits))
                    else:
                        block += got[0]
                        prev_huff = got[1]
                else:
                    block += _emit_literals_raw(bytes(lits))
                if not seqs:
                    block.append(0)
                else:
                    if len(seqs) < 128:
                        block.append(len(seqs))
                    elif len(seqs) < 0x7F00:
                        block.append(128 + (len(seqs) >> 8))
                        block.append(len(seqs) & 0xFF)
                    else:
                        block.append(255)
                        v = len(seqs) - 0x7F00
                        block += v.to_bytes(2, "little")
                    # coded offset values mirror the decoder's ring
                    coded = []
                    for ll, ml, off in seqs:
                        ofv = _choose_of_value(off, ll, reps)
                        _apply_offset(ofv, ll, reps)
                        coded.append((ll, ml, ofv))
                    if mode == "dict":
                        block += _encode_sequences(
                            coded, "repeat", tables=zd.tables)
                    else:
                        block += _encode_sequences(
                            coded, "fse" if mode == "fse"
                            else "predefined")
            out += (last | (2 << 1)
                    | (len(block) << 3)).to_bytes(3, "little")
            out += block
        pos += len(chunk)
    if checksum:
        out += (xxh64(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


# ------------------------------------------------------------ xxhash64


_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 (public xxHash spec) — zstd's content checksum stores
    its low 32 bits. Pinned by the spec's empty/known vectors in
    tests/test_zstd.py."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            for k, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * k:i + 8 * k + 8],
                                      "little")
                v = (v + lane * _XXP2) & _M64
                v = _rotl(v, 31)
                v = (v * _XXP1) & _M64
                if k == 0:
                    v1 = v
                elif k == 1:
                    v2 = v
                elif k == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            vv = (v * _XXP2) & _M64
            vv = _rotl(vv, 31)
            vv = (vv * _XXP1) & _M64
            h ^= vv
            h = (h * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        lane = (lane * _XXP2) & _M64
        lane = _rotl(lane, 31)
        lane = (lane * _XXP1) & _M64
        h ^= lane
        h = (_rotl(h, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h ^= (lane * _XXP1) & _M64
        h = (_rotl(h, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _M64
        h = (_rotl(h, 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h
