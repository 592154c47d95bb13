"""Bitstream primitives shared by the from-scratch codecs.

One reader and one writer per bit order, one canonical prefix-code
assignment, one canonical prefix-code decoder and one heap Huffman
length builder.

* MSB-first (``MsbReader``/``MsbWriter``): the first bit of a byte is
  its most significant one — FLAC, MPEG audio and video, H.264, AV1.
* LSB-first (``LsbReader``/``LsbWriter``): values fill each byte from
  its least significant bit — VP8L, brotli, Vorbis, PKWARE Implode.

Readers load one byte at a time, so their buffer never holds more than
seven unread bits and ``tell()`` is exact. A read past the end raises
the class attribute ``error``; a codec whose failures have their own
exception type subclasses the reader and sets it.

Prefix codes are read code-word-first-bit-first in either bit order,
as DEFLATE, VP8L and brotli define them and the MPEG tables store
them. Format-specific readers stay with their formats: JPEG's 0xFF00
unstuffing reader, LZX's 16-bit-word reader, zstd's backward reader
and the VP8/CABAC arithmetic decoders.
"""

from __future__ import annotations

import heapq


class _Reader:
    __slots__ = ("data", "pos", "buf", "n")

    error: type[Exception] = ValueError

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos             # next byte to load
        self.buf = 0               # the n unread bits of the last byte
        self.n = 0

    def tell(self) -> int:
        """Bit position of the next unread bit."""
        return self.pos * 8 - self.n

    def align(self) -> int:
        """Skip to the next byte boundary; returns the skipped bits
        (formats that require zero padding check it)."""
        v = self.buf
        self.buf = self.n = 0
        return v

    def raw(self, nbytes: int) -> bytes:
        """The next ``nbytes`` whole bytes of a byte-aligned reader."""
        if self.n:
            raise self.error("unaligned byte read")
        if self.pos + nbytes > len(self.data):
            raise self.error("truncated bitstream")
        out = self.data[self.pos:self.pos + nbytes]
        self.pos += nbytes
        return out


class MsbReader(_Reader):
    __slots__ = ()

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise self.error("truncated bitstream")
            self.buf = (self.buf << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        v = self.buf >> self.n
        self.buf &= (1 << self.n) - 1
        return v


class LsbReader(_Reader):
    __slots__ = ()

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise self.error("truncated bitstream")
            self.buf |= self.data[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.buf & ((1 << nbits) - 1)
        self.buf >>= nbits
        self.n -= nbits
        return v


class _Writer:
    __slots__ = ("out", "buf", "n")

    def __init__(self):
        self.out = bytearray()     # completed bytes
        self.buf = 0               # the n pending bits (n < 8)
        self.n = 0

    def align(self):
        """Pad the pending byte with zero bits."""
        self.write(0, -self.n & 7)

    def raw(self, data: bytes):
        """Append whole bytes to a byte-aligned writer."""
        if self.n:
            raise ValueError("unaligned byte write")
        self.out += data

    def bytes(self) -> bytes:
        """Everything written, the last byte zero-padded (the writer
        is left byte-aligned)."""
        self.align()
        return bytes(self.out)


class MsbWriter(_Writer):
    __slots__ = ()

    def write(self, v: int, nbits: int):
        self.buf = (self.buf << nbits) | (v & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.buf >> self.n) & 0xFF)
        self.buf &= (1 << self.n) - 1


class LsbWriter(_Writer):
    __slots__ = ()

    def write(self, v: int, nbits: int):
        self.buf |= (v & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.buf & 0xFF)
            self.buf >>= 8
            self.n -= 8

    def write_code(self, code: int, nbits: int):
        """A prefix code word, its top bit first (the order the
        prefix decoders read it)."""
        rev = 0
        for _ in range(nbits):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.write(rev, nbits)


def _canonical_order(pairs) -> list:
    """The ``(symbol, length)`` pairs with a code, stably sorted by
    length: the order their canonical code words increase in."""
    return sorted(((s, ln) for s, ln in pairs if ln > 0),
                  key=lambda p: p[1])


def canonical_codes(pairs) -> dict:
    """{symbol: (code, length)} for ``(symbol, length)`` pairs: codes
    increase with length and, within a length, in pair order (pass
    pairs sorted by symbol for the DEFLATE/brotli/VP8L rule, in HUFFVAL
    order for JPEG). Zero lengths get no code."""
    out = {}
    code = prev = 0
    for sym, ln in _canonical_order(pairs):
        code <<= ln - prev
        out[sym] = (code, ln)
        code += 1
        prev = ln
    return out


class PrefixCode:
    """Decoder for the canonical code of ``(symbol, length)`` pairs
    (the order of ``canonical_codes``). A code with one symbol reads
    no bits; a code word with no symbol raises the reader's error."""

    __slots__ = ("single", "count", "syms")

    def __init__(self, pairs):
        nz = _canonical_order(pairs)
        if not nz:
            raise ValueError("empty prefix code")
        self.single = nz[0][0] if len(nz) == 1 else None
        self.count = [0] * nz[-1][1]         # codes per length 1..max
        for _, ln in nz:
            self.count[ln - 1] += 1
        self.syms = [s for s, _ in nz]

    def read(self, bits: _Reader) -> int:
        if self.single is not None:
            return self.single
        code = first = index = 0
        for cnt in self.count:
            code = (code << 1) | bits.read(1)
            if code - first < cnt:
                return self.syms[index + code - first]
            index += cnt
            first = (first + cnt) << 1
        raise bits.error("invalid prefix code")


def huffman_lengths(freqs: dict) -> dict:
    """{symbol: code length} of a Huffman code for {symbol: frequency},
    merging the two lightest nodes (ties: lower symbol, then older
    node) until one is left. One symbol gets length 1. Lengths are not
    capped: each caller applies its format's limit."""
    items = sorted(freqs.items())
    if len(items) == 1:
        return {items[0][0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(items)]
    heapq.heapify(heap)
    depth = {s: 0 for s, _ in items}
    nxt = len(items)
    while len(heap) > 1:
        fa, _, sa = heapq.heappop(heap)
        fb, _, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, nxt, sa + sb))
        nxt += 1
    return depth
