"""From-scratch LZX decompressor (the CHM compression method).

Implemented from the published LZX format description ([MS-PATCH]
appendix / the cabinet SDK documentation), mirroring the behavior of
the reference's in-repo decoder (tika-parsers/.../chm/lzx/
ChmLzxState.java, ChmLzxBlock.java — Tika's largest from-scratch
subsystem) without consulting its source:

- bitstream of little-endian 16-bit words, bits consumed MSB-first;
- block types: 1 = verbatim, 2 = aligned offset, 3 = uncompressed;
- canonical Huffman trees delta-coded against the previous block's
  path lengths through a 20-symbol pretree (run-length symbols
  17/18/19);
- main tree = 256 literals + 8 length-headers x position slots;
  249-symbol secondary length tree; 8-symbol aligned-offset tree;
- LRU recent-offset registers R0/R1/R2 with the insert/swap rules;
- optional Intel E8 call-translation postprocessing.

All loops are bounded by the declared output size — corrupt input
raises LzxError, never spins.
"""

from __future__ import annotations

import struct

from tika_spark.analysis.bitio import canonical_codes


class LzxError(ValueError):
    pass


_NUM_CHARS = 256
_PRETREE_SYMS = 20
_ALIGNED_SYMS = 8
_SECONDARY_LENS = 249
_FRAME = 32768

# position slots per window size exponent (15..21)
_SLOTS_BY_WBITS = {15: 30, 16: 32, 17: 34, 18: 36, 19: 38, 20: 42, 21: 50}


def _position_tables(n_slots: int):
    extra = []
    base = []
    b = 0
    for i in range(n_slots):
        e = min(17, max(0, (i >> 1) - 1))
        extra.append(e)
        base.append(b)
        b += 1 << e
    return extra, base


class _Bits:
    """LZX bit reader: 16-bit LE words, MSB-first bit consumption."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def _fill(self, want: int):
        while self.n < want:
            if self.pos + 2 <= len(self.data):
                w = self.data[self.pos] | (self.data[self.pos + 1] << 8)
                self.pos += 2
            else:
                w = 0
                self.pos = len(self.data) + 2  # past-end marker
                if self.pos > len(self.data) + 8:
                    raise LzxError("bitstream exhausted")
            self.buf = ((self.buf << 16) | w) & 0xFFFFFFFF
            self.n += 16

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill(k)
        v = (self.buf >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        return v

    def align16(self):
        self.n -= self.n % 16

    def byte_align_pos(self) -> int:
        """Byte position of the first unconsumed input byte, assuming
        16-bit alignment (used by uncompressed blocks)."""
        return self.pos - self.n // 8


class _Huff:
    """Canonical Huffman decoder from code lengths."""

    def __init__(self, lengths: list[int]):
        self.max_len = max(lengths) if any(lengths) else 0
        self.table = {(ln, code): sym for sym, (code, ln)
                      in canonical_codes(enumerate(lengths)).items()}
        self.empty = not self.table

    def decode(self, bits: _Bits) -> int:
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | bits.read(1)
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise LzxError("bad huffman code")


def _read_lengths(bits: _Bits, lens: list[int], first: int, last: int):
    """Delta-decode path lengths [first, last) against ``lens`` through
    the 4-bit-length pretree with run symbols 17/18/19."""
    pre = _Huff([bits.read(4) for _ in range(_PRETREE_SYMS)])
    x = first
    guard = 0
    while x < last:
        guard += 1
        if guard > 4 * (last - first) + 64:
            raise LzxError("length table does not terminate")
        z = pre.decode(bits)
        if z == 17:
            n = bits.read(4) + 4
            for _ in range(min(n, last - x)):
                lens[x] = 0
                x += 1
        elif z == 18:
            n = bits.read(5) + 20
            for _ in range(min(n, last - x)):
                lens[x] = 0
                x += 1
        elif z == 19:
            n = bits.read(1) + 4
            z2 = pre.decode(bits)
            v = (lens[x] - z2) % 17
            for _ in range(min(n, last - x)):
                lens[x] = v
                x += 1
        else:
            lens[x] = (lens[x] - z) % 17
            x += 1


class LzxDecoder:
    """Stateful decoder for one LZX reset interval (trees and recent
    offsets persist across blocks until ``reset()``)."""

    def __init__(self, window_bits: int = 16):
        if window_bits not in _SLOTS_BY_WBITS:
            raise LzxError(f"bad window bits {window_bits}")
        self.n_slots = _SLOTS_BY_WBITS[window_bits]
        self.extra, self.base = _position_tables(self.n_slots)
        self.main_elements = _NUM_CHARS + (self.n_slots << 3)
        self.reset()

    def reset(self):
        self.R = [1, 1, 1]
        self.main_lens = [0] * self.main_elements
        self.length_lens = [0] * _SECONDARY_LENS
        self.header_read = False
        self.intel_filesize = 0

    def decompress(self, data: bytes, out_len: int,
                   abs_base: int = 0) -> bytes:
        """Decompress one compressed run to exactly ``out_len`` bytes.

        ``abs_base`` is the run's absolute offset in the whole
        uncompressed section (a multiple of the 32 KiB frame size for
        reset-interval runs): the bitstream realigns to a 16-bit
        boundary at every *absolute* frame boundary, and the Intel E8
        untranslation uses absolute positions.

        Blocks may span frame boundaries, so block state (type,
        remaining size, trees) persists across the per-frame loop —
        the mspack/lzxd decode structure.
        """
        bits = _Bits(data)
        out = bytearray()
        if not self.header_read:
            if bits.read(1):
                self.intel_filesize = (bits.read(16) << 16) | bits.read(16)
            self.header_read = True
        btype = 0
        block_togo = 0
        main = lengths = aligned = None
        raw_p = -1  # byte cursor while inside an uncompressed block
        while len(out) < out_len:
            frame_room = _FRAME - ((abs_base + len(out)) % _FRAME)
            frame_end = min(len(out) + frame_room, out_len)
            while len(out) < frame_end:
                if block_togo == 0:
                    btype = bits.read(3)
                    size = (bits.read(8) << 16) | bits.read(16)
                    if size == 0:
                        raise LzxError("zero-size block")
                    block_togo = size
                    if btype == 3:
                        raw_p = self._enter_uncompressed(bits)
                    elif btype in (1, 2):
                        aligned = None
                        if btype == 2:
                            aligned = _Huff([bits.read(3)
                                             for _ in range(_ALIGNED_SYMS)])
                        _read_lengths(bits, self.main_lens, 0, _NUM_CHARS)
                        _read_lengths(bits, self.main_lens, _NUM_CHARS,
                                      self.main_elements)
                        main = _Huff(self.main_lens)
                        _read_lengths(bits, self.length_lens, 0,
                                      _SECONDARY_LENS)
                        lengths = _Huff(self.length_lens)
                    else:
                        raise LzxError(f"bad block type {btype}")
                run = min(block_togo, frame_end - len(out))
                if btype == 3:
                    if raw_p + run > len(bits.data):
                        raise LzxError("truncated uncompressed data")
                    out += bits.data[raw_p:raw_p + run]
                    raw_p += run
                    block_togo -= run
                else:
                    # a match may overshoot the frame boundary: the
                    # full match MUST be emitted (the bitstream has no
                    # second copy of the tail) and the overshoot is
                    # credited against the block — the mspack/lzxd
                    # this_run<0 accounting. The frame loop re-derives
                    # frame_room from len(out), so an overshoot simply
                    # shortens the next frame's run.
                    produced = self._coded_block(bits, out, run, main,
                                                 lengths, aligned)
                    if produced > block_togo:
                        raise LzxError("match overruns block")
                    block_togo -= produced
                if btype == 3 and block_togo == 0:
                    # block sizes are even-padded in the byte stream
                    if raw_p & 1:
                        raw_p += 1
                    # re-seat the bit reader after the raw region
                    bits.pos, bits.buf, bits.n = raw_p, 0, 0
                    raw_p = -1
            # frame-boundary 16-bit realignment of the bitstream
            # (LZXC frames are independently byte-addressable; no-op
            # while inside an uncompressed block's raw byte region)
            if len(out) < out_len and raw_p < 0:
                bits.align16()
        result = bytes(out[:out_len])
        if self.intel_filesize:
            result = _e8_untranslate(result, self.intel_filesize,
                                     abs_base)
        return result

    def _enter_uncompressed(self, bits: _Bits) -> int:
        """Align into an uncompressed block and read R0-R2; returns
        the byte cursor of the raw data region.

        Alignment consumes 1-16 bits (not 0-15): a stream already on
        a 16-bit boundary skips one full padding word — the
        mspack/lzxd ENSURE(16)/unget semantics.
        """
        if bits.n % 16 == 0:
            bits.read(16)
        else:
            bits.align16()
        p = bits.byte_align_pos()
        data = bits.data
        if p + 12 > len(data):
            raise LzxError("truncated uncompressed block")
        self.R = list(struct.unpack_from("<III", data, p))
        return p + 12

    def _coded_block(self, bits: _Bits, out: bytearray, togo: int,
                     main: _Huff, lengths: _Huff,
                     aligned: _Huff | None) -> int:
        """Decode symbols until at least ``togo`` bytes are produced.

        Returns the ACTUAL byte count, which may exceed ``togo`` when
        the final match spans the frame boundary: a match is one
        symbol, so it must be copied in full — truncating it would
        leave the next frame iteration decoding the following symbol
        with the match tail missing, corrupting the rest of the reset
        interval (mspack lzxd.c keeps the same overshoot credit)."""
        R = self.R
        produced = 0
        while produced < togo:
            sym = main.decode(bits)
            if sym < _NUM_CHARS:
                out.append(sym)
                produced += 1
                continue
            me = sym - _NUM_CHARS
            slot = me >> 3
            length_header = me & 7
            if length_header == 7:
                if lengths.empty:
                    raise LzxError("missing length tree")
                match_len = lengths.decode(bits) + 7 + 2
            else:
                match_len = length_header + 2
            if slot == 0:
                offset = R[0]
            elif slot == 1:
                offset = R[1]
                R[0], R[1] = R[1], R[0]
            elif slot == 2:
                offset = R[2]
                R[0], R[2] = R[2], R[0]
            else:
                eb = self.extra[slot]
                if aligned is not None and eb >= 3:
                    offset = self.base[slot] - 2 + (bits.read(eb - 3) << 3)
                    offset += aligned.decode(bits)
                else:
                    offset = self.base[slot] - 2 + bits.read(eb)
                R[2], R[1], R[0] = R[1], R[0], offset
            if offset <= 0 or offset > len(out):
                raise LzxError("match offset outside window")
            for _ in range(match_len):
                out.append(out[-offset])
            produced += match_len
        return produced


def _e8_untranslate(data: bytes, filesize: int,
                    abs_base: int = 0) -> bytes:
    """Reverse the Intel E8 call-offset translation (per 32 KiB frame,
    skipping the last 10 bytes of each frame region). Positions are
    ABSOLUTE in the uncompressed section (``abs_base`` + local index)
    — frame-relative positions would decode wrong call targets in
    every frame after the first."""
    if len(data) < 10:
        return data
    out = bytearray(data)
    pos = 0
    while pos < len(out):
        frame_end = min(pos + _FRAME, len(out)) - 10
        i = pos
        while i < frame_end:
            if out[i] == 0xE8:
                cur = abs_base + i
                (abs_off,) = struct.unpack_from("<i", out, i + 1)
                if -cur <= abs_off < filesize:
                    rel = abs_off - cur if abs_off >= 0 \
                        else abs_off + filesize
                    struct.pack_into("<i", out, i + 1, rel)
                i += 5
            else:
                i += 1
        pos += _FRAME
    return bytes(out)
