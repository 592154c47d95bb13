"""From-scratch MPEG-1/MPEG-2 video (ISO/IEC 11172-2 / 13818-2)
I/P/B-frame decoder.

Closes the documented motion-compensated-video hook with a real
transform codec: sequence/GOP/picture/slice/macroblock/block layer
parsing, intra DCT blocks (predicted DC + run/level AC), forward AND
backward motion compensation with full- and half-pel interpolation
and bidirectional prediction averaging, differential motion-vector
reconstruction with the spec's modular wraparound per direction,
skipped-macroblock semantics (P: co-located copy with predictor
reset; B: repeat of the previous macroblock's prediction mode and
vectors), quantizer-scale updates, and the one-anchor-delay
coded→display frame reordering. MPEG-2 Main-Profile progressive
frame pictures are auto-detected via the sequence extension and add:
per-(direction, dimension) f_codes from the picture coding
extension, intra_dc_precision 8-11, both quantiser_scale mappings
(linear and Table 7-6 non-linear), the alternate coefficient scan,
signed-12-bit escape levels (Table B-16), /32
truncate-toward-zero dequantization, and §7.4.4 sum-parity mismatch
control. :func:`ps_video_es` additionally demuxes *program streams*
(ISO/IEC 11172-1 and 13818-1 pack/PES layers) down to the video
elementary stream, so real ``.mpg``/``.vob``-style files route
end-to-end.

Provenance: written from the public ISO/IEC 11172-2 / 13818-2
specification structure (widely documented — see also the MPEG
overview literature). The Annex B Huffman tables are reproduced here
from well-known public data; the entries the fixture encoders emit
(address increments 1..15 + escape, motion codes |m| <= 3, DC size
codes, run/level escape coding, EOB) are the thoroughly
cross-checked core, and :func:`mpeg1_bytes` / :func:`mpeg2_bytes`
restrict themselves to them, so encoder/decoder self-consistency
plus the spec's layer structure carries correctness end to end (the
same discipline as analysis/mp3codec.py and analysis/aaccodec.py).
Reference parity note: the reference's video coverage is
metadata-only (video/FLVParser.java, mp4/MP4Parser.java) — sample
decode is the pipeline extension, not a port.

Output frames are (h, w, 3) uint8 in YCbCr (Y, Cb, Cr) with the
4:2:0 chroma replicated 2x2 — channel statistics downstream are
taken in the coded color space to stay bit-exact.
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.bitio import MsbReader, MsbWriter
from tika_spark.analysis.jpegcodec import _C, ZIGZAG


class MpegError(ValueError):
    pass


PIC_I, PIC_P, PIC_B = 1, 2, 3

# ---------------------------------------------------------- VLC data
# Annex B Table B.1: macroblock_address_increment. Keys are bitstring
# codes; the 1..15 region plus MACROBLOCK_ESCAPE is the verified core
# the fixture encoder uses.
MBA_VLC: dict[str, int] = {
    "1": 1, "011": 2, "010": 3, "0011": 4, "0010": 5,
    "00011": 6, "00010": 7, "0000111": 8, "0000110": 9,
    "00001011": 10, "00001010": 11, "00001001": 12, "00001000": 13,
    "00000111": 14, "00000110": 15,
    "0000010111": 16, "0000010110": 17, "0000010101": 18,
    "0000010100": 19, "0000010011": 20, "0000010010": 21,
    "00000100011": 22, "00000100010": 23, "00000100001": 24,
    "00000100000": 25, "00000011111": 26, "00000011110": 27,
    "00000011101": 28, "00000011100": 29, "00000011011": 30,
    "00000011010": 31, "00000011001": 32, "00000011000": 33,
}
MBA_ESCAPE = "00000001000"           # adds 33, then read another code
MBA_STUFFING = "00000001111"         # discarded
_MBA_FULL: dict[str, object] = {**MBA_VLC, MBA_ESCAPE: "esc",
                                MBA_STUFFING: "stuff"}

# Table B.4 motion_code shares B.1's code structure: magnitude m maps
# to the B.1 pair (2m, 2m+1) with the trailing bit as the sign
# (0 = positive). Deriving it keeps one verified table as the source.
MOTION_VLC: dict[str, int] = {"1": 0}
for _code, _v in MBA_VLC.items():
    if _v >= 2:
        MOTION_VLC[_code] = (_v // 2) if _v % 2 else -(_v // 2)

# Tables B.2a/B.2b/B.2c macroblock_type →
# (quant, motion_fwd, motion_bwd, pattern, intra)
MB_TYPE_I = {"1": (0, 0, 0, 0, 1), "01": (1, 0, 0, 0, 1)}
MB_TYPE_P = {
    "1": (0, 1, 0, 1, 0), "01": (0, 0, 0, 1, 0),
    "001": (0, 1, 0, 0, 0), "00011": (0, 0, 0, 0, 1),
    "00010": (1, 1, 0, 1, 0), "00001": (1, 0, 0, 1, 0),
    "000001": (1, 0, 0, 0, 1),
}
MB_TYPE_B = {
    "10": (0, 1, 1, 0, 0), "11": (0, 1, 1, 1, 0),
    "010": (0, 0, 1, 0, 0), "011": (0, 0, 1, 1, 0),
    "0010": (0, 1, 0, 0, 0), "0011": (0, 1, 0, 1, 0),
    "00011": (0, 0, 0, 0, 1), "00010": (1, 1, 1, 1, 0),
    "000011": (1, 1, 0, 1, 0), "000010": (1, 0, 1, 1, 0),
    "000001": (1, 0, 0, 0, 1),
}

# Table B.3 coded_block_pattern (cbp bit 32 = luma block 0 … bit 1 =
# Cr). Fixtures only emit {60, 4, 8, 16, 32}; the long tail is
# best-effort public data.
CBP_VLC: dict[str, int] = {
    "111": 60, "1101": 4, "1100": 8, "1011": 16, "1010": 32,
    "10011": 12, "10010": 48, "10001": 20, "10000": 40,
    "01111": 28, "01110": 44, "01101": 52, "01100": 56,
    "01011": 1, "01010": 61, "01001": 2, "01000": 62,
    "001111": 24, "001110": 36, "001101": 3, "001100": 63,
    "0010111": 5, "0010110": 9, "0010101": 17, "0010100": 33,
    "0010011": 6, "0010010": 10, "0010001": 18, "0010000": 34,
    "00011111": 7, "00011110": 11, "00011101": 19, "00011100": 35,
    "00011011": 13, "00011010": 49, "00011001": 21, "00011000": 41,
    "00010111": 14, "00010110": 50, "00010101": 22, "00010100": 42,
    "00010011": 15, "00010010": 51, "00010001": 23, "00010000": 43,
    "00001111": 25, "00001110": 37, "00001101": 26, "00001100": 38,
    "00001011": 29, "00001010": 45, "00001001": 53, "00001000": 57,
    "00000111": 30, "00000110": 46, "00000101": 54, "00000100": 58,
    "000000111": 31, "000000110": 47, "000000101": 55,
    "000000100": 59,
}

# Tables B.5a/B.5b: dct_dc_size. The 9..11 entries are the MPEG-2
# (ISO 13818-2 B-12/B-13) extension for intra_dc_precision > 8;
# they are prefix-free against the MPEG-1 core so one table serves
# both standards.
DC_LUMA_VLC = {"100": 0, "00": 1, "01": 2, "101": 3, "110": 4,
               "1110": 5, "11110": 6, "111110": 7, "1111110": 8,
               "11111110": 9, "111111110": 10, "111111111": 11}
DC_CHROMA_VLC = {"00": 0, "01": 1, "10": 2, "110": 3, "1110": 4,
                 "11110": 5, "111110": 6, "1111110": 7,
                 "11111110": 8, "111111110": 9, "1111111110": 10,
                 "1111111111": 11}

# Table B.5c dct_coeff run/level core (sign bit follows each code;
# '1' is run 0 level 1 only for the FIRST coefficient of a block,
# '11' thereafter). Escape coding covers everything else.
DCT_VLC = {
    "11": (0, 1), "011": (1, 1), "0100": (0, 2), "0101": (2, 1),
    "00101": (0, 3), "00111": (3, 1), "00110": (4, 1),
    "000110": (1, 2), "000111": (5, 1), "000101": (6, 1),
    "000100": (7, 1),
    "0000110": (0, 4), "0000100": (2, 2), "0000111": (8, 1),
    "0000101": (9, 1),
}
DCT_EOB = "10"
DCT_ESCAPE = "000001"

# Default intra quantizer matrix (spec §2.4.3.3.1, raster order).
# Fixture streams always LOAD explicit matrices, so oracle
# correctness never rides on this constant.
DEFAULT_INTRA_Q = np.array([
    8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83], dtype=np.int64)
DEFAULT_NONINTRA_Q = np.full(64, 16, dtype=np.int64)

# MPEG-2 (ISO 13818-2) additions: the alternate coefficient scan
# (Figure 7-3) and the non-linear quantiser_scale mapping
# (Table 7-6, q_scale_type = 1).
ALT_SCAN = np.array([
    0, 8, 16, 24, 1, 9, 2, 10, 17, 25, 32, 40, 48, 56, 57, 49,
    41, 33, 26, 18, 3, 11, 4, 12, 19, 27, 34, 42, 50, 58, 35, 43,
    51, 59, 20, 28, 5, 13, 6, 14, 21, 29, 36, 44, 52, 60, 37, 45,
    53, 61, 22, 30, 7, 15, 23, 31, 38, 46, 54, 62, 39, 47, 55, 63],
    dtype=np.int64)
NONLINEAR_QSCALE = (
    0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 12, 14, 16, 18, 20, 22,
    24, 28, 32, 36, 40, 44, 48, 52, 56, 64, 72, 80, 88, 96, 104, 112)


def _div_to_zero(a: int, b: int) -> int:
    """Integer division truncating toward zero (the '/' of ISO
    13818-2 §7.4.2.3), vs Python's floor division."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _read_vlc(bits: MsbReader, table: dict[str, object], what: str,
              max_len: int = 12):
    code = ""
    for _ in range(max_len):
        code += "1" if bits.read(1) else "0"
        v = table.get(code)
        if v is not None:
            return v, code
    raise MpegError(f"bad {what} VLC: {code!r}")


# ------------------------------------------------------ block decode

def _idct(block: np.ndarray) -> np.ndarray:
    """Spec-accuracy 8x8 inverse DCT, rounded to integers. The
    orthonormal basis _C satisfies a(u)·a(v) = C(u)·C(v)/4, so the
    two-sided orthonormal transform IS the MPEG IDCT
    s(y,x) = 1/4 ΣΣ C(u)C(v) F(u,v) cos·cos with no extra scale;
    a DC-only block F[0,0] = 8·QDC comes out flat at exactly QDC."""
    return np.rint(
        _C.T @ block.astype(np.float64) @ _C).astype(np.int64)


def _decode_block(bits: MsbReader, intra: bool, comp: int,
                  dc_pred: list[int], qscale: int,
                  intra_q: np.ndarray, ninter_q: np.ndarray,
                  mpeg2: bool = False, dc_mult: int = 8,
                  scan: np.ndarray | None = None) -> np.ndarray:
    """One 8x8 block → dequantized coefficient array (raster order).
    ``comp``: 0 luma, 1 Cb, 2 Cr (for DC prediction bookkeeping).
    ``mpeg2`` switches the ISO 13818-2 arithmetic: /32 dequant
    truncating toward zero, 12-bit escape levels, saturate-then-
    sum-parity mismatch control (vs MPEG-1's per-coefficient
    oddification); ``dc_mult`` is the intra-DC multiplier
    (8 >> (intra_dc_precision - 8)); ``scan`` the coefficient scan
    (zigzag or ALT_SCAN)."""
    if scan is None:
        scan = ZIGZAG
    coeff = np.zeros(64, dtype=np.int64)
    idx = 0
    if intra:
        table = DC_LUMA_VLC if comp == 0 else DC_CHROMA_VLC
        size, _ = _read_vlc(bits, table, "dct_dc_size")
        diff = 0
        if size:
            v = bits.read(size)
            diff = v if v >> (size - 1) else v - ((1 << size) - 1)
        dc_pred[comp] += diff
        coeff[0] = dc_pred[comp] * dc_mult
        idx = 1
        first = False
    else:
        first = True
    while True:
        if first:
            # first coefficient: '1' = run 0 / level 1 (sign follows),
            # EOB cannot appear
            if bits.read(1):
                run, level = 0, 1
            else:
                code = "0"
                for _ in range(11):
                    code += "1" if bits.read(1) else "0"
                    if code == DCT_ESCAPE:
                        run, level = None, None
                        break
                    rl = DCT_VLC.get(code)
                    if rl is not None:
                        run, level = rl
                        break
                else:
                    raise MpegError(f"bad dct_coeff VLC: {code!r}")
            first = False
        else:
            code = ""
            run = level = 0
            for _ in range(12):
                code += "1" if bits.read(1) else "0"
                if code == DCT_EOB:
                    run = -1
                    break
                if code == DCT_ESCAPE:
                    run, level = None, None
                    break
                rl = DCT_VLC.get(code)
                if rl is not None:
                    run, level = rl
                    break
            else:
                raise MpegError(f"bad dct_coeff VLC: {code!r}")
            if run == -1:
                break                            # end of block
        if run is None:                          # escape: fixed bits
            run = bits.read(6)
            if mpeg2:                            # B-16: signed 12 bit
                v = bits.read(12)
                level = v - 4096 if v >= 2048 else v
                if level == 0:
                    raise MpegError("escape level 0 is forbidden")
            else:
                lv = bits.read(8)
                if lv == 0:
                    level = bits.read(8)         # +128..+255
                elif lv == 128:
                    level = bits.read(8) - 256   # -256..-129
                else:
                    level = lv - 256 if lv > 128 else lv
        else:
            if bits.read(1):
                level = -level
        idx += run
        if idx > 63:
            raise MpegError("dct run past end of block")
        zz = int(scan[idx])
        if mpeg2:
            if intra:
                f = _div_to_zero(2 * level * qscale
                                 * int(intra_q[zz]), 32)
            else:
                s = 1 if level > 0 else -1
                f = _div_to_zero((2 * level + s) * qscale
                                 * int(ninter_q[zz]), 32)
        else:
            if intra:
                f = (2 * level * qscale * int(intra_q[zz])) // 16
            else:
                s = 1 if level > 0 else -1
                f = ((2 * level + s) * qscale * int(ninter_q[zz]))
                f = int(np.sign(f)) * (abs(f) // 32)
            if f and f % 2 == 0:                 # mismatch control
                f += -1 if f > 0 else 1
        coeff[zz] = max(-2048, min(2047, f))
        idx += 1
        if intra and idx > 63:
            # intra blocks end with EOB too
            code = ""
            for _ in range(2):
                code += "1" if bits.read(1) else "0"
            if code != DCT_EOB:
                raise MpegError("missing EOB after full block")
            break
        if not intra and idx > 63:
            code = ""
            for _ in range(2):
                code += "1" if bits.read(1) else "0"
            if code != DCT_EOB:
                raise MpegError("missing EOB after full block")
            break
    if mpeg2 and int(coeff.sum()) % 2 == 0:
        # §7.4.4 mismatch control: force the coefficient sum odd by
        # toggling F[7][7]'s least-significant bit (odd → -1,
        # even → +1 — exactly an LSB flip in two's complement)
        coeff[63] ^= 1
    return coeff.reshape(8, 8)


# --------------------------------------------------------- motion

def _recon_mv(pred: int, code: int, resid: int, f: int) -> int:
    """Differential motion-vector reconstruction with the spec's
    [-16f, 16f-1] modular wraparound (§2.4.4.2)."""
    if f == 1 or code == 0:
        delta = code
    else:
        delta = (1 if code > 0 else -1) * ((abs(code) - 1) * f
                                           + resid + 1)
    v = pred + delta
    rng = 32 * f
    if v < -16 * f:
        v += rng
    elif v >= 16 * f:
        v -= rng
    return v


def _mc_predict(ref: np.ndarray, x: int, y: int, w: int, h: int,
                dx: int, dy: int) -> np.ndarray:
    """(h, w) prediction block from ``ref`` at (x, y) displaced by
    the half-pel vector (dx, dy); half positions use the spec's
    +1 / +2 rounding averages."""
    ix, iy = dx >> 1, dy >> 1
    hx, hy = dx & 1, dy & 1
    x0, y0 = x + ix, y + iy
    need_w, need_h = w + (1 if hx else 0), h + (1 if hy else 0)
    if (x0 < 0 or y0 < 0 or x0 + need_w > ref.shape[1]
            or y0 + need_h > ref.shape[0]):
        raise MpegError("motion vector points outside the frame")
    a = ref[y0:y0 + need_h, x0:x0 + need_w].astype(np.int32)
    if hx and hy:
        p = (a[:-1, :-1] + a[:-1, 1:] + a[1:, :-1] + a[1:, 1:] + 2) \
            >> 2
    elif hx:
        p = (a[:, :-1] + a[:, 1:] + 1) >> 1
    elif hy:
        p = (a[:-1, :] + a[1:, :] + 1) >> 1
    else:
        p = a
    return p


# --------------------------------------------------------- decoder

def _find_start_codes(data: bytes) -> list[tuple[int, int]]:
    """[(code_byte, payload_offset)] for every 00 00 01 xx."""
    out = []
    pos = 0
    while True:
        pos = data.find(b"\x00\x00\x01", pos)
        if pos < 0 or pos + 3 >= len(data):
            return out
        out.append((data[pos + 3], pos + 4))
        pos += 4


def decode_mpeg1(data: bytes, max_frames: int = 0
                 ) -> tuple[list[np.ndarray], dict]:
    """MPEG-1 or MPEG-2 video elementary stream → (frames, meta).

    The standard is auto-detected: a sequence extension after the
    sequence header selects ISO 13818-2 semantics (Main-Profile
    progressive frame pictures). Frames are (h, w, 3) uint8 YCbCr
    (2x2-replicated chroma) in DISPLAY order: anchors (I/P) are held
    back one step and emitted when the next anchor arrives, B
    pictures are emitted immediately — the classic one-anchor-delay
    reorder. ``meta`` carries width/height/picture types (display
    order) and ``mpeg2``. Raises MpegError on unsupported constructs
    or corrupt streams."""
    codes = _find_start_codes(data)
    if not codes or codes[0][0] != 0xB3:
        raise MpegError("no MPEG sequence header")
    seq = MsbReader(data, codes[0][1])
    width = seq.read(12)
    height = seq.read(12)
    seq.read(4)                                  # aspect
    seq.read(4)                                  # frame rate code
    seq.read(18)                                 # bitrate
    if not seq.read(1):
        raise MpegError("sequence header marker bit")
    seq.read(10)                                 # vbv buffer size
    seq.read(1)                                  # constrained flag
    intra_q = DEFAULT_INTRA_Q
    ninter_q = DEFAULT_NONINTRA_Q
    if seq.read(1):                              # load_intra_quant
        m = np.array([seq.read(8) for _ in range(64)], dtype=np.int64)
        intra_q = np.zeros(64, dtype=np.int64)
        intra_q[ZIGZAG] = m                      # stream is zigzag
    if seq.read(1):                              # load_non_intra
        m = np.array([seq.read(8) for _ in range(64)], dtype=np.int64)
        ninter_q = np.zeros(64, dtype=np.int64)
        ninter_q[ZIGZAG] = m
    # ISO 13818-2 detection: an extension start code with the
    # sequence-extension identifier immediately after the sequence
    # header marks an MPEG-2 stream (MPEG-1 has no 0xB5 codes)
    mpeg2 = False
    if len(codes) > 1 and codes[1][0] == 0xB5:
        ext = MsbReader(data, codes[1][1])
        if ext.read(4) == 0b0001:
            mpeg2 = True
            ext.read(8)                          # profile_and_level
            ext.read(1)                          # progressive_sequence
            if ext.read(2) != 1:
                raise MpegError("only 4:2:0 chroma is supported")
            width += ext.read(2) << 12
            height += ext.read(2) << 12
    if width <= 0 or height <= 0:
        raise MpegError("bad dimensions")
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16
    cw, ch = mb_w * 8, mb_h * 8
    Y = np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8)
    Cb = np.full((ch, cw), 128, dtype=np.uint8)
    Cr = np.full((ch, cw), 128, dtype=np.uint8)
    fwd_ref: tuple | None = None                 # older anchor
    bwd_ref: tuple | None = None                 # newest anchor
    held: tuple | None = None                    # anchor awaiting output
    frames: list[np.ndarray] = []
    types: list[int] = []

    def emit(planes: tuple, ptype: int):
        eY, eCb, eCr = planes
        frame = np.empty((height, width, 3), dtype=np.uint8)
        frame[..., 0] = eY[:height, :width]
        frame[..., 1] = np.repeat(np.repeat(eCb, 2, 0),
                                  2, 1)[:height, :width]
        frame[..., 2] = np.repeat(np.repeat(eCr, 2, 0),
                                  2, 1)[:height, :width]
        frames.append(frame)
        types.append(ptype)

    i = 1
    while i < len(codes):
        code, off = codes[i]
        if code != 0x00:                         # picture start only
            i += 1
            continue
        bits = MsbReader(data, off)
        bits.read(10)                            # temporal reference
        ptype = bits.read(3)
        bits.read(16)                            # vbv delay
        if ptype not in (PIC_I, PIC_P, PIC_B):
            raise MpegError(f"unsupported picture type {ptype}")
        full_pel = [0, 0]
        f_code = [0, 0]
        if ptype in (PIC_P, PIC_B):
            if bwd_ref is None:
                raise MpegError("P/B-picture before any reference")
            full_pel[0] = bits.read(1)
            f_code[0] = bits.read(3)
            if not 1 <= f_code[0] <= 7:
                raise MpegError("bad forward_f_code")
        if ptype == PIC_B:
            if fwd_ref is None:
                raise MpegError("B-picture before two references")
            full_pel[1] = bits.read(1)
            f_code[1] = bits.read(3)
            if not 1 <= f_code[1] <= 7:
                raise MpegError("bad backward_f_code")
        while bits.read(1):                      # extra picture info
            bits.read(8)
        # fc[direction][dimension] motion ranges; MPEG-1 shares one
        # f_code per direction, MPEG-2 carries all four in the
        # picture coding extension (the header fields are dummies)
        fc = [[f_code[0], f_code[0]], [f_code[1], f_code[1]]]
        dc_prec = 8
        q_scale_type = 0
        scan = ZIGZAG
        if mpeg2:
            full_pel = [0, 0]
            if i + 1 >= len(codes) or codes[i + 1][0] != 0xB5:
                raise MpegError("missing picture coding extension")
            pce = MsbReader(data, codes[i + 1][1])
            if pce.read(4) != 0b1000:
                raise MpegError("missing picture coding extension")
            fc = [[pce.read(4), pce.read(4)],
                  [pce.read(4), pce.read(4)]]
            if ptype in (PIC_P, PIC_B):
                bad = [t for t in (0, 1) if not 1 <= fc[0][t] <= 9]
                if ptype == PIC_B:
                    bad += [t for t in (0, 1)
                            if not 1 <= fc[1][t] <= 9]
                if bad:
                    raise MpegError("bad MPEG-2 f_code")
            dc_prec = 8 + pce.read(2)
            if pce.read(2) != 3:
                raise MpegError("field pictures are not supported")
            pce.read(1)                          # top_field_first
            if not pce.read(1):
                raise MpegError("frame_pred_frame_dct = 0 is not "
                                "supported")
            if pce.read(1):
                raise MpegError("concealment motion vectors are not "
                                "supported")
            q_scale_type = pce.read(1)
            if pce.read(1):
                raise MpegError("intra_vlc_format 1 (Table B-15) is "
                                "not supported")
            if pce.read(1):
                scan = ALT_SCAN
        dc_reset = 1 << (dc_prec - 1)
        dc_mult = 8 >> (dc_prec - 8)

        def qs_val(code: int) -> int:
            if not 1 <= code <= 31:
                raise MpegError("bad quantizer_scale")
            if not mpeg2:
                return code
            return 2 * code if q_scale_type == 0 \
                else NONLINEAR_QSCALE[code]
        if ptype == PIC_I:
            newY, newCb, newCr = Y.copy(), Cb.copy(), Cr.copy()
        else:
            # P predicts from the newest anchor; B's forward ref is
            # the OLDER anchor, backward ref the newest one
            pY, pCb, pCr = bwd_ref
            newY, newCb, newCr = pY.copy(), pCb.copy(), pCr.copy()
        if ptype == PIC_B:
            refs = (fwd_ref, bwd_ref)
        else:
            refs = (bwd_ref, None)
        fvals = [[1 << (fc[d][t] - 1) if fc[d][t] else 1
                  for t in (0, 1)] for d in (0, 1)]

        def applied_mvs(pmv):
            """pmv (predictor units) → per-direction half-pel vectors
            (full_pel doubles the stored value per §2.4.4.2)."""
            return [(pmv[d][0] * (2 if full_pel[d] else 1),
                     pmv[d][1] * (2 if full_pel[d] else 1))
                    for d in (0, 1)]

        def predict_mb(dirs, mvs, my, mx):
            """One macroblock's motion-compensated prediction:
            (16x16 Y, 8x8 Cb, 8x8 Cr) int arrays. Bidirectional
            macroblocks average the two predictions with the spec's
            round-away-from-zero half (§2.4.4.4)."""
            acc = None
            for d in (0, 1):
                if not dirs[d]:
                    continue
                rY, rCb, rCr = refs[d]
                mvx, mvy = mvs[d]
                cvx = mvx // 2 if mvx >= 0 else -((-mvx) // 2)
                cvy = mvy // 2 if mvy >= 0 else -((-mvy) // 2)
                p = (_mc_predict(rY, mx * 16, my * 16, 16, 16,
                                 mvx, mvy),
                     _mc_predict(rCb, mx * 8, my * 8, 8, 8,
                                 cvx, cvy),
                     _mc_predict(rCr, mx * 8, my * 8, 8, 8,
                                 cvx, cvy))
                acc = p if acc is None else tuple(
                    (a + b + 1) >> 1 for a, b in zip(acc, p))
            return acc

        # slices follow until the next non-slice start code (after
        # any extension 0xB5 / user-data 0xB2 codes in between)
        j = i + 1
        while j < len(codes) and codes[j][0] in (0xB5, 0xB2):
            j += 1
        decoded_any = False
        while j < len(codes) and 0x01 <= codes[j][0] <= 0xAF:
            srow = codes[j][0] - 1
            sb = MsbReader(data, codes[j][1])
            qscale = qs_val(sb.read(5))
            if mpeg2:
                if sb.read(1):                   # slice extension
                    sb.read(8)                   # intra_slice+id bits
                    while sb.read(1):
                        sb.read(8)
            else:
                while sb.read(1):
                    sb.read(8)                   # extra slice info
            mb_addr = srow * mb_w - 1
            pmv = [[0, 0], [0, 0]]               # per-direction preds
            prev_dirs = (0, 0)                   # for skipped B MBs
            dc_pred = [dc_reset] * 3
            end_addr = mb_h * mb_w - 1
            while mb_addr < end_addr:
                inc = 0
                while True:
                    v, _c = _read_vlc(
                        sb, _MBA_FULL,
                        "macroblock_address_increment")
                    if v == "stuff":
                        continue
                    if v == "esc":
                        inc += 33
                        continue
                    inc += v
                    break
                # skipped macroblocks: P copies co-located (the
                # canvas already holds the anchor) and resets the
                # predictors; B repeats the previous macroblock's
                # prediction mode and vectors with zero residual and
                # does NOT reset the vector predictors (§2.4.4.4)
                for _ in range(inc - 1):
                    mb_addr += 1
                    if ptype == PIC_I:
                        raise MpegError("skipped MB in I-picture")
                    dc_pred = [dc_reset] * 3
                    if ptype == PIC_P:
                        pmv = [[0, 0], [0, 0]]
                        continue
                    if prev_dirs == (0, 0):
                        raise MpegError("skipped B macroblock with "
                                        "no previous prediction")
                    if mb_addr >= mb_h * mb_w:
                        raise MpegError("macroblock address overrun")
                    sy, sx = divmod(mb_addr, mb_w)
                    sY, sCb, sCr = predict_mb(prev_dirs,
                                              applied_mvs(pmv),
                                              sy, sx)
                    newY[sy * 16:sy * 16 + 16, sx * 16:sx * 16 + 16] \
                        = np.clip(sY, 0, 255).astype(np.uint8)
                    newCb[sy * 8:sy * 8 + 8, sx * 8:sx * 8 + 8] \
                        = np.clip(sCb, 0, 255).astype(np.uint8)
                    newCr[sy * 8:sy * 8 + 8, sx * 8:sx * 8 + 8] \
                        = np.clip(sCr, 0, 255).astype(np.uint8)
                mb_addr += 1
                if mb_addr >= mb_h * mb_w:
                    raise MpegError("macroblock address overrun")
                my, mx = divmod(mb_addr, mb_w)
                table = (MB_TYPE_I if ptype == PIC_I else
                         MB_TYPE_P if ptype == PIC_P else MB_TYPE_B)
                (quant, mf, mb_bwd, pattern, intra), _ = _read_vlc(
                    sb, table, "macroblock_type")
                if quant:
                    qscale = qs_val(sb.read(5))
                dirs = (mf, mb_bwd)
                for d in (0, 1):
                    if not dirs[d]:
                        continue
                    codeh, _ = _read_vlc(sb, MOTION_VLC,
                                         "motion_code")
                    rh = sb.read(fc[d][0] - 1) \
                        if fc[d][0] > 1 and codeh else 0
                    codev, _ = _read_vlc(sb, MOTION_VLC,
                                         "motion_code")
                    rv = sb.read(fc[d][1] - 1) \
                        if fc[d][1] > 1 and codev else 0
                    pmv[d][0] = _recon_mv(pmv[d][0], codeh, rh,
                                          fvals[d][0])
                    pmv[d][1] = _recon_mv(pmv[d][1], codev, rv,
                                          fvals[d][1])
                if intra:
                    pmv = [[0, 0], [0, 0]]
                else:
                    dc_pred = [dc_reset] * 3
                    if ptype == PIC_P and not mf:
                        # no-MC P macroblock: zero-vector forward
                        # copy, predictors reset
                        pmv = [[0, 0], [0, 0]]
                        dirs = (1, 0)
                    prev_dirs = dirs
                cbp = 0
                if pattern:
                    cbp, _ = _read_vlc(sb, CBP_VLC,
                                       "coded_block_pattern")
                elif intra:
                    cbp = 63
                # --- prediction
                if intra:
                    predY = np.zeros((16, 16), dtype=np.int32)
                    predCb = np.zeros((8, 8), dtype=np.int32)
                    predCr = np.zeros((8, 8), dtype=np.int32)
                else:
                    predY, predCb, predCr = predict_mb(
                        dirs, applied_mvs(pmv), my, mx)
                # --- blocks
                planes = [(newY, predY, 0)] * 4 + \
                    [(newCb, predCb, 1), (newCr, predCr, 2)]
                for b in range(6):
                    plane, pred, comp = planes[b]
                    if b < 4:
                        by, bx = (b // 2) * 8, (b % 2) * 8
                        dst_y = my * 16 + by
                        dst_x = mx * 16 + bx
                        p = pred[by:by + 8, bx:bx + 8]
                    else:
                        dst_y, dst_x = my * 8, mx * 8
                        p = pred
                    if cbp & (32 >> b):
                        coeff = _decode_block(
                            sb, intra, comp, dc_pred, qscale,
                            intra_q, ninter_q, mpeg2=mpeg2,
                            dc_mult=dc_mult, scan=scan)
                        spatial = _idct(coeff)
                    else:
                        if intra:
                            raise MpegError("intra blocks are "
                                            "always coded")
                        spatial = 0
                    out = np.clip(p + spatial, 0, 255) \
                        .astype(np.uint8)
                    plane[dst_y:dst_y + 8, dst_x:dst_x + 8] = out
                decoded_any = True
            j += 1
        if not decoded_any:
            raise MpegError("picture without slices")
        Y, Cb, Cr = newY, newCb, newCr
        cur = (newY, newCb, newCr)
        if ptype == PIC_B:
            emit(cur, ptype)
        else:
            if held is not None:
                emit(held[0], held[1])
            held = (cur, ptype)
            fwd_ref, bwd_ref = bwd_ref, cur
        if max_frames and len(frames) >= max_frames:
            held = None
            break
        i = j
    if held is not None:
        emit(held[0], held[1])
        if max_frames:
            del frames[max_frames:]
            del types[max_frames:]
    if not frames:
        raise MpegError("no pictures decoded")
    return frames, {"width": width, "height": height,
                    "picture_types": types, "mpeg2": mpeg2}


# ------------------------------------------------ program stream

def ps_video_es(data: bytes) -> bytes:
    """MPEG program stream (ISO/IEC 11172-1 or 13818-1 PS) → the
    first video stream's elementary bytes.

    Walks pack headers (00 00 01 BA; the MPEG-1 '0010' 12-byte form
    or the MPEG-2 '01' 14-byte + stuffing form), skips system
    headers (BB) and non-video PES packets by their 16-bit lengths,
    and concatenates video PES (E0-EF) payloads. PES headers are
    handled in both shapes: the MPEG-1 form (stuffing FF bytes,
    optional STD buffer field '01', then PTS/DTS '0010'/'0011' or
    the no-timestamp byte 0x0F) and the MPEG-2 '10'-flags form
    (flags pair + PES_header_data_length). Raises MpegError on
    non-PS input or structural corruption."""
    if data[:4] != b"\x00\x00\x01\xba":
        raise MpegError("not an MPEG program stream")
    out = bytearray()
    vid_id = None
    pos = 0
    n = len(data)
    while pos + 4 <= n:
        if data[pos:pos + 3] != b"\x00\x00\x01":
            raise MpegError("lost pack synchronization")
        sid = data[pos + 3]
        if sid == 0xBA:
            b0 = data[pos + 4] if pos + 4 < n else 0
            if b0 >> 6 == 0b01:                  # MPEG-2 pack
                if pos + 14 > n:
                    raise MpegError("truncated pack header")
                stuff = data[pos + 13] & 0x07
                pos += 14 + stuff
                continue
            if b0 >> 4 == 0b0010:                # MPEG-1 pack
                if pos + 12 > n:
                    raise MpegError("truncated pack header")
                pos += 12
                continue
            raise MpegError("unrecognized pack header form")
        if sid == 0xB9:                          # program end code
            break
        if pos + 6 > n:
            raise MpegError("truncated packet header")
        plen = int.from_bytes(data[pos + 4:pos + 6], "big")
        body = data[pos + 6:pos + 6 + plen]
        if len(body) < plen:
            raise MpegError("truncated PES packet")
        if 0xE0 <= sid <= 0xEF and (vid_id is None or sid == vid_id):
            vid_id = sid
            if body and body[0] >> 6 == 0b10:    # MPEG-2 PES header
                if len(body) < 3:
                    raise MpegError("truncated PES header")
                i = 3 + body[2]                  # flags + hdr length
                if i > len(body):
                    raise MpegError("truncated PES header")
            else:                                # MPEG-1 PES header
                i = 0
                while i < len(body) and body[i] == 0xFF:
                    i += 1                       # stuffing
                if i < len(body) and body[i] >> 6 == 0b01:
                    i += 2                       # STD buffer size
                if i < len(body):
                    tag = body[i] >> 4
                    if tag == 0b0010:
                        i += 5                   # PTS
                    elif tag == 0b0011:
                        i += 10                  # PTS + DTS
                    elif body[i] == 0x0F:
                        i += 1                   # no timestamps
                    else:
                        raise MpegError("bad PES header flags")
            out += body[i:]
        pos += 6 + plen
    if not out:
        raise MpegError("program stream has no video packets")
    return bytes(out)


def ps_wrap(es: bytes, packet_size: int = 512,
            mpeg2: bool = False) -> bytes:
    """Fixture builder: wrap a video elementary stream into a
    minimal program stream — one pack header, then E0 PES packets
    of ``packet_size``, then the program end code. ``mpeg2``
    selects the ISO 13818-1 shapes (14-byte '01' pack with SCR
    extension; '10'-flags PES headers) over the ISO 11172-1 ones
    ('0010' 12-byte pack; 0x0F no-timestamp PES headers)."""
    w = bytearray()
    w += b"\x00\x00\x01\xba"
    if mpeg2:
        # '01' + SCR 0 (with markers) + SCR ext + mux rate + no
        # stuffing
        w += bytes((0x44, 0x00, 0x04, 0x00, 0x04, 0x01))
        w += bytes((0x00, 0x00, 0x03))           # mux rate + markers
        w += bytes((0xF8,))                      # stuffing length 0
    else:
        # '0010' + 33-bit SCR(0) with marker bits + mux rate
        w += bytes((0x21, 0x00, 0x01, 0x00, 0x01))
        w += bytes((0x80, 0x00, 0x01))           # mux rate marker|1
    for off in range(0, len(es), packet_size):
        chunk = es[off:off + packet_size]
        if mpeg2:
            # flags '10 00...0', no optional fields, hdr length 0
            body = b"\x80\x00\x00" + chunk
        else:
            body = b"\x0f" + chunk               # no-timestamp PES
        w += b"\x00\x00\x01\xe0"
        w += len(body).to_bytes(2, "big")
        w += body
    w += b"\x00\x00\x01\xb9"
    return bytes(w)


# --------------------------------------------------------- encoder

_MBA_ENC = {v: k for k, v in MBA_VLC.items()}
_MOTION_ENC = {v: k for k, v in MOTION_VLC.items()}
_DC_LUMA_ENC = {v: k for k, v in DC_LUMA_VLC.items()}
_DC_CHROMA_ENC = {v: k for k, v in DC_CHROMA_VLC.items()}


def _wbits(w: MsbWriter, code: str):
    for c in code:
        w.write(1 if c == "1" else 0, 1)


def _w_start(w: MsbWriter, code: int):
    w.align()
    w.write(0, 8)
    w.write(0, 8)
    w.write(1, 8)
    w.write(code, 8)


def _w_mba(w: MsbWriter, inc: int):
    while inc > 33:
        _wbits(w, MBA_ESCAPE)
        inc -= 33
    _wbits(w, _MBA_ENC[inc])


def _w_dc(w: MsbWriter, diff: int, comp: int):
    size = abs(diff).bit_length()
    _wbits(w, (_DC_LUMA_ENC if comp == 0 else _DC_CHROMA_ENC)[size])
    if size:
        w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)


def _w_motion(w: MsbWriter, code: int):
    if not -3 <= code <= 3:
        raise MpegError("fixture encoder keeps |motion_code| <= 3")
    _wbits(w, _MOTION_ENC[code])


def mpeg1_bytes(width: int, height: int, pictures: list[dict],
                qscale: int = 8, full_pel: bool = True,
                frame_rate_code: int = 3) -> bytes:
    """Encode an MPEG-1 video elementary stream for fixtures/tests.

    Each picture dict: ``{"type": "I", "mbs": [mb, ...]}`` with one
    mb dict per macroblock in raster order:

      I pictures   ``{"dc": [y0, y1, y2, y3, cb, cr]}`` — DC
                   *differentials* per block (quantized units), plus
                   optional ``"ac": [(idx, run, level), ...]`` escape-
                   coded AC coefficients for luma block ``idx``;
      P pictures   ``{"kind": "skip"}`` (not first/last of a slice),
                   ``{"kind": "mc", "mv": (dx, dy)}`` motion-only in
                   full pels (full_pel) or half-pels,
                   ``{"kind": "intra", "dc": [...]}``;
      B pictures   ``{"kind": "fwd"|"bwd", "mv": (dx, dy)}``
                   single-direction motion-only,
                   ``{"kind": "bi", "mv": (fx, fy), "mv2": (bx, by)}``
                   interpolated, plus ``"skip"`` (repeats the
                   previous macroblock's prediction) and ``"intra"``.

    The stream loads explicit all-16 quantizer matrices so decode
    never depends on the default-matrix constant. One slice per
    picture row 0; f_codes = 1 (motion codes are the vector).
    Pictures are listed in CODED order (anchors before the B
    pictures that reference them); the decoder reorders to display
    order."""
    w = MsbWriter()
    _w_start(w, 0xB3)
    w.write(width, 12)
    w.write(height, 12)
    w.write(1, 4)                                # square pixels
    w.write(frame_rate_code, 4)
    w.write(0x3FFFF, 18)                         # variable bitrate
    w.write(1, 1)                                # marker
    w.write(0, 10)
    w.write(0, 1)
    w.write(1, 1)                                # load intra matrix
    for _ in range(64):
        w.write(16, 8)
    w.write(1, 1)                                # load non-intra
    for _ in range(64):
        w.write(16, 8)
    _w_start(w, 0xB8)                            # GOP header
    w.write(0, 25)                               # time code
    w.write(1, 1)                                # closed gop
    w.write(0, 1)                                # broken link
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16
    for t, pic in enumerate(pictures):
        _w_start(w, 0x00)
        w.write(t, 10)                           # temporal ref
        ptype = {"I": PIC_I, "P": PIC_P, "B": PIC_B}[pic["type"]]
        w.write(ptype, 3)
        w.write(0xFFFF, 16)                      # vbv delay (vbr)
        if ptype in (PIC_P, PIC_B):
            w.write(1 if full_pel else 0, 1)
            w.write(1, 3)                        # forward_f_code = 1
        if ptype == PIC_B:
            w.write(1 if full_pel else 0, 1)
            w.write(1, 3)                        # backward_f_code = 1
        w.write(0, 1)                            # no extra info
        _w_start(w, 0x01)                        # slice, row 0
        w.write(qscale, 5)
        w.write(0, 1)
        _w_picture_mbs(w, ptype, pic["mbs"], mb_w * mb_h)
    _w_start(w, 0xB7)                            # sequence end
    return w.bytes()


def _w_picture_mbs(w: MsbWriter, ptype: int, mbs: list[dict],
                   n_mbs: int, mpeg2: bool = False):
    """Shared macroblock-layer writer (the VLC tables are common to
    both standards; ``mpeg2`` switches the AC escape to the signed
    12-bit ISO 13818-2 Table B-16 form)."""
    if len(mbs) != n_mbs:
        raise MpegError("need one mb entry per macroblock")
    pending = 1
    pmv = [[0, 0], [0, 0]]
    for k, mb in enumerate(mbs):
        if mb.get("kind") == "skip":
            if ptype == PIC_I:
                raise MpegError("cannot skip in an I-picture")
            if k in (0, len(mbs) - 1):
                raise MpegError("first/last MB cannot be skipped")
            pending += 1
            if ptype == PIC_P:
                pmv = [[0, 0], [0, 0]]
            continue
        _w_mba(w, pending)
        pending = 1
        kind = mb.get("kind")
        if ptype == PIC_I or kind == "intra":
            _wbits(w, "1" if ptype == PIC_I else "00011")
            pmv = [[0, 0], [0, 0]]
            dcs = mb["dc"]
            ac = {a[0]: a for a in mb.get("ac", [])}
            for b in range(6):
                comp = 0 if b < 4 else b - 3
                _w_dc(w, dcs[b], comp)
                if b in ac:
                    _, run, level = ac[b]
                    _wbits(w, DCT_ESCAPE)
                    w.write(run, 6)
                    if mpeg2:
                        if not -2047 <= level <= 2047 or level == 0:
                            raise MpegError("fixture AC level must "
                                            "be +-1..2047")
                        w.write(level & 0xFFF, 12)
                    else:
                        if not -127 <= level <= 127 or level == 0:
                            raise MpegError("fixture AC level must "
                                            "be +-1..127")
                        w.write(level & 0xFF, 8)
                _wbits(w, DCT_EOB)
        elif ptype == PIC_P and kind == "mc":
            _wbits(w, "001")                     # motion only
            dx, dy = mb["mv"]
            _w_motion(w, dx - pmv[0][0])
            _w_motion(w, dy - pmv[0][1])
            pmv[0] = [dx, dy]
        elif ptype == PIC_B and kind in ("fwd", "bwd", "bi"):
            code, use = {"fwd": ("0010", (1, 0)),
                         "bwd": ("010", (0, 1)),
                         "bi": ("10", (1, 1))}[kind]
            _wbits(w, code)                      # motion only
            for d in (0, 1):
                if not use[d]:
                    continue
                dx, dy = mb["mv2"] if d == 1 and kind == "bi" \
                    else mb["mv"]
                _w_motion(w, dx - pmv[d][0])
                _w_motion(w, dy - pmv[d][1])
                pmv[d] = [dx, dy]
        else:
            raise MpegError(f"unknown mb kind {mb!r}")


def mpeg2_bytes(width: int, height: int, pictures: list[dict],
                qscale_code: int = 8, intra_dc_precision: int = 8,
                q_scale_type: int = 0, alternate_scan: int = 0,
                frame_rate_code: int = 3) -> bytes:
    """Encode an MPEG-2 (ISO/IEC 13818-2) Main-Profile progressive
    video elementary stream for fixtures/tests. Same picture/mb
    dict shapes as :func:`mpeg1_bytes`, with two deltas: DC
    differentials are in *precision* units (pixel value <<
    (intra_dc_precision - 8)) and motion vectors are always
    half-pel (no full_pel flag; f_codes = 1). Emits sequence +
    picture-coding extensions (frame pictures,
    frame_pred_frame_dct = 1, intra_vlc_format = 0), explicit all-16
    quantizer matrices, and one slice at row 0."""
    if intra_dc_precision not in (8, 9, 10, 11):
        raise MpegError("intra_dc_precision must be 8..11")
    w = MsbWriter()
    _w_start(w, 0xB3)
    w.write(width, 12)
    w.write(height, 12)
    w.write(1, 4)                                # square pixels
    w.write(frame_rate_code, 4)
    w.write(0x3FFFF, 18)                         # variable bitrate
    w.write(1, 1)                                # marker
    w.write(0, 10)
    w.write(0, 1)
    w.write(1, 1)                                # load intra matrix
    for _ in range(64):
        w.write(16, 8)
    w.write(1, 1)                                # load non-intra
    for _ in range(64):
        w.write(16, 8)
    _w_start(w, 0xB5)                            # sequence extension
    w.write(0b0001, 4)
    w.write(0x48, 8)                             # main profile/level
    w.write(1, 1)                                # progressive
    w.write(1, 2)                                # 4:2:0
    w.write(0, 2)                                # h size ext
    w.write(0, 2)                                # v size ext
    w.write(0, 12)                               # bitrate ext
    w.write(1, 1)                                # marker
    w.write(0, 8)                                # vbv ext
    w.write(0, 1)                                # low delay
    w.write(0, 2)                                # frame rate ext n
    w.write(0, 5)                                # frame rate ext d
    _w_start(w, 0xB8)                            # GOP header
    w.write(0, 25)
    w.write(1, 1)                                # closed gop
    w.write(0, 1)                                # broken link
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16
    for t, pic in enumerate(pictures):
        _w_start(w, 0x00)
        w.write(t, 10)                           # temporal ref
        ptype = {"I": PIC_I, "P": PIC_P, "B": PIC_B}[pic["type"]]
        w.write(ptype, 3)
        w.write(0xFFFF, 16)                      # vbv delay (vbr)
        if ptype in (PIC_P, PIC_B):
            w.write(0, 1)                        # full_pel: '0'
            w.write(7, 3)                        # f_code: '111' dummy
        if ptype == PIC_B:
            w.write(0, 1)
            w.write(7, 3)
        w.write(0, 1)                            # no extra info
        _w_start(w, 0xB5)                        # picture coding ext
        w.write(0b1000, 4)
        fwd = 1 if ptype in (PIC_P, PIC_B) else 15
        bwd = 1 if ptype == PIC_B else 15
        w.write(fwd, 4)                          # f_code[0][0]
        w.write(fwd, 4)                          # f_code[0][1]
        w.write(bwd, 4)                          # f_code[1][0]
        w.write(bwd, 4)                          # f_code[1][1]
        w.write(intra_dc_precision - 8, 2)
        w.write(3, 2)                            # frame picture
        w.write(0, 1)                            # top_field_first
        w.write(1, 1)                            # frame_pred_frame_dct
        w.write(0, 1)                            # no concealment mv
        w.write(q_scale_type, 1)
        w.write(0, 1)                            # intra_vlc_format
        w.write(alternate_scan, 1)
        w.write(0, 1)                            # repeat_first_field
        w.write(1, 1)                            # chroma_420_type
        w.write(1, 1)                            # progressive_frame
        w.write(0, 1)                            # no composite flag
        _w_start(w, 0x01)                        # slice, row 0
        w.write(qscale_code, 5)
        w.write(0, 1)                            # no slice extension
        _w_picture_mbs(w, ptype, pic["mbs"], mb_w * mb_h,
                       mpeg2=True)
    _w_start(w, 0xB7)                            # sequence end
    return w.bytes()


def mpeg1_fixture(doc_id: int) -> bytes:
    """Deterministic I/P/P stream per document row with SQL-closed
    forms (48x16, three macroblocks, full-pel vectors):

      frame 0 (I)  MBs painted v0 | v1 | v2 (flat DC-only luma,
                   chroma 128)
      frame 1 (P)  MB0 motion (+2, 0) — 14 columns v0 + 2 columns
                   v1; MB1 skipped (copy); MB2 motion (-2, 0) —
                   2 columns v1 + 14 columns v2
      frame 2 (P)  MB0 intra v3; MB1 motion (+2, 0) over frame 1
                   (all v1); MB2 motion (-1, 0) over frame 1
                   (3 columns v1 + 13 columns v2) — the -1 keeps the
                   differential after MB1's (+2, 0) within the
                   encoder's |motion_code| <= 3 envelope

    Every decoded pixel is an exact integer (flat DC blocks, full-pel
    copies), so frame means are closed-form in doc_id. Exercises
    intra DC prediction, skipped-MB copy, differential motion
    vectors, and intra-in-P refresh."""
    v0 = 16 + doc_id % 224
    v1 = 16 + (doc_id * 7 + 31) % 224
    v2 = 16 + (doc_id * 13 + 5) % 224
    v3 = 16 + (doc_id * 11 + 3) % 224

    def intra_mb(prev: int, v: int) -> dict:
        return {"dc": [v - prev, 0, 0, 0, 0, 0]}

    pic0 = {"type": "I", "mbs": [intra_mb(128, v0),
                                 intra_mb(v0, v1),
                                 intra_mb(v1, v2)]}
    pic1 = {"type": "P", "mbs": [{"kind": "mc", "mv": (2, 0)},
                                 {"kind": "skip"},
                                 {"kind": "mc", "mv": (-2, 0)}]}
    pic2 = {"type": "P", "mbs": [{"kind": "intra",
                                  "dc": [v3 - 128, 0, 0, 0, 0, 0]},
                                 {"kind": "mc", "mv": (2, 0)},
                                 {"kind": "mc", "mv": (-1, 0)}]}
    return mpeg1_bytes(48, 16, [pic0, pic1, pic2],
                       qscale=1 + doc_id % 31, full_pel=True)


def mpeg1_bps_fixture(doc_id: int) -> bytes:
    """Deterministic MPEG-1 PROGRAM STREAM (pack/PES wrapped) with a
    bidirectional picture per document row; SQL-closed forms
    (48x16, coded order I P B → display order I B P):

      I (display 0)  MBs painted v0 | v1 | v2 (flat DC-only luma)
      P (display 2)  all-intra refresh w0 | w1 | w2
      B (display 1)  MB0 forward (+2, 0) over I — 14 columns v0 +
                     2 columns v1; MB1 SKIPPED — repeats MB0's
                     forward mode/vector at its own address: 14
                     columns v1 + 2 columns v2; MB2 bidirectional
                     (0,0)/(0,0) — the spec's rounded average
                     (v2 + w2 + 1) >> 1

    Exercises backward motion, interpolated prediction, skipped-B
    repeat semantics, coded→display reordering, and the ISO 11172-1
    system-layer demux (:func:`ps_video_es`). Every decoded pixel is
    an exact integer, so frame means are closed-form in doc_id."""
    v0 = 16 + doc_id % 224
    v1 = 16 + (doc_id * 7 + 31) % 224
    v2 = 16 + (doc_id * 13 + 5) % 224
    w0 = 16 + (doc_id * 11 + 3) % 224
    w1 = 16 + (doc_id * 17 + 9) % 224
    w2 = 16 + (doc_id * 23 + 11) % 224

    def intra(prev: int, v: int) -> dict:
        return {"kind": "intra", "dc": [v - prev, 0, 0, 0, 0, 0]}

    pic0 = {"type": "I", "mbs": [{"dc": [v0 - 128, 0, 0, 0, 0, 0]},
                                 {"dc": [v1 - v0, 0, 0, 0, 0, 0]},
                                 {"dc": [v2 - v1, 0, 0, 0, 0, 0]}]}
    pic1 = {"type": "P", "mbs": [intra(128, w0), intra(w0, w1),
                                 intra(w1, w2)]}
    pic2 = {"type": "B", "mbs": [{"kind": "fwd", "mv": (2, 0)},
                                 {"kind": "skip"},
                                 {"kind": "bi", "mv": (0, 0),
                                  "mv2": (0, 0)}]}
    es = mpeg1_bytes(48, 16, [pic0, pic1, pic2],
                     qscale=1 + doc_id % 31, full_pel=True)
    return ps_wrap(es, packet_size=256 + (doc_id % 7) * 64)


def mpeg2_ps_fixture(doc_id: int) -> bytes:
    """Deterministic MPEG-2 PROGRAM STREAM per document row;
    SQL-closed forms (48x16, coded order I P B → display I B P):

      I (display 0)  MBs painted v0 | v1 | v2 (flat DC-only luma,
                     DC differentials in intra_dc_precision units)
      P (display 2)  all-intra refresh w0 | w1 | w2
      B (display 1)  MB0 forward (2, 0) — a 1-pel shift in MPEG-2's
                     always-half-pel units: 15 columns v0 + 1 column
                     v1; MB1 SKIPPED (repeat): 15 columns v1 + 1
                     column v2; MB2 bidirectional (0,0)/(0,0):
                     (v2 + w2 + 1) >> 1

    Rows vary intra_dc_precision (8/9/10), q_scale_type, and
    alternate_scan to exercise the ISO 13818-2 parse paths; the
    §7.4.4 mismatch-control toggle on these DC-only blocks lands on
    F[7][7] = ±1 whose IDCT ripple (< 0.25) rounds away, so every
    pixel stays an exact closed form in doc_id. Wrapped in the
    ISO 13818-1 pack/PES form (:func:`ps_wrap` ``mpeg2=True``)."""
    prec = 8 + doc_id % 3
    s = prec - 8
    v0 = 16 + doc_id % 224
    v1 = 16 + (doc_id * 7 + 31) % 224
    v2 = 16 + (doc_id * 13 + 5) % 224
    w0 = 16 + (doc_id * 11 + 3) % 224
    w1 = 16 + (doc_id * 17 + 9) % 224
    w2 = 16 + (doc_id * 23 + 11) % 224

    def dc(prev: int, v: int) -> list[int]:
        return [(v - prev) << s, 0, 0, 0, 0, 0]

    pic0 = {"type": "I", "mbs": [{"dc": dc(128, v0)},
                                 {"dc": dc(v0, v1)},
                                 {"dc": dc(v1, v2)}]}
    pic1 = {"type": "P", "mbs": [{"kind": "intra", "dc": dc(128, w0)},
                                 {"kind": "intra", "dc": dc(w0, w1)},
                                 {"kind": "intra", "dc": dc(w1, w2)}]}
    pic2 = {"type": "B", "mbs": [{"kind": "fwd", "mv": (2, 0)},
                                 {"kind": "skip"},
                                 {"kind": "bi", "mv": (0, 0),
                                  "mv2": (0, 0)}]}
    es = mpeg2_bytes(48, 16, [pic0, pic1, pic2],
                     qscale_code=1 + doc_id % 31,
                     intra_dc_precision=prec,
                     q_scale_type=doc_id % 2,
                     alternate_scan=(doc_id // 2) % 2)
    return ps_wrap(es, packet_size=256 + (doc_id % 5) * 128,
                   mpeg2=True)
