"""From-scratch VP8 codec core — WebP lossy stills and the frame
loop of VP8 video (pure Python + numpy).

Decoder for the VP8 keyframe bitstream inside a RIFF/WEBP ``VP8 ``
chunk (RFC 6386): the boolean arithmetic decoder, segmentation and
loop-filter headers, up to 8 DCT token partitions, quantizer
indices with per-segment deltas, coefficient-probability updates,
keyframe intra modes (16x16 DC/V/H/TM, B_PRED with all ten 4x4
submodes, chroma 8x8), token decoding with band/context modelling,
the exact integer inverse DCT and inverse Walsh-Hadamard transforms,
reconstruction with edge-pixel conventions (127 above / 129 left),
and the simple + normal in-loop deblocking filters. ``_reconstruct``
is the one macroblock loop of every frame: a key frame is the case
where all MBs are intra; interframe MBs (parsed in vp8inter.py) take
six-tap motion compensation from edge-extended reference planes.

Reference parity: the reference (tballison/tika) detects WebP and
reads dimensions only (`image/ImageParser.java` family, matched in
media.py `_webp_dims`); pixel decode is pipeline extension beyond
the reference, like the VP8L/JPEG/GIF tier.

Provenance and verification contract: written from the public RFC
6386 "VP8 Data Format and Decoding Guide". The *structural* tables
(token tree and category bases/extra-bit probs, coefficient bands,
zigzag scan, mode trees, quantizer lookup tables, transform
constants 20091/35468, edge-fill and prediction rules) are
transcribed from the spec. The three large *default probability*
tables (``DEFAULT_COEFF_PROBS`` 4x8x3x11, ``COEFF_UPDATE_PROBS``
4x8x3x11, ``KF_BMODE_PROB`` 10x10x9) are self-consistent stand-ins
generated from documented formulas: this sandbox has no third-party
VP8 encoder or test vectors, so spec-default probability values
cannot be externally verified here. Probability values never affect
*what* a round-trip decodes (boolean arithmetic coding is lossless
for any probability in [1, 255]) — every bitstream produced by this
module's encoder decodes bit-exactly, and all structure above is
exercised by the dual-path round-trip tests. Decoding a bitstream
produced by a *third-party* encoder additionally requires replacing
those three tables with the RFC 6386 section 13.5/11.4 defaults
(drop-in module constants). ``SPEC_TABLE_PARITY`` documents this.

The fixture encoder writes genuine VP8 keyframe bitstreams: general
lossy path (forward DCT/WHT + quantization, returning its own
reconstruction for bit-exact comparison) and a DC-exact path for
per-macroblock-constant images where quantized coefficients are
chosen so reconstruction equals the target YUV exactly — making
pixel statistics closed-form for the DuckDB oracles, the same trick
as the JPEG DC-quantization closed form in jpegcodec.py.

Scale contract: identical to the rest of the pixel tier — per-row
CPU work inside mapInPandas, dimension guards before canvas
allocation, corrupt payloads raise ValueError and become status
rows; no shuffle.
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.pixels import check_dims

SPEC_TABLE_PARITY = (
    "structural tables (trees, scan, bands, quantizer lookups, "
    "transform constants, prediction rules) follow RFC 6386; the "
    "DEFAULT_COEFF_PROBS / COEFF_UPDATE_PROBS / KF_BMODE_PROB "
    "probability values are self-consistent stand-ins — swap in the "
    "RFC 6386 defaults for third-party-stream parity"
)

# --------------------------------------------------------- bool coder


class _BoolDec:
    """RFC 6386 section 7 boolean arithmetic decoder. Reads MSB-first;
    tolerates up to 2 virtual zero bytes past the partition end (the
    decoder window runs ahead of the last coded symbol)."""

    __slots__ = ("data", "pos", "end", "range", "value", "bits", "over")

    def __init__(self, data: bytes, start: int = 0, end: int | None = None):
        self.data = data
        self.end = len(data) if end is None else end
        self.pos = start
        self.range = 255
        self.value = 0
        self.bits = 0
        self.over = 0
        for _ in range(2):
            self.value = (self.value << 8) | self._byte()

    def _byte(self) -> int:
        if self.pos < self.end:
            b = self.data[self.pos]
            self.pos += 1
            return b
        self.over += 1
        if self.over > 2:
            raise ValueError("truncated VP8 bool partition")
        return 0

    def bool(self, prob: int = 128) -> int:
        r = self.range
        v = self.value
        split = 1 + (((r - 1) * prob) >> 8)
        big = split << 8
        if v >= big:
            bit = 1
            r -= split
            v -= big
        else:
            bit = 0
            r = split
        if r < 128:
            # batched renorm: shift = 8 - bit_length brings range into
            # [128, 255]; shift <= 7 so at most ONE byte boundary is
            # crossed, and the fresh byte lands at the exact bit
            # position the one-bit-at-a-time loop would give it
            s = 8 - r.bit_length()
            r <<= s
            b = self.bits + s
            if b >= 8:
                k = 8 - self.bits
                v = ((v << k) | self._byte()) << (s - k)
                b -= 8
            else:
                v <<= s
            self.bits = b
        self.range = r
        self.value = v
        return bit

    def literal(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.bool(128)
        return v

    def signed(self, nbits: int) -> int:
        v = self.literal(nbits)
        return -v if self.bool(128) else v

    def tree(self, tree: tuple, probs) -> int:
        i = 0
        while True:
            i = tree[i + self.bool(probs[i >> 1])]
            if i <= 0:
                return -i


class _BoolEnc:
    """Arithmetic encoder producing streams _BoolDec accepts. Keeps
    the interval low end as an arbitrary-precision integer so carry
    propagation is free; emits the exact lower bound at flush (the
    lower bound of every subinterval is decodable)."""

    __slots__ = ("low", "range", "count")

    def __init__(self):
        self.low = 0
        self.range = 255
        self.count = 0  # bits of `low` beyond the initial 8-bit scale

    def put(self, bit: int, prob: int = 128):
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            self.low <<= 1
            self.count += 1

    def literal(self, v: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.put((v >> i) & 1, 128)

    def signed(self, v: int, nbits: int):
        self.literal(abs(v), nbits)
        self.put(1 if v < 0 else 0, 128)

    def tree(self, tree: tuple, probs, value: int):
        path = _tree_path(tree, value)
        i = 0
        for bit in path:
            self.put(bit, probs[i >> 1])
            i = tree[i + bit]

    def bytes(self) -> bytes:
        nbits = self.count + 8
        nbytes = (nbits + 7) // 8
        return (self.low << (nbytes * 8 - nbits)).to_bytes(nbytes, "big")


def _tree_path(tree: tuple, value: int) -> tuple:
    """Bit path from the root to leaf ``-value`` (memoised)."""
    key = (id(tree), value)
    p = _TREE_PATHS.get(key)
    if p is None:
        p = _find_path(tree, 0, value, ())
        if p is None:
            raise ValueError(f"value {value} not in tree")
        _TREE_PATHS[key] = p
    return p


def _find_path(tree, i, value, acc):
    for bit in (0, 1):
        nxt = tree[i + bit]
        if nxt == -value and nxt <= 0:
            return acc + (bit,)
        if nxt > 0:
            r = _find_path(tree, nxt, value, acc + (bit,))
            if r is not None:
                return r
    return None


_TREE_PATHS: dict = {}

# --------------------------------------------------- tables (RFC 6386)

# intra 16x16 / chroma / 4x4 submodes
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

# trees use the RFC convention: positive = next node index, -x = leaf x
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROB = (145, 156, 163, 128)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROB = (142, 114, 183)
BMODE_TREE = (
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
)
SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# token alphabet
(TOK_ZERO, TOK_ONE, TOK_TWO, TOK_THREE, TOK_FOUR, TOK_CAT1, TOK_CAT2,
 TOK_CAT3, TOK_CAT4, TOK_CAT5, TOK_CAT6, TOK_EOB) = range(12)
COEFF_TREE = (
    -TOK_EOB, 2,
    -TOK_ZERO, 4,
    -TOK_ONE, 6,
    8, 12,
    -TOK_TWO, 10,
    -TOK_THREE, -TOK_FOUR,
    14, 16,
    -TOK_CAT1, -TOK_CAT2,
    18, 20,
    -TOK_CAT3, -TOK_CAT4,
    -TOK_CAT5, -TOK_CAT6,
)
CAT_BASE = {TOK_CAT1: 5, TOK_CAT2: 7, TOK_CAT3: 11, TOK_CAT4: 19,
            TOK_CAT5: 35, TOK_CAT6: 67}
CAT_PROBS = {
    TOK_CAT1: (159,),
    TOK_CAT2: (165, 145),
    TOK_CAT3: (173, 148, 140),
    TOK_CAT4: (176, 155, 140, 135),
    TOK_CAT5: (180, 157, 141, 134, 130),
    TOK_CAT6: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}

COEFF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

DC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114,
    116, 118, 122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143,
    145, 148, 151, 154, 157,
)
AC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106,
    108, 110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140,
    143, 146, 149, 152, 155, 158, 161, 164, 167, 170, 173, 177, 181,
    185, 189, 193, 197, 201, 205, 209, 213, 217, 221, 225, 229, 234,
    239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
)


def _gen_coeff_probs() -> tuple:
    """Self-consistent stand-in for the RFC 6386 section 13.5 default
    coefficient probabilities (see module docstring). Deterministic
    formula: likelier EOB/ZERO at higher bands, context raises the
    chance of another nonzero — shaped like real statistics so the
    fixture encoder's output stays compact, but NOT the spec values.
    """
    out = []
    for btype in range(4):
        planes = []
        for band in range(8):
            rows = []
            for ctx in range(3):
                base = 200 - 16 * min(band, 6) - 24 * ctx + 7 * btype
                p0 = max(1, min(254, base))            # not-EOB gate
                p1 = max(1, min(254, base - 40))       # nonzero gate
                row = [p0, p1, max(1, min(254, base - 60))]
                for k in range(3, 11):
                    row.append(max(1, min(254, 170 - 12 * k + 5 * ctx)))
                rows.append(tuple(row))
            planes.append(tuple(rows))
        out.append(tuple(planes))
    return tuple(out)


def _gen_update_probs() -> tuple:
    """Stand-in for section 13.4's coefficient-update probabilities
    (all near 255 in the spec: updates are rare)."""
    return tuple(
        tuple(
            tuple(tuple(252 for _ in range(11)) for _ in range(3))
            for _ in range(8))
        for _ in range(4))


def _gen_kf_bmode_prob() -> tuple:
    """Stand-in for the keyframe 4x4-mode probability table (10x10x9,
    RFC 6386 section 11.4). Biased toward the diagonal (neighbours
    predict the same mode) — again shape, not spec values."""
    out = []
    for above in range(10):
        rows = []
        for left in range(10):
            probs = []
            for node in range(9):
                v = 120 + 30 * (node == 0) - 8 * node
                if above == left:
                    v += 24
                probs.append(max(1, min(254, v + 3 * above - 2 * left)))
            rows.append(tuple(probs))
        out.append(tuple(rows))
    return tuple(out)


DEFAULT_COEFF_PROBS = _gen_coeff_probs()
COEFF_UPDATE_PROBS = _gen_update_probs()
KF_BMODE_PROB = _gen_kf_bmode_prob()

# map of 16x16 modes to the 4x4 submode used as context by neighbours
_Y16_TO_B = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

# ----------------------------------------------------------- transforms


def idct4x4(coeffs) -> np.ndarray:
    """Exact RFC 6386 section 14.3 inverse DCT (integer, floor
    shifts). ``coeffs`` is a 4x4 int array (dequantized); returns the
    4x4 residual."""
    c = [[int(coeffs[r][k]) for k in range(4)] for r in range(4)]
    t = [[0] * 4 for _ in range(4)]
    for i in range(4):
        a1 = c[0][i] + c[2][i]
        b1 = c[0][i] - c[2][i]
        t1 = (c[1][i] * 35468) >> 16
        t2 = c[3][i] + ((c[3][i] * 20091) >> 16)
        c1 = t1 - t2
        t1 = c[1][i] + ((c[1][i] * 20091) >> 16)
        t2 = (c[3][i] * 35468) >> 16
        d1 = t1 + t2
        t[0][i] = a1 + d1
        t[3][i] = a1 - d1
        t[1][i] = b1 + c1
        t[2][i] = b1 - c1
    out = np.zeros((4, 4), dtype=np.int32)
    for i in range(4):
        a1 = t[i][0] + t[i][2]
        b1 = t[i][0] - t[i][2]
        t1 = (t[i][1] * 35468) >> 16
        t2 = t[i][3] + ((t[i][3] * 20091) >> 16)
        c1 = t1 - t2
        t1 = t[i][1] + ((t[i][1] * 20091) >> 16)
        t2 = (t[i][3] * 35468) >> 16
        d1 = t1 + t2
        out[i][0] = (a1 + d1 + 4) >> 3
        out[i][3] = (a1 - d1 + 4) >> 3
        out[i][1] = (b1 + c1 + 4) >> 3
        out[i][2] = (b1 - c1 + 4) >> 3
    return out


def iwalsh4x4(coeffs) -> np.ndarray:
    """Exact RFC 6386 section 14.3 inverse Walsh-Hadamard (the Y2
    block); output feeds the DC position of the 16 luma subblocks."""
    c = [[int(coeffs[r][k]) for k in range(4)] for r in range(4)]
    t = [[0] * 4 for _ in range(4)]
    for i in range(4):
        a1 = c[0][i] + c[3][i]
        b1 = c[1][i] + c[2][i]
        c1 = c[1][i] - c[2][i]
        d1 = c[0][i] - c[3][i]
        t[0][i] = a1 + b1
        t[1][i] = c1 + d1
        t[2][i] = a1 - b1
        t[3][i] = d1 - c1
    out = np.zeros((4, 4), dtype=np.int32)
    for i in range(4):
        a1 = t[i][0] + t[i][3]
        b1 = t[i][1] + t[i][2]
        c1 = t[i][1] - t[i][2]
        d1 = t[i][0] - t[i][3]
        out[i][0] = (a1 + b1 + 3) >> 3
        out[i][1] = (c1 + d1 + 3) >> 3
        out[i][2] = (a1 - b1 + 3) >> 3
        out[i][3] = (d1 - c1 + 3) >> 3
    return out


def fdct4x4(block) -> np.ndarray:
    """Forward DCT paired with idct4x4 (libvpx-style scaling). Only
    the encoder uses it; reconstruction exactness comes from running
    the shared inverse, not from this transform."""
    ip = np.asarray(block, dtype=np.int64)
    t = np.zeros((4, 4), dtype=np.int64)
    for i in range(4):
        a1 = (ip[i][0] + ip[i][3]) * 8
        b1 = (ip[i][1] + ip[i][2]) * 8
        c1 = (ip[i][1] - ip[i][2]) * 8
        d1 = (ip[i][0] - ip[i][3]) * 8
        t[i][0] = a1 + b1
        t[i][2] = a1 - b1
        t[i][1] = (c1 * 2217 + d1 * 5352 + 14500) >> 12
        t[i][3] = (d1 * 2217 - c1 * 5352 + 7500) >> 12
    out = np.zeros((4, 4), dtype=np.int64)
    for i in range(4):
        a1 = t[0][i] + t[3][i]
        b1 = t[1][i] + t[2][i]
        c1 = t[1][i] - t[2][i]
        d1 = t[0][i] - t[3][i]
        out[0][i] = (a1 + b1 + 7) >> 4
        out[2][i] = (a1 - b1 + 7) >> 4
        out[1][i] = ((c1 * 2217 + d1 * 5352 + 12000) >> 16) + (d1 != 0)
        out[3][i] = (d1 * 2217 - c1 * 5352 + 51000) >> 16
    return out.astype(np.int32)


def fwalsh4x4(dcs) -> np.ndarray:
    """Forward WHT paired with iwalsh4x4 (M·D·M/2 for the butterfly
    matrix M with M^2 = 4I, so iwalsh(fwalsh(d)) ~= d up to the /2
    truncation — quantization follows anyway; the DC-exact encoder
    path picks coefficients directly and never calls this)."""
    d = np.asarray(dcs, dtype=np.int64)
    # butterfly ordering chosen to invert iwalsh's (column pass on the
    # transpose == row pass)
    m = _hbutterfly(_hbutterfly(d.T).T)
    return (m // 2).astype(np.int32)


def _hbutterfly(m: np.ndarray) -> np.ndarray:
    out = np.zeros_like(m)
    a1 = m[0] + m[3]
    b1 = m[1] + m[2]
    c1 = m[1] - m[2]
    d1 = m[0] - m[3]
    out[0] = a1 + b1
    out[1] = c1 + d1
    out[2] = a1 - b1
    out[3] = d1 - c1
    return out


# --------------------------------------------------------- quantizers


def _clamp_qi(qi: int) -> int:
    return 0 if qi < 0 else 127 if qi > 127 else qi


class _Quant:
    """Per-segment dequantization factors (RFC 6386 section 9.6/14.1)."""

    __slots__ = ("y1dc", "y1ac", "y2dc", "y2ac", "uvdc", "uvac")

    def __init__(self, qi: int, d_y1dc=0, d_y2dc=0, d_y2ac=0,
                 d_uvdc=0, d_uvac=0):
        self.y1dc = DC_QLOOKUP[_clamp_qi(qi + d_y1dc)]
        self.y1ac = AC_QLOOKUP[_clamp_qi(qi)]
        self.y2dc = DC_QLOOKUP[_clamp_qi(qi + d_y2dc)] * 2
        y2ac = (AC_QLOOKUP[_clamp_qi(qi + d_y2ac)] * 155) // 100
        self.y2ac = max(8, y2ac)
        self.uvdc = min(132, DC_QLOOKUP[_clamp_qi(qi + d_uvdc)])
        self.uvac = AC_QLOOKUP[_clamp_qi(qi + d_uvac)]


# -------------------------------------------------------- prediction


def _pred16(mode, above, left, aleft, n: int = 16) -> np.ndarray:
    """16x16 (or, with n=8, chroma 8x8) intra prediction.
    ``above``/``left`` are length-n int arrays or None when outside
    the frame; ``aleft`` is the above-left pixel (int)."""
    if mode == DC_PRED:
        if above is not None and left is not None:
            s = int(np.sum(above)) + int(np.sum(left))
            dc = (s + n) >> int(np.log2(2 * n))
        elif above is not None:
            dc = (int(np.sum(above)) + (n >> 1)) >> int(np.log2(n))
        elif left is not None:
            dc = (int(np.sum(left)) + (n >> 1)) >> int(np.log2(n))
        else:
            dc = 128
        return np.full((n, n), dc, dtype=np.int32)
    if mode == V_PRED:
        a = above if above is not None else np.full(n, 127, np.int32)
        return np.tile(a, (n, 1)).astype(np.int32)
    if mode == H_PRED:
        ll = left if left is not None else np.full(n, 129, np.int32)
        return np.tile(np.asarray(ll).reshape(-1, 1), (1, n)).astype(np.int32)
    # TM_PRED
    a = above if above is not None else np.full(n, 127, np.int32)
    ll = left if left is not None else np.full(n, 129, np.int32)
    p = aleft if aleft is not None else (127 if above is not None else 129)
    out = (np.asarray(ll).reshape(-1, 1).astype(np.int32)
           + np.asarray(a).reshape(1, -1).astype(np.int32) - int(p))
    return np.clip(out, 0, 255)


def _pred4(mode, a, al, ll, ar) -> np.ndarray:
    """4x4 submode prediction. ``a``: above[0..3], ``al``: above-left,
    ``ll``: left[0..3], ``ar``: above-right[0..3] (all ints; edge
    fills already applied by the caller)."""
    A = [int(x) for x in a] + [int(x) for x in ar]
    L = [int(x) for x in ll]
    P = int(al)
    E = [P] + A  # E[i] = pixel above at offset i-1
    out = np.zeros((4, 4), dtype=np.int32)
    def avg3(x, y, z):
        return (x + 2 * y + z + 2) >> 2
    def avg2(x, y):
        return (x + y + 1) >> 1
    if mode == B_DC:
        dc = (sum(A[:4]) + sum(L) + 4) >> 3
        out[:] = dc
    elif mode == B_TM:
        for r in range(4):
            for c in range(4):
                out[r][c] = min(255, max(0, L[r] + A[c] - P))
    elif mode == B_VE:
        row = [avg3(E[c], E[c + 1], E[c + 2]) for c in range(4)]
        out[:] = row
    elif mode == B_HE:
        col = [avg3(P, L[0], L[1]),
               avg3(L[0], L[1], L[2]),
               avg3(L[1], L[2], L[3]),
               avg3(L[2], L[3], L[3])]
        for r in range(4):
            out[r, :] = col[r]
    elif mode == B_LD:
        for r in range(4):
            for c in range(4):
                i = r + c
                if i < 6:
                    out[r][c] = avg3(A[i], A[i + 1], A[i + 2])
                else:
                    out[r][c] = avg3(A[6], A[7], A[7])
    elif mode == B_RD:
        g = [avg3(L[3], L[2], L[1]), avg3(L[2], L[1], L[0]),
             avg3(L[1], L[0], P), avg3(L[0], P, A[0]),
             avg3(P, A[0], A[1]), avg3(A[0], A[1], A[2]),
             avg3(A[1], A[2], A[3])]
        for r in range(4):
            for c in range(4):
                out[r][c] = g[c - r + 3]
    elif mode == B_VR:
        g = {}
        g[(3, 0)] = avg3(L[2], L[1], L[0])
        g[(2, 0)] = avg3(L[1], L[0], P)
        g[(3, 1)] = g[(1, 0)] = avg3(L[0], P, A[0])
        g[(2, 1)] = g[(0, 0)] = avg2(P, A[0])
        g[(3, 2)] = g[(1, 1)] = avg3(P, A[0], A[1])
        g[(2, 2)] = g[(0, 1)] = avg2(A[0], A[1])
        g[(3, 3)] = g[(1, 2)] = avg3(A[0], A[1], A[2])
        g[(2, 3)] = g[(0, 2)] = avg2(A[1], A[2])
        g[(1, 3)] = avg3(A[1], A[2], A[3])
        g[(0, 3)] = avg2(A[2], A[3])
        for (r, c), v in g.items():
            out[r][c] = v
    elif mode == B_VL:
        g = {}
        g[(0, 0)] = avg2(A[0], A[1])
        g[(1, 0)] = avg3(A[0], A[1], A[2])
        g[(2, 0)] = g[(0, 1)] = avg2(A[1], A[2])
        g[(1, 1)] = g[(3, 0)] = avg3(A[1], A[2], A[3])
        g[(2, 1)] = g[(0, 2)] = avg2(A[2], A[3])
        g[(3, 1)] = g[(1, 2)] = avg3(A[2], A[3], A[4])
        g[(2, 2)] = g[(0, 3)] = avg2(A[3], A[4])
        g[(3, 2)] = g[(1, 3)] = avg3(A[3], A[4], A[5])
        g[(2, 3)] = avg3(A[4], A[5], A[6])
        g[(3, 3)] = avg3(A[5], A[6], A[7])
        for (r, c), v in g.items():
            out[r][c] = v
    elif mode == B_HD:
        g = {}
        g[(3, 0)] = avg2(L[3], L[2])
        g[(3, 1)] = avg3(L[3], L[2], L[1])
        g[(2, 0)] = g[(3, 2)] = avg2(L[2], L[1])
        g[(2, 1)] = g[(3, 3)] = avg3(L[2], L[1], L[0])
        g[(1, 0)] = g[(2, 2)] = avg2(L[1], L[0])
        g[(1, 1)] = g[(2, 3)] = avg3(L[1], L[0], P)
        g[(0, 0)] = g[(1, 2)] = avg2(L[0], P)
        g[(0, 1)] = g[(1, 3)] = avg3(L[0], P, A[0])
        g[(0, 2)] = avg3(P, A[0], A[1])
        g[(0, 3)] = avg3(A[0], A[1], A[2])
        for (r, c), v in g.items():
            out[r][c] = v
    elif mode == B_HU:
        g = {}
        g[(0, 0)] = avg2(L[0], L[1])
        g[(0, 1)] = avg3(L[0], L[1], L[2])
        g[(0, 2)] = g[(1, 0)] = avg2(L[1], L[2])
        g[(0, 3)] = g[(1, 1)] = avg3(L[1], L[2], L[3])
        g[(1, 2)] = g[(2, 0)] = avg2(L[2], L[3])
        g[(1, 3)] = g[(2, 1)] = avg3(L[2], L[3], L[3])
        g[(2, 2)] = g[(2, 3)] = L[3]
        g[(3, 0)] = g[(3, 1)] = L[3]
        g[(3, 2)] = g[(3, 3)] = L[3]
        for (r, c), v in g.items():
            out[r][c] = v
    else:
        raise ValueError(f"bad 4x4 mode {mode}")
    return out

# ----------------------------------------------------- header parsing


class _FrameHeader:
    __slots__ = (
        "width", "height", "mb_w", "mb_h", "part1_off", "part1_size",
        "segmentation", "seg_abs", "seg_tree_probs", "seg_qi", "seg_lf",
        "seg_map_update", "filter_type", "filter_level", "sharpness",
        "lf_delta", "ref_lf_deltas", "mode_lf_deltas", "n_parts",
        "q_index", "q_deltas", "coeff_probs", "skip_enabled",
        "skip_prob",
    )


def _read_segment_filter_quant(bd: _BoolDec, h: _FrameHeader):
    """Segmentation, loop filter, partition count and quantizer
    indices: the first-partition fields key and inter frames share."""
    # segmentation (decode-side support; the fixture encoders write 0)
    h.seg_qi = [0, 0, 0, 0]
    h.seg_lf = [0, 0, 0, 0]
    h.seg_abs = 0
    h.seg_tree_probs = [255, 255, 255]
    h.seg_map_update = 0
    h.segmentation = bd.bool()
    if h.segmentation:
        h.seg_map_update = bd.bool()
        if bd.bool():                    # update_data
            h.seg_abs = bd.bool()
            for i in range(4):
                if bd.bool():
                    h.seg_qi[i] = bd.signed(7)
            for i in range(4):
                if bd.bool():
                    h.seg_lf[i] = bd.signed(6)
        if h.seg_map_update:
            for i in range(3):
                h.seg_tree_probs[i] = bd.literal(8) if bd.bool() else 255
    h.filter_type = bd.bool()
    h.filter_level = bd.literal(6)
    h.sharpness = bd.literal(3)
    h.lf_delta = bd.bool()
    h.ref_lf_deltas = [0, 0, 0, 0]
    h.mode_lf_deltas = [0, 0, 0, 0]
    if h.lf_delta and bd.bool():
        for i in range(4):
            if bd.bool():
                h.ref_lf_deltas[i] = bd.signed(6)
        for i in range(4):
            if bd.bool():
                h.mode_lf_deltas[i] = bd.signed(6)
    h.n_parts = 1 << bd.literal(2)
    h.q_index = bd.literal(7)
    # y1dc, y2dc, y2ac, uvdc, uvac
    h.q_deltas = [bd.signed(4) if bd.bool() else 0 for _ in range(5)]


def _read_coeff_probs(bd: _BoolDec, h: _FrameHeader):
    """Coefficient-probability updates and the skip flag."""
    probs = [[[list(DEFAULT_COEFF_PROBS[t][b][c]) for c in range(3)]
              for b in range(8)] for t in range(4)]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for k in range(11):
                    if bd.bool(COEFF_UPDATE_PROBS[t][b][c][k]):
                        probs[t][b][c][k] = bd.literal(8)
    h.coeff_probs = probs
    h.skip_enabled = bd.bool()
    h.skip_prob = bd.literal(8) if h.skip_enabled else 0


def _parse_headers(data: bytes):
    if len(data) < 10:
        raise ValueError("short VP8 payload")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("VP8 interframe where a key frame is due "
                         "(a still is one key frame; "
                         "vp8inter.VP8Decoder decodes frame chains)")
    part1_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    horiz = data[6] | (data[7] << 8)
    vert = data[8] | (data[9] << 8)
    h = _FrameHeader()
    h.width = horiz & 0x3FFF
    h.height = vert & 0x3FFF
    if h.width == 0 or h.height == 0:
        raise ValueError("zero VP8 dimensions")
    check_dims(h.width, h.height)
    h.mb_w = (h.width + 15) >> 4
    h.mb_h = (h.height + 15) >> 4
    h.part1_off = 10
    h.part1_size = part1_size
    if h.part1_off + part1_size > len(data):
        raise ValueError("VP8 first partition overruns payload")
    bd = _BoolDec(data, h.part1_off, h.part1_off + part1_size)
    bd.bool()  # color space (0 = YCbCr per spec)
    bd.bool()  # clamping type
    _read_segment_filter_quant(bd, h)
    bd.bool()  # refresh_entropy_probs (stateless still-image decode)
    _read_coeff_probs(bd, h)
    return h, bd


def _token_partitions(data: bytes, h: _FrameHeader):
    """Slice the DCT token partitions following the first partition."""
    off = h.part1_off + h.part1_size
    n = h.n_parts
    sizes = []
    if n > 1:
        need = 3 * (n - 1)
        if off + need > len(data):
            raise ValueError("VP8 partition size table overruns payload")
        for i in range(n - 1):
            sizes.append(data[off] | (data[off + 1] << 8)
                         | (data[off + 2] << 16))
            off += 3
    parts = []
    for i in range(n - 1):
        if off + sizes[i] > len(data):
            raise ValueError("VP8 token partition overruns payload")
        parts.append(_BoolDec(data, off, off + sizes[i]))
        off += sizes[i]
    parts.append(_BoolDec(data, off, len(data)))
    return parts


# ------------------------------------------------------ token coding


def _read_block(bd, probs, first, ctx):
    """Decode one 4x4 block's quantized coefficients (natural order,
    not yet dequantized) -> (int list[16], had_nonzero). ``probs`` =
    coeff_probs[plane_type]; ``ctx`` = above_nz + left_nz."""
    out = [0] * 16
    nz = False
    i = first
    prev_zero = False
    while i < 16:
        p = probs[COEFF_BANDS[i]][ctx]
        if not prev_zero:
            if not bd.bool(p[0]):
                break  # EOB
        if not bd.bool(p[1]):
            ctx = 0
            prev_zero = True
            i += 1
            continue
        prev_zero = False
        if not bd.bool(p[2]):
            val = 1
            ctx = 1
        else:
            ctx = 2
            if not bd.bool(p[3]):
                if not bd.bool(p[4]):
                    val = 2
                else:
                    val = 3 if not bd.bool(p[5]) else 4
            else:
                if not bd.bool(p[6]):
                    cat = TOK_CAT1 if not bd.bool(p[7]) else TOK_CAT2
                else:
                    if not bd.bool(p[8]):
                        cat = TOK_CAT3 if not bd.bool(p[9]) else TOK_CAT4
                    else:
                        cat = TOK_CAT5 if not bd.bool(p[10]) else TOK_CAT6
                val = CAT_BASE[cat]
                extra = 0
                for cp in CAT_PROBS[cat]:
                    extra = (extra << 1) | bd.bool(cp)
                val += extra
        if bd.bool(128):  # sign
            val = -val
        out[ZIGZAG[i]] = val
        nz = True
        i += 1
    return out, nz


# token values and their category split, for the encoder
def _token_for(val: int):
    """abs value -> (leaf token, extra bits, n extra bits)."""
    a = abs(val)
    if a <= 4:
        return (TOK_ZERO, TOK_ONE, TOK_TWO, TOK_THREE, TOK_FOUR)[a], 0, 0
    for cat in (TOK_CAT1, TOK_CAT2, TOK_CAT3, TOK_CAT4, TOK_CAT5, TOK_CAT6):
        nb = len(CAT_PROBS[cat])
        base = CAT_BASE[cat]
        if a < base + (1 << nb):
            return cat, a - base, nb
    raise ValueError(f"coefficient {val} exceeds VP8 token range")


def _write_block(be, probs, first, ctx, coeffs):
    """Encode one 4x4 block (natural-order quantized coeffs), the
    exact mirror of _read_block. Returns had_nonzero."""
    zz = [coeffs[ZIGZAG[i]] for i in range(first, 16)]
    last = -1
    for j, v in enumerate(zz):
        if v:
            last = j
    nz = last >= 0
    prev_zero = False
    i = first
    for j in range(last + 1):
        v = zz[j]
        p = probs[COEFF_BANDS[i]][ctx]
        if not prev_zero:
            be.put(1, p[0])  # not EOB
        if v == 0:
            be.put(0, p[1])
            ctx = 0
            prev_zero = True
            i += 1
            continue
        be.put(1, p[1])
        prev_zero = False
        tok, extra, nb = _token_for(v)
        if tok == TOK_ONE:
            be.put(0, p[2])
            ctx = 1
        else:
            be.put(1, p[2])
            ctx = 2
            if tok in (TOK_TWO, TOK_THREE, TOK_FOUR):
                be.put(0, p[3])
                if tok == TOK_TWO:
                    be.put(0, p[4])
                else:
                    be.put(1, p[4])
                    be.put(0 if tok == TOK_THREE else 1, p[5])
            else:
                be.put(1, p[3])
                if tok in (TOK_CAT1, TOK_CAT2):
                    be.put(0, p[6])
                    be.put(0 if tok == TOK_CAT1 else 1, p[7])
                else:
                    be.put(1, p[6])
                    if tok in (TOK_CAT3, TOK_CAT4):
                        be.put(0, p[8])
                        be.put(0 if tok == TOK_CAT3 else 1, p[9])
                    else:
                        be.put(1, p[8])
                        be.put(0 if tok == TOK_CAT5 else 1, p[10])
                cps = CAT_PROBS[tok]
                for k, cp in enumerate(cps):
                    be.put((extra >> (nb - 1 - k)) & 1, cp)
        be.put(1 if v < 0 else 0, 128)  # sign
        i += 1
    if last + 1 < 16 - first:
        # explicit EOB (never follows a zero token by construction:
        # `last` points at a nonzero, so prev token was nonzero)
        p = probs[COEFF_BANDS[i]][ctx]
        be.put(0, p[0])
    return nz


def _dequant(coeffs, qdc: int, qac: int) -> np.ndarray:
    out = np.zeros((4, 4), dtype=np.int32)
    for i in range(16):
        q = qdc if i == 0 else qac
        out[i >> 2][i & 3] = coeffs[i] * q
    return out


# --------------------------------------------------- macroblock modes


class _MBInfo:
    __slots__ = ("ymode", "uvmode", "bmodes", "segment", "skip",
                 "has_nonzero", "is_inter", "mv", "ref", "inter_mode")

    def __init__(self):
        self.ymode = DC_PRED
        self.uvmode = DC_PRED
        self.bmodes = None
        self.segment = 0
        self.skip = 0
        self.has_nonzero = False
        # interframe fields (vp8inter.py); keyframes leave defaults
        self.is_inter = False
        self.mv = (0, 0)
        self.ref = "last"
        self.inter_mode = None


def _read_modes(bd, h, mb_w, mb_h):
    """Keyframe mode parsing for all MBs (first partition)."""
    mbs = [[_MBInfo() for _ in range(mb_w)] for _ in range(mb_h)]
    above_b = [[B_DC] * 4 for _ in range(mb_w)]
    for my in range(mb_h):
        left_b = [B_DC] * 4
        for mx in range(mb_w):
            mb = mbs[my][mx]
            if h.segmentation and h.seg_map_update:
                mb.segment = bd.tree(SEGMENT_TREE, h.seg_tree_probs)
            if h.skip_enabled:
                mb.skip = bd.bool(h.skip_prob)
            mb.ymode = bd.tree(KF_YMODE_TREE, KF_YMODE_PROB)
            if mb.ymode == B_PRED:
                bm = [0] * 16
                for i in range(16):
                    r, c = i >> 2, i & 3
                    a = bm[i - 4] if r > 0 else above_b[mx][c]
                    l = bm[i - 1] if c > 0 else left_b[r]
                    bm[i] = bd.tree(BMODE_TREE, KF_BMODE_PROB[a][l])
                mb.bmodes = bm
                above_b[mx] = bm[12:16]
                left_b = [bm[3], bm[7], bm[11], bm[15]]
            else:
                b = _Y16_TO_B[mb.ymode]
                above_b[mx] = [b] * 4
                left_b = [b] * 4
            mb.uvmode = bd.tree(UV_MODE_TREE, KF_UV_MODE_PROB)
    return mbs


def _write_modes(be, h_skip_prob, mbs, mb_w, mb_h, skip_enabled,
                 seg_enabled=False):
    above_b = [[B_DC] * 4 for _ in range(mb_w)]
    for my in range(mb_h):
        left_b = [B_DC] * 4
        for mx in range(mb_w):
            mb = mbs[my][mx]
            if seg_enabled:
                be.tree(SEGMENT_TREE, (255, 255, 255), mb.segment)
            if skip_enabled:
                be.put(mb.skip, h_skip_prob)
            be.tree(KF_YMODE_TREE, KF_YMODE_PROB, mb.ymode)
            if mb.ymode == B_PRED:
                bm = mb.bmodes
                for i in range(16):
                    r, c = i >> 2, i & 3
                    a = bm[i - 4] if r > 0 else above_b[mx][c]
                    l = bm[i - 1] if c > 0 else left_b[r]
                    be.tree(BMODE_TREE, KF_BMODE_PROB[a][l], bm[i])
                above_b[mx] = bm[12:16]
                left_b = [bm[3], bm[7], bm[11], bm[15]]
            else:
                b = _Y16_TO_B[mb.ymode]
                above_b[mx] = [b] * 4
                left_b = [b] * 4
            be.tree(UV_MODE_TREE, KF_UV_MODE_PROB, mb.uvmode)


# -------------------------------------------------- reconstruction core


class _NzCtx:
    """Above/left nonzero-coefficient context (RFC 6386 section 13.4):
    per plane, per 4-pixel column/row. y2 persists across MBs that
    have no Y2 block."""

    def __init__(self, mb_w: int):
        self.above_y = [[False] * 4 for _ in range(mb_w)]
        self.above_u = [[False] * 2 for _ in range(mb_w)]
        self.above_v = [[False] * 2 for _ in range(mb_w)]
        self.above_y2 = [False] * mb_w

    def start_row(self):
        self.left_y = [False] * 4
        self.left_u = [False] * 2
        self.left_v = [False] * 2
        self.left_y2 = False


def _mb_coeffs(bd, h, q, ctx, mx, has_y2):
    """Decode the 24/25 blocks of one MB -> (y_resid 16x16 int32,
    u_resid 8x8, v_resid 8x8, any_nonzero). Updates nz context."""
    any_nz = False
    y_res = np.zeros((16, 16), dtype=np.int32)
    u_res = np.zeros((8, 8), dtype=np.int32)
    v_res = np.zeros((8, 8), dtype=np.int32)
    probs = h.coeff_probs
    dcs = None
    if has_y2:
        c = (1 if ctx.above_y2[mx] else 0) + (1 if ctx.left_y2 else 0)
        coeffs, nz = _read_block(bd, probs[1], 0, c)
        ctx.above_y2[mx] = ctx.left_y2 = nz
        any_nz |= nz
        dcs = iwalsh4x4(_dequant(coeffs, q.y2dc, q.y2ac))
        first, ptype = 1, 0
    else:
        first, ptype = 0, 3
    for i in range(16):
        r, c4 = i >> 2, i & 3
        c = ((1 if ctx.above_y[mx][c4] else 0)
             + (1 if ctx.left_y[r] else 0))
        coeffs, nz = _read_block(bd, probs[ptype], first, c)
        dq = _dequant(coeffs, q.y1dc, q.y1ac)
        if has_y2:
            dq[0][0] = int(dcs[r][c4])
        nz_eff = nz or (has_y2 and dq[0][0] != 0)
        ctx.above_y[mx][c4] = ctx.left_y[r] = nz
        any_nz |= nz_eff
        y_res[r * 4:r * 4 + 4, c4 * 4:c4 * 4 + 4] = idct4x4(dq)
    for plane, res, anz, lnz in ((0, u_res, ctx.above_u, ctx.left_u),
                                 (1, v_res, ctx.above_v, ctx.left_v)):
        for i in range(4):
            r, c2 = i >> 1, i & 1
            c = (1 if anz[mx][c2] else 0) + (1 if lnz[r] else 0)
            coeffs, nz = _read_block(bd, probs[2], 0, c)
            anz[mx][c2] = lnz[r] = nz
            any_nz |= nz
            res[r * 4:r * 4 + 4, c2 * 4:c2 * 4 + 4] = idct4x4(
                _dequant(coeffs, q.uvdc, q.uvac))
    return y_res, u_res, v_res, any_nz


def _mb_skip_ctx(ctx, mx, has_y2):
    """Zero the nonzero contexts for a skipped MB (it carries no
    coefficients); y2 context only when this MB type has a Y2 block.
    """
    ctx.above_y[mx] = [False] * 4
    ctx.left_y = [False] * 4
    ctx.above_u[mx] = [False] * 2
    ctx.left_u = [False] * 2
    ctx.above_v[mx] = [False] * 2
    ctx.left_v = [False] * 2
    if has_y2:
        ctx.above_y2[mx] = False
        ctx.left_y2 = False


def _pred_mb(mode, plane, mx, my, n: int) -> np.ndarray:
    """Whole-MB intra prediction (16x16 luma or 8x8 chroma, ``n``)
    of MB (mx, my) from ``plane``'s reconstructed neighbours."""
    x0, y0 = mx * n, my * n
    above = plane[y0 - 1, x0:x0 + n] if my > 0 else None
    left = plane[y0:y0 + n, x0 - 1] if mx > 0 else None
    aleft = plane[y0 - 1, x0 - 1] if (mx > 0 and my > 0) else None
    return _pred16(mode, above, left, aleft, n)


def _pred_sub(plane, mode, i, mx, my, mb_w) -> np.ndarray:
    """B_PRED prediction of luma subblock ``i`` of MB (mx, my) with
    the RFC edge conventions (127 above / 129 left)."""
    x0, y0 = mx * 16, my * 16
    r, c = i >> 2, i & 3
    bx, by = x0 + c * 4, y0 + r * 4
    left_ok = bx > 0 or mx > 0
    if r == 0 and my == 0:
        a = np.full(4, 127, np.int32)
        ar = np.full(4, 127, np.int32)
        al = 127
    else:
        a = plane[by - 1, bx:bx + 4].copy()
        # above-right: real pixels when available; for the MB's
        # right column below the first subblock row, VP8 reuses
        # the pixel row above the MB (RFC 6386 section 12.3)
        if c < 3:
            ar = plane[by - 1, bx + 4:bx + 8].copy()
        elif my == 0:
            ar = np.full(4, 127, np.int32)
        elif mx == mb_w - 1:
            ar = np.full(4, int(plane[y0 - 1, x0 + 15]), np.int32)
        else:
            ar = plane[y0 - 1, x0 + 16:x0 + 20].copy()
        al = int(plane[by - 1, bx - 1]) if left_ok else 129
    if left_ok:
        ll = plane[by:by + 4, bx - 1].copy()
    else:
        ll = np.full(4, 129, np.int32)
    return _pred4(mode, a, al, ll, ar)


def _predict_luma(mb, plane, mx, my, mb_w, y_res):
    """Reconstruct one intra MB's luma into ``plane`` (padded frame
    plane, int32) given its residual: 16x16 modes or B_PRED."""
    x0, y0 = mx * 16, my * 16
    if mb.ymode != B_PRED:
        plane[y0:y0 + 16, x0:x0 + 16] = np.clip(
            _pred_mb(mb.ymode, plane, mx, my, 16) + y_res, 0, 255)
        return
    for i in range(16):
        by, bx = y0 + (i >> 2) * 4, x0 + (i & 3) * 4
        pred = _pred_sub(plane, mb.bmodes[i], i, mx, my, mb_w)
        plane[by:by + 4, bx:bx + 4] = np.clip(
            pred + y_res[by - y0:by - y0 + 4, bx - x0:bx - x0 + 4],
            0, 255)


def _predict_chroma(mode, plane, mx, my, res):
    x0, y0 = mx * 8, my * 8
    plane[y0:y0 + 8, x0:x0 + 8] = np.clip(
        _pred_mb(mode, plane, mx, my, 8) + res, 0, 255)


# ----------------------------------------------------------- loop filter


def _s2u(x: np.ndarray) -> np.ndarray:
    return x.astype(np.int32) - 128


def _u2s(x: np.ndarray) -> np.ndarray:
    return np.clip(x + 128, 0, 255)


def _c127(x: np.ndarray) -> np.ndarray:
    return np.clip(x, -128, 127)


def _filter_common(p1, p0, q0, q1, use_outer):
    """RFC 6386 section 15.1 common 4-tap adjustment on signed
    values; returns (new_p0, new_q0, a) with a = the pre-shift
    adjustment used by the subblock filter's outer-tap step."""
    a = _c127((_c127(p1 - q1) if use_outer else 0) + 3 * (q0 - p0))
    f1 = _c127(a + 4) >> 3
    f2 = _c127(a + 3) >> 3
    return _c127(p0 + f2), _c127(q0 - f1), f1


def _loop_filter_edge(plane, axis, pos, e_limit, i_limit, hev_t,
                      mb_edge):
    """Filter one 8-pixel-deep edge across a full row/column band of
    ``plane`` (int32). ``axis`` 0 = horizontal edge at row ``pos``
    (filters vertically), 1 = vertical edge at column ``pos``."""
    if axis == 0:
        g = lambda k: plane[pos + k, :]
        s = lambda k, v: plane.__setitem__((pos + k, slice(None)), v)
    else:
        g = lambda k: plane[:, pos + k]
        s = lambda k, v: plane.__setitem__((slice(None), pos + k), v)
    p3, p2, p1, p0 = (_s2u(g(-4)), _s2u(g(-3)), _s2u(g(-2)), _s2u(g(-1)))
    q0, q1, q2, q3 = (_s2u(g(0)), _s2u(g(1)), _s2u(g(2)), _s2u(g(3)))
    mask = ((np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= e_limit)
            & (np.abs(p3 - p2) <= i_limit) & (np.abs(p2 - p1) <= i_limit)
            & (np.abs(p1 - p0) <= i_limit) & (np.abs(q1 - q0) <= i_limit)
            & (np.abs(q2 - q1) <= i_limit) & (np.abs(q3 - q2) <= i_limit))
    hev = (np.abs(p1 - p0) > hev_t) | (np.abs(q1 - q0) > hev_t)
    if mb_edge:
        # normal MB filter: 6-tap where not hev, common where hev
        np0, nq0, _ = _filter_common(p1, p0, q0, q1, True)
        w = _c127(_c127(p1 - q1) + 3 * (q0 - p0))
        a27 = _c127((27 * w + 63) >> 7)
        a18 = _c127((18 * w + 63) >> 7)
        a9 = _c127((9 * w + 63) >> 7)
        fp0 = np.where(hev, np0, _c127(p0 + a27))
        fq0 = np.where(hev, nq0, _c127(q0 - a27))
        fp1 = np.where(hev, p1, _c127(p1 + a18))
        fq1 = np.where(hev, q1, _c127(q1 - a18))
        fp2 = np.where(hev, p2, _c127(p2 + a9))
        fq2 = np.where(hev, q2, _c127(q2 - a9))
        for k, v, o in ((-3, fp2, p2), (-2, fp1, p1), (-1, fp0, p0),
                        (0, fq0, q0), (1, fq1, q1), (2, fq2, q2)):
            s(k, _u2s(np.where(mask, v, o)))
    else:
        # subblock filter: common adjust (outer taps only on hev),
        # then half-step on p1/q1 where not hev
        np0, nq0, f1 = _filter_common(p1, p0, q0, q1, False)
        hp0, hq0, _ = _filter_common(p1, p0, q0, q1, True)
        fp0 = np.where(hev, hp0, np0)
        fq0 = np.where(hev, hq0, nq0)
        a = (f1 + 1) >> 1
        fp1 = np.where(hev, p1, _c127(p1 + a))
        fq1 = np.where(hev, q1, _c127(q1 - a))
        for k, v, o in ((-2, fp1, p1), (-1, fp0, p0),
                        (0, fq0, q0), (1, fq1, q1)):
            s(k, _u2s(np.where(mask, v, o)))


def _simple_filter_edge(plane, axis, pos, e_limit):
    if axis == 0:
        g = lambda k: plane[pos + k, :]
        s = lambda k, v: plane.__setitem__((pos + k, slice(None)), v)
    else:
        g = lambda k: plane[:, pos + k]
        s = lambda k, v: plane.__setitem__((slice(None), pos + k), v)
    p1, p0, q0, q1 = _s2u(g(-2)), _s2u(g(-1)), _s2u(g(0)), _s2u(g(1))
    mask = np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= e_limit
    np0, nq0, _ = _filter_common(p1, p0, q0, q1, True)
    s(-1, _u2s(np.where(mask, np0, p0)))
    s(0, _u2s(np.where(mask, nq0, q0)))


def _mb_filter_params(h, level: int):
    """Per-MB (already delta-adjusted) level -> (interior, hev,
    mb_edge_limit, sub_edge_limit) per RFC 6386 section 15.2."""
    interior = level
    if h.sharpness:
        interior >>= 2 if h.sharpness > 4 else 1
        interior = min(interior, 9 - h.sharpness)
    interior = max(interior, 1)
    hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)  # keyframe
    mb_e = ((level + 2) * 2) + interior
    sub_e = (level * 2) + interior
    return interior, hev_t, mb_e, sub_e


def _apply_loop_filter(h, mbs, yp, up, vp, mb_w, mb_h):
    if h.filter_level == 0:
        return
    for my in range(mb_h):
        for mx in range(mb_w):
            mb = mbs[my][mx]
            level = h.filter_level
            if h.segmentation:
                level = (h.seg_lf[mb.segment] if h.seg_abs
                         else level + h.seg_lf[mb.segment])
            if h.lf_delta:
                level += h.ref_lf_deltas[0]  # intra frame
                if mb.ymode == B_PRED:
                    level += h.mode_lf_deltas[0]
            level = max(0, min(63, level))
            if level == 0:
                continue
            interior, hev_t, mb_e, sub_e = _mb_filter_params(h, level)
            inner = mb.has_nonzero or mb.ymode == B_PRED
            ys = yp[my * 16:my * 16 + 16, :]
            us = up[my * 8:my * 8 + 8, :]
            vs = vp[my * 8:my * 8 + 8, :]
            if h.filter_type:  # simple: luma only
                if mx > 0:
                    _simple_filter_edge(ys, 1, mx * 16, mb_e)
                if inner:
                    for c in (4, 8, 12):
                        _simple_filter_edge(ys, 1, mx * 16 + c, sub_e)
                if my > 0:
                    _simple_filter_edge(yp[:, mx * 16:mx * 16 + 16],
                                        0, my * 16, mb_e)
                if inner:
                    for r in (4, 8, 12):
                        _simple_filter_edge(yp[:, mx * 16:mx * 16 + 16],
                                            0, my * 16 + r, sub_e)
                continue
            if mx > 0:
                _loop_filter_edge(ys, 1, mx * 16, mb_e, interior,
                                  hev_t, True)
                _loop_filter_edge(us, 1, mx * 8, mb_e, interior,
                                  hev_t, True)
                _loop_filter_edge(vs, 1, mx * 8, mb_e, interior,
                                  hev_t, True)
            if inner:
                for c in (4, 8, 12):
                    _loop_filter_edge(ys, 1, mx * 16 + c, sub_e,
                                      interior, hev_t, False)
                _loop_filter_edge(us, 1, mx * 8 + 4, sub_e, interior,
                                  hev_t, False)
                _loop_filter_edge(vs, 1, mx * 8 + 4, sub_e, interior,
                                  hev_t, False)
            ycol = yp[:, mx * 16:mx * 16 + 16]
            ucol = up[:, mx * 8:mx * 8 + 8]
            vcol = vp[:, mx * 8:mx * 8 + 8]
            if my > 0:
                _loop_filter_edge(ycol, 0, my * 16, mb_e, interior,
                                  hev_t, True)
                _loop_filter_edge(ucol, 0, my * 8, mb_e, interior,
                                  hev_t, True)
                _loop_filter_edge(vcol, 0, my * 8, mb_e, interior,
                                  hev_t, True)
            if inner:
                for r in (4, 8, 12):
                    _loop_filter_edge(ycol, 0, my * 16 + r, sub_e,
                                      interior, hev_t, False)
                _loop_filter_edge(ucol, 0, my * 8 + 4, sub_e, interior,
                                  hev_t, False)
                _loop_filter_edge(vcol, 0, my * 8 + 4, sub_e, interior,
                                  hev_t, False)


# ------------------------------------------------ motion compensation

# 8-phase six-tap subpixel filters (RFC 6386 section 14.1)
SIXTAP = (
    (0, 0, 128, 0, 0, 0),
    (0, -6, 123, 12, -1, 0),
    (2, -11, 108, 36, -8, 1),
    (0, -9, 93, 50, -6, 0),
    (3, -16, 77, 77, -16, 3),
    (0, -6, 50, 93, -9, 0),
    (1, -8, 36, 108, -11, 2),
    (0, -1, 12, 123, -6, 0),
)

_BORDER = 32          # reference-plane edge extension (pixels)


def _extend(plane: np.ndarray) -> np.ndarray:
    """Edge-replicate by _BORDER on all sides (int32)."""
    return np.pad(plane, _BORDER, mode="edge").astype(np.int32)


def _mc_block(ext: np.ndarray, y0: int, x0: int, bh: int, bw: int,
              mvy: int, mvx: int) -> np.ndarray:
    """Six-tap motion-compensated (bh, bw) block from the extended
    plane. ``y0``/``x0`` are unextended coordinates; MVs eighth-pel.
    Two-pass filter with intermediate clamping; phase 0 short-cuts
    to a copy."""
    fy, fx = mvy & 7, mvx & 7
    iy = y0 + (mvy >> 3) + _BORDER
    ix = x0 + (mvx >> 3) + _BORDER
    # clamp the access window into the extended plane (a wild NEWMV
    # stays defined: the border replicates, like the reference's
    # extended frame buffers)
    h_ext, w_ext = ext.shape
    iy = min(max(iy, 2), h_ext - bh - 3)
    ix = min(max(ix, 2), w_ext - bw - 3)
    if fx == 0 and fy == 0:
        return ext[iy:iy + bh, ix:ix + bw].copy()
    rows = bh + (5 if fy else 0)
    ry0 = iy - (2 if fy else 0)
    if fx:
        t = SIXTAP[fx]
        src = ext[ry0:ry0 + rows, ix - 2:ix + bw + 3]
        acc = np.zeros((rows, bw), dtype=np.int32)
        for k in range(6):
            if t[k]:
                acc += t[k] * src[:, k:k + bw]
        tmp = np.clip((acc + 64) >> 7, 0, 255)
    else:
        tmp = ext[ry0:ry0 + rows, ix:ix + bw]
    if fy:
        t = SIXTAP[fy]
        acc = np.zeros((bh, bw), dtype=np.int32)
        for k in range(6):
            if t[k]:
                acc += t[k] * tmp[k:k + bh, :]
        return np.clip((acc + 64) >> 7, 0, 255)
    return tmp.astype(np.int32)


def _chroma_mv(mv: tuple[int, int]) -> tuple[int, int]:
    """Luma MV -> chroma MV at half resolution (truncate toward zero
    — documented stand-in convention; fixtures use even-full-pel MVs
    where all conventions coincide)."""
    def half(c):
        return -((-c) // 2) if c < 0 else c // 2
    return half(mv[0]), half(mv[1])


# ------------------------------------------------------------- decode


def _frame_quants(h) -> list:
    """One _Quant per segment (all four equal without segmentation)."""
    quants = []
    for seg in range(4):
        qi = ((h.seg_qi[seg] if h.seg_abs
               else h.q_index + h.seg_qi[seg])
              if h.segmentation else h.q_index)
        quants.append(_Quant(_clamp_qi(qi), *h.q_deltas))
    return quants


def _reconstruct(h, mbs, data: bytes, refs=None):
    """The macroblock loop of every VP8 frame: per-segment quantizers,
    skip or coefficient read, intra prediction or motion compensation
    from ``refs`` (reference name -> MB-aligned (y, u, v) planes), then
    the loop filter. A key frame is a frame whose MBs are all intra.
    Returns the MB-aligned (yp, up, vp) int32 planes."""
    parts = _token_partitions(data, h)
    quants = _frame_quants(h)
    mb_w, mb_h = h.mb_w, h.mb_h
    yp = np.zeros((mb_h * 16, mb_w * 16), dtype=np.int32)
    up = np.zeros((mb_h * 8, mb_w * 8), dtype=np.int32)
    vp = np.zeros((mb_h * 8, mb_w * 8), dtype=np.int32)
    ext = {}                    # reference name -> extended planes
    ctx = _NzCtx(mb_w)
    for my in range(mb_h):
        ctx.start_row()
        bd_t = parts[my % len(parts)]
        for mx in range(mb_w):
            mb = mbs[my][mx]
            has_y2 = mb.is_inter or mb.ymode != B_PRED
            if mb.skip:
                y_res = np.zeros((16, 16), dtype=np.int32)
                u_res = v_res = np.zeros((8, 8), dtype=np.int32)
                _mb_skip_ctx(ctx, mx, has_y2)
                mb.has_nonzero = False
            else:
                y_res, u_res, v_res, mb.has_nonzero = _mb_coeffs(
                    bd_t, h, quants[mb.segment], ctx, mx, has_y2)
            if not mb.is_inter:
                _predict_luma(mb, yp, mx, my, mb_w, y_res)
                _predict_chroma(mb.uvmode, up, mx, my, u_res)
                _predict_chroma(mb.uvmode, vp, mx, my, v_res)
                continue
            if mb.ref not in ext:
                ext[mb.ref] = tuple(_extend(p) for p in refs[mb.ref])
            ey, eu, ev = ext[mb.ref]
            pred = _mc_block(ey, my * 16, mx * 16, 16, 16, *mb.mv)
            yp[my * 16:my * 16 + 16, mx * 16:mx * 16 + 16] = np.clip(
                pred + y_res, 0, 255)
            cmv = _chroma_mv(mb.mv)
            for eplane, out, res in ((eu, up, u_res), (ev, vp, v_res)):
                pred = _mc_block(eplane, my * 8, mx * 8, 8, 8, *cmv)
                out[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = np.clip(
                    pred + res, 0, 255)
    _apply_loop_filter(h, mbs, yp, up, vp, mb_w, mb_h)
    return yp, up, vp


def _crop(planes, w: int, hh: int):
    """MB-aligned planes -> uint8 (y, u, v) of the frame size (u/v at
    half resolution, ceil-divided)."""
    yp, up, vp = planes
    cw, ch = (w + 1) // 2, (hh + 1) // 2
    return (yp[:hh, :w].astype(np.uint8), up[:ch, :cw].astype(np.uint8),
            vp[:ch, :cw].astype(np.uint8))


def _keyframe(data: bytes):
    """Key-frame header and mode records -> (header, MB grid)."""
    h, bd = _parse_headers(data)
    if h.mb_w * h.mb_h > 1 << 16:
        raise ValueError("VP8 frame too large for the fixture tier")
    return h, _read_modes(bd, h, h.mb_w, h.mb_h)


def decode_vp8_yuv(data: bytes):
    """Decode a VP8 keyframe -> (y, u, v, width, height); planes are
    uint8 numpy arrays cropped to the frame size (u/v at half
    resolution, ceil-divided)."""
    h, mbs = _keyframe(data)
    y, u, v = _crop(_reconstruct(h, mbs, data), h.width, h.height)
    return y, u, v, h.width, h.height


def yuv_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Integer BT.601 studio-swing YUV -> RGB, floor shifts (the
    module's documented conversion; the DuckDB oracle reproduces it
    with FLOOR(x/256)). ``u``/``v`` are half-resolution and upsampled
    by 2x2 nearest neighbour."""
    hh, w = y.shape
    uf = np.repeat(np.repeat(u, 2, axis=0), 2, axis=1)[:hh, :w]
    vf = np.repeat(np.repeat(v, 2, axis=0), 2, axis=1)[:hh, :w]
    c = y.astype(np.int32) - 16
    d = uf.astype(np.int32) - 128
    e = vf.astype(np.int32) - 128
    r = (298 * c + 409 * e + 128) >> 8
    g = (298 * c - 100 * d - 208 * e + 128) >> 8
    b = (298 * c + 516 * d + 128) >> 8
    out = np.stack([r, g, b], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)


def rgb_to_yuv420(img: np.ndarray):
    """Inverse pairing of :func:`yuv_to_rgb` (integer BT.601, 2x2
    mean chroma subsample). ``img`` is (h, w, 3+) uint8."""
    r = img[:, :, 0].astype(np.int32)
    g = img[:, :, 1].astype(np.int32)
    b = img[:, :, 2].astype(np.int32)
    y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    u = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    v = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    hh, w = r.shape
    ph, pw = (hh + 1) & ~1, (w + 1) & ~1
    def pad(p):
        out = np.zeros((ph, pw), dtype=np.int32)
        out[:hh, :w] = p
        if w < pw:
            out[:hh, w] = p[:, -1]
        if hh < ph:
            out[ph - 1, :] = out[hh - 1, :]
        return out
    u, v = pad(u), pad(v)
    us = (u[0::2, 0::2] + u[0::2, 1::2] + u[1::2, 0::2]
          + u[1::2, 1::2] + 2) >> 2
    vs = (v[0::2, 0::2] + v[0::2, 1::2] + v[1::2, 0::2]
          + v[1::2, 1::2] + 2) >> 2
    return (np.clip(y, 0, 255).astype(np.uint8),
            np.clip(us, 0, 255).astype(np.uint8),
            np.clip(vs, 0, 255).astype(np.uint8))


def yuv_to_rgba(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """:func:`yuv_to_rgb` with an opaque alpha channel."""
    out = np.empty((*y.shape, 4), dtype=np.uint8)
    out[:, :, :3] = yuv_to_rgb(y, u, v)
    out[:, :, 3] = 255
    return out


def decode_vp8(data: bytes) -> np.ndarray:
    """VP8 keyframe -> (h, w, 4) RGBA uint8 (opaque alpha)."""
    return yuv_to_rgba(*decode_vp8_yuv(data)[:3])


# ------------------------------------------------------------- encoder


def _choose_modes(mb_w, mb_h, plan: str):
    """Mode plan for the fixture encoder. ``dc``: everything DC_PRED
    (the exact-path requirement); ``rotate``: cycle 16x16 modes and
    chroma modes per MB; ``bpred``: every MB B_PRED cycling all ten
    submodes (exercises the 4x4 path + kf bmode contexts)."""
    mbs = [[_MBInfo() for _ in range(mb_w)] for _ in range(mb_h)]
    k = 0
    for my in range(mb_h):
        for mx in range(mb_w):
            mb = mbs[my][mx]
            if plan == "dc":
                mb.ymode = DC_PRED
                mb.uvmode = DC_PRED
            elif plan == "rotate":
                mb.ymode = (DC_PRED, V_PRED, H_PRED, TM_PRED)[k % 4]
                mb.uvmode = (DC_PRED, V_PRED, H_PRED, TM_PRED)[(k + 1) % 4]
            elif plan == "bpred":
                mb.ymode = B_PRED
                mb.bmodes = [(k + i) % 10 for i in range(16)]
                mb.uvmode = (DC_PRED, V_PRED, H_PRED, TM_PRED)[k % 4]
            else:
                raise ValueError(f"unknown mode plan {plan!r}")
            k += 1
    return mbs


def _qdiv(c: int, q: int) -> int:
    """Truncating quantizer step (rounds toward zero)."""
    return int(np.sign(c)) * (abs(c) // q)


def _code_block(blk, qdc: int, qac: int, exact: bool, what: str):
    """Quantize one 4x4 residual -> natural-order coeff list[16].
    ``exact`` codes a constant block so it reconstructs exactly."""
    if exact:
        r0 = int(blk[0, 0])
        if not np.all(blk == r0):
            raise ValueError(f"exact VP8 encode needs {what}")
        return [2 * r0] + [0] * 15
    co = fdct4x4(blk)
    return [_qdiv(int(co[i >> 2][i & 3]), qdc if i == 0 else qac)
            for i in range(16)]


def _code_luma16(src, pred, q, exact: bool):
    """Code a 16x16-predicted luma MB (Y2 + 16 AC blocks) -> (y2
    coeffs, subblock coeffs, reconstruction through the decoder's
    inverse path)."""
    resid = src - pred
    if exact:
        r0 = int(resid[0, 0])
        if not np.all(resid == r0):
            raise ValueError("exact VP8 encode needs per-MB-constant "
                             "luma")
        y2q = [8 * r0] + [0] * 15
        subq = [[0] * 16 for _ in range(16)]
    else:
        raw = [fdct4x4(resid[(i >> 2) * 4:(i >> 2) * 4 + 4,
                             (i & 3) * 4:(i & 3) * 4 + 4])
               for i in range(16)]
        dcs = np.array([co[0][0] for co in raw],
                       dtype=np.int32).reshape(4, 4)
        y2co = fwalsh4x4(dcs)
        y2q = [_qdiv(int(y2co[i >> 2][i & 3]), q.y2dc if i == 0
                     else q.y2ac) for i in range(16)]
        subq = [[0] + [_qdiv(int(co[i >> 2][i & 3]), q.y1ac)
                       for i in range(1, 16)] for co in raw]
    dcs_dq = iwalsh4x4(_dequant(y2q, q.y2dc, q.y2ac))
    y_res = np.zeros((16, 16), dtype=np.int32)
    for i in range(16):
        r4, c4 = i >> 2, i & 3
        dq = _dequant(subq[i], q.y1dc, q.y1ac)
        dq[0][0] = int(dcs_dq[r4][c4])
        y_res[r4 * 4:r4 * 4 + 4, c4 * 4:c4 * 4 + 4] = idct4x4(dq)
    return y2q, subq, np.clip(pred + y_res, 0, 255)


def _code_bpred(mb, src, recon, mx, my, mb_w, q, exact: bool):
    """B_PRED luma: predict, code and reconstruct each subblock in
    scan order (prediction depends on reconstruction)."""
    subq = []
    for i in range(16):
        by, bx = my * 16 + (i >> 2) * 4, mx * 16 + (i & 3) * 4
        pred = _pred_sub(recon, mb.bmodes[i], i, mx, my, mb_w)
        bq = _code_block(src[by:by + 4, bx:bx + 4] - pred, q.y1dc,
                         q.y1ac, exact, "per-subblock-constant luma")
        subq.append(bq)
        recon[by:by + 4, bx:bx + 4] = np.clip(
            pred + idct4x4(_dequant(bq, q.y1dc, q.y1ac)), 0, 255)
    return subq


def _code_chroma(src, pred, q, exact: bool):
    """Code one 8x8 chroma MB -> (4 coeff lists, reconstruction)."""
    resid = src - pred
    qs = []
    res = np.zeros((8, 8), dtype=np.int32)
    for i in range(4):
        r2, c2 = i >> 1, i & 1
        bq = _code_block(resid[r2 * 4:r2 * 4 + 4, c2 * 4:c2 * 4 + 4],
                         q.uvdc, q.uvac, exact, "per-MB-constant chroma")
        qs.append(bq)
        res[r2 * 4:r2 * 4 + 4, c2 * 4:c2 * 4 + 4] = idct4x4(
            _dequant(bq, q.uvdc, q.uvac))
    return qs, np.clip(pred + res, 0, 255)


def _pad_source(y, u, v, mb_w: int, mb_h: int):
    """Source planes -> MB-aligned int32 planes by edge replication."""
    out = []
    for src, n in ((y, 16), (u, 8), (v, 8)):
        sh, sw = src.shape
        dst = np.zeros((mb_h * n, mb_w * n), dtype=np.int32)
        dst[:sh, :sw] = src
        dst[:sh, sw:] = src[:, -1:]
        dst[sh:, :] = dst[sh - 1:sh, :]
        out.append(dst)
    return out


def _code_mb(mb, src, recon, mx, my, mb_w, q, exact=False, ext=None):
    """The encoder side of :func:`_reconstruct` for one MB: predict
    (intra, or motion-compensated from the extended reference planes
    ``ext``), code and reconstruct luma and chroma into ``recon``, and
    set the MB's skip flag. Returns its coefficient blocks."""
    (yp, up, vp), (ry, ru, rv) = src, recon
    x0, y0, cx0, cy0 = mx * 16, my * 16, mx * 8, my * 8
    blocks = {"y2": None}
    if mb.is_inter or mb.ymode != B_PRED:
        pred = (_mc_block(ext[0], y0, x0, 16, 16, *mb.mv) if mb.is_inter
                else _pred_mb(mb.ymode, ry, mx, my, 16))
        blocks["y2"], blocks["y"], ry[y0:y0 + 16, x0:x0 + 16] = \
            _code_luma16(yp[y0:y0 + 16, x0:x0 + 16], pred, q, exact)
    else:
        blocks["y"] = _code_bpred(mb, yp, ry, mx, my, mb_w, q, exact)
    cmv = _chroma_mv(mb.mv)
    for key, plane, rplane, k in (("u", up, ru, 1), ("v", vp, rv, 2)):
        pred = (_mc_block(ext[k], cy0, cx0, 8, 8, *cmv) if mb.is_inter
                else _pred_mb(mb.uvmode, rplane, mx, my, 8))
        blocks[key], rplane[cy0:cy0 + 8, cx0:cx0 + 8] = _code_chroma(
            plane[cy0:cy0 + 8, cx0:cx0 + 8], pred, q, exact)
    mb.skip = int(not any(any(b) for b in (
        *blocks["y"], *blocks["u"], *blocks["v"], blocks["y2"] or ())))
    mb.has_nonzero = not mb.skip
    return blocks


def _write_segment_filter_quant(be, seg_deltas, filter_type: int,
                                filter_level: int, sharpness: int,
                                partitions: int, qindex: int):
    """Mirror of :func:`_read_segment_filter_quant`: delta segment
    quantizers from ``seg_deltas`` (None: segmentation off), no
    loop-filter or quantizer deltas."""
    be.put(1 if seg_deltas else 0)  # segmentation_enabled
    if seg_deltas:
        be.put(1)  # update_mb_segmentation_map
        be.put(1)  # update_segment_feature_data
        be.put(0)  # delta (not absolute) quantizers
        for d in seg_deltas:
            if d:
                be.put(1)
                be.signed(d, 7)
            else:
                be.put(0)
        for _ in range(4):
            be.put(0)  # no per-segment loop-filter deltas
        for _ in range(3):
            be.put(0)  # segment tree probs stay at 255
    be.put(filter_type & 1)
    be.literal(filter_level, 6)
    be.literal(sharpness, 3)
    be.put(0)  # lf delta
    be.literal({1: 0, 2: 1, 4: 2, 8: 3}[partitions], 2)
    be.literal(qindex, 7)
    for _ in range(5):
        be.put(0)  # q deltas absent


def _write_coeff_probs(be, skip_prob: int):
    """Mirror of :func:`_read_coeff_probs`: no probability updates,
    skip flag on."""
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for k in range(11):
                    be.put(0, COEFF_UPDATE_PROBS[t][b][c][k])
    be.put(1)  # mb_no_coeff_skip
    be.literal(skip_prob, 8)


def _write_tokens(mbs, coeffs, mb_w: int, mb_h: int,
                  partitions: int) -> list:
    """Token partitions, the mirror of the decoder's contexts ->
    bytes per partition (MB rows round-robin)."""
    encs = [_BoolEnc() for _ in range(partitions)]
    probs = DEFAULT_COEFF_PROBS
    ctx = _NzCtx(mb_w)
    for my in range(mb_h):
        ctx.start_row()
        et = encs[my % partitions]
        for mx in range(mb_w):
            mb = mbs[my][mx]
            has_y2 = mb.is_inter or mb.ymode != B_PRED
            if mb.skip:
                _mb_skip_ctx(ctx, mx, has_y2)
                continue
            blocks = coeffs[my][mx]
            if has_y2:
                c = ((1 if ctx.above_y2[mx] else 0)
                     + (1 if ctx.left_y2 else 0))
                nz = _write_block(et, probs[1], 0, c, blocks["y2"])
                ctx.above_y2[mx] = ctx.left_y2 = nz
                first, ptype = 1, 0
            else:
                first, ptype = 0, 3
            for i in range(16):
                r4, c4 = i >> 2, i & 3
                c = ((1 if ctx.above_y[mx][c4] else 0)
                     + (1 if ctx.left_y[r4] else 0))
                nz = _write_block(et, probs[ptype], first, c,
                                  blocks["y"][i])
                ctx.above_y[mx][c4] = ctx.left_y[r4] = nz
            for key, anz, lnz in (("u", ctx.above_u, ctx.left_u),
                                  ("v", ctx.above_v, ctx.left_v)):
                for i in range(4):
                    r2, c2 = i >> 1, i & 1
                    c = ((1 if anz[mx][c2] else 0)
                         + (1 if lnz[r2] else 0))
                    nz = _write_block(et, probs[2], 0, c,
                                      blocks[key][i])
                    anz[mx][c2] = lnz[r2] = nz
    return [e.bytes() for e in encs]


def _finish_frame(part1: bytes, parts: list, mbs, recon, mb_w: int,
                  mb_h: int, filter_level: int, filter_type: int = 0,
                  sharpness: int = 0, size=None) -> bytes:
    """Run the decoder's loop filter over the encoder's ``recon``
    planes (in place) and assemble the frame: tag, then for a key
    frame (``size`` = (w, h)) the start code and dimensions, the first
    partition, the partition size table and the token partitions."""
    fh = _FrameHeader()
    fh.filter_type = filter_type & 1
    fh.filter_level = filter_level
    fh.sharpness = sharpness
    fh.segmentation = 0
    fh.lf_delta = 0
    _apply_loop_filter(fh, mbs, *recon, mb_w, mb_h)
    tag = (len(part1) << 5) | (1 << 4) | (0 if size else 1)  # shown
    out = bytearray((tag & 0xFFFFFF).to_bytes(3, "little"))
    if size:
        out += b"\x9d\x01\x2a"
        out += size[0].to_bytes(2, "little") + size[1].to_bytes(2, "little")
    out += part1
    for p in parts[:-1]:
        out += (len(p) & 0xFFFFFF).to_bytes(3, "little")
    for p in parts:
        out += p
    return bytes(out)


def encode_vp8_yuv(y, u, v, qindex: int = 0, plan: str = "dc",
                   exact: bool = False, filter_level: int = 0,
                   filter_type: int = 0, sharpness: int = 0,
                   partitions: int = 1, segments=None):
    """Encode YUV420 planes as a VP8 keyframe. Returns ``(payload,
    recon)`` where ``recon`` is the (y, u, v) tuple the decoder MUST
    reproduce bit-exactly (the encoder runs the shared reconstruction
    + loop filter itself).

    ``exact=True`` requires per-macroblock-constant planes, forces
    qindex 0 / plan "dc", and picks quantized coefficients so
    reconstruction equals the input exactly (see module docstring).

    ``segments``: optional tuple of up to 4 per-segment quantizer
    deltas — enables segmentation with an (mx + my) %% n checkerboard
    map (exercises the decoder's segment-tree and per-segment quant
    paths; incompatible with ``exact``).
    """
    y = np.asarray(y, dtype=np.int32)
    u = np.asarray(u, dtype=np.int32)
    v = np.asarray(v, dtype=np.int32)
    hh, w = y.shape
    if not (1 <= w <= 0x3FFF and 1 <= hh <= 0x3FFF):
        raise ValueError("VP8 dimensions out of range")
    if u.shape != ((hh + 1) // 2, (w + 1) // 2):
        raise ValueError("chroma plane shape mismatch")
    if exact:
        if segments:
            raise ValueError("exact encode is qindex-0 single-segment")
        qindex, plan = 0, "dc"
    if segments is not None and not (1 <= len(segments) <= 4):
        raise ValueError("segments takes 1-4 quantizer deltas")
    if partitions not in (1, 2, 4, 8):
        raise ValueError("partitions must be 1/2/4/8")
    mb_w = (w + 15) >> 4
    mb_h = (hh + 15) >> 4
    src = _pad_source(y, u, v, mb_w, mb_h)
    seg_deltas = list(segments or []) + [0] * (4 - len(segments or []))
    quants = [_Quant(_clamp_qi(qindex + d)) for d in seg_deltas]
    mbs = _choose_modes(mb_w, mb_h, plan)
    n_seg = len(segments) if segments else 0
    recon = [np.zeros_like(p) for p in src]
    coeffs = [[None] * mb_w for _ in range(mb_h)]
    for my in range(mb_h):
        for mx in range(mb_w):
            mb = mbs[my][mx]
            mb.segment = (mx + my) % n_seg if n_seg else 0
            coeffs[my][mx] = _code_mb(mb, src, recon, mx, my, mb_w,
                                      quants[mb.segment], exact)
    be = _BoolEnc()
    be.put(0)  # color space
    be.put(0)  # clamping
    _write_segment_filter_quant(be, seg_deltas if segments else None,
                                filter_type, filter_level, sharpness,
                                partitions, qindex)
    be.put(0)  # refresh entropy
    skip_prob = 128
    _write_coeff_probs(be, skip_prob)
    _write_modes(be, skip_prob, mbs, mb_w, mb_h, True,
                 seg_enabled=bool(segments))
    payload = _finish_frame(
        be.bytes(), _write_tokens(mbs, coeffs, mb_w, mb_h, partitions),
        mbs, recon, mb_w, mb_h, filter_level, filter_type, sharpness,
        size=(w, hh))
    return payload, _crop(recon, w, hh)


def webp_lossy_bytes(payload: bytes) -> bytes:
    """Wrap a raw VP8 frame in a RIFF/WEBP container."""
    chunk = b"VP8 " + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
            + b"WEBP" + chunk)


def webp_lossy_from_rgb(img: np.ndarray, qindex: int = 0,
                        plan: str = "dc", exact: bool = False,
                        filter_level: int = 0, filter_type: int = 0,
                        partitions: int = 1):
    """RGB(A) image -> (webp bytes, expected RGBA the decoder must
    produce). Conversion via the module's integer BT.601 pairing."""
    y, u, v = rgb_to_yuv420(img)
    payload, (ry, ru, rv) = encode_vp8_yuv(
        y, u, v, qindex=qindex, plan=plan, exact=exact,
        filter_level=filter_level, filter_type=filter_type,
        partitions=partitions)
    return webp_lossy_bytes(payload), yuv_to_rgba(ry, ru, rv)


def webp_lossy_rgba(img: np.ndarray, qindex: int = 0,
                    plan: str = "dc", exact: bool = False,
                    filter_level: int = 0,
                    alpha_compression: int = 1,
                    alpha_filter: int = 0):
    """RGBA image with a real alpha channel -> (extended VP8X WebP
    with an ALPH chunk + VP8 frame, expected RGBA). Alpha is
    lossless (raw or VP8L-green-channel per ``alpha_compression``);
    color goes through the VP8 path like webp_lossy_from_rgb."""
    from tika_spark.analysis.webp import alpha_chunk_bytes
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 4:
        raise ValueError("webp_lossy_rgba wants (h, w, 4) RGBA")
    hh, w = img.shape[:2]
    y, u, v = rgb_to_yuv420(img)
    payload, (ry, ru, rv) = encode_vp8_yuv(
        y, u, v, qindex=qindex, plan=plan, exact=exact,
        filter_level=filter_level)
    alpha = img[:, :, 3]
    alph = alpha_chunk_bytes(alpha, compression=alpha_compression,
                             filt=alpha_filter)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        out = fourcc + len(body).to_bytes(4, "little") + body
        return out + (b"\x00" if len(body) & 1 else b"")

    vp8x = bytes((0x10, 0, 0, 0)) \
        + (w - 1).to_bytes(3, "little") \
        + (hh - 1).to_bytes(3, "little")       # alpha flag set
    riff = (b"WEBP" + chunk(b"VP8X", vp8x) + chunk(b"ALPH", alph)
            + chunk(b"VP8 ", payload))
    raw = b"RIFF" + len(riff).to_bytes(4, "little") + riff
    rgb = yuv_to_rgb(ry, ru, rv)
    expect = np.empty((hh, w, 4), dtype=np.uint8)
    expect[:, :, :3] = rgb
    expect[:, :, 3] = alpha
    return raw, expect
