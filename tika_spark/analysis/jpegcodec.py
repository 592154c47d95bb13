"""Baseline + progressive JPEG codec, from scratch (pure Python +
numpy).

Decoder for baseline sequential (SOF0/1) AND progressive (SOF2) DCT
JPEG: marker parse, DQT / DHT / DRI / SOS, Huffman entropy decode
with 0xFF00 byte-stuffing and restart markers, and for progressive
the full ITU T.81 Annex G scan machinery — interleaved DC first /
refinement scans (point transform, two's-complement bit OR), per-
component spectral-selection AC scans with EOB-run decoding, and
successive-approximation AC refinement (correction bits with the
zero-history run semantics). Coefficients accumulate across scans
and reconstruct once at EOI: dequantize + dezigzag, batched matrix
IDCT, chroma upsampling by sample replication (or, opt-in, the
libjpeg triangular "fancy" convention — decode_jpeg(fancy_chroma=
True) — which matches libjpeg-derived decoders per-pixel within the
IDCT envelope; see tests/test_conformance_imageio.py), JFIF
YCbCr→RGB.
Arithmetic coding, hierarchical, lossless, and 12-bit precision
raise ValueError — callers surface a status row (the H1
fault-isolation contract).

Encoder for test fixtures and the multimodal oracle path: ITU T.81
Annex K quantization tables scaled by the usual 5000/q | 200-2q
quality formula, the Annex K "typical" Huffman tables, 4:4:4 or 4:2:0
subsampling, optional restart intervals, and ``progressive=True``
emitting a DC-first/DC-refine + per-component AC-first(Al=1)/
AC-refine(Al=0) scan script over the SAME quantized coefficients as
the baseline path — so baseline and progressive encodings of one
image decode bit-identically, and the solid-gray closed form below
holds for both. Integer round-half-away DC quantization keeps the
solid-gray reconstruction a CLOSED FORM the DuckDB oracle can
replay in SQL (see _q_media_pixel_stats): for a constant gray v at
quality 50 (Q_DC = 16), the decoded image is the constant
``128 + 2*round_half_away((v-128)/2)``.

Reference parity: the reference's jpeg handling is metadata-only
(tika-parsers image/ImageParser.java + JpegParser.java delegate pixel
work to ImageIO/metadata-extractor); the full decode tier here is the
training-data-pipeline extension (multimodal columns), not a port.
"""

from __future__ import annotations

import struct

import numpy as np

from tika_spark.analysis.bitio import canonical_codes

# ---------------------------------------------------------------- constants

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int32)

Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)

Q_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# Annex K "typical" Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]
AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]

# 8x8 DCT-II basis matrix: IDCT(X) = C.T @ X @ C (orthonormal form)
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * \
            (np.sqrt(0.125) if _k == 0 else 0.5)


def scale_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 50 → Annex K verbatim."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (table * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


# ------------------------------------------------------------------ decoder

class _Huff:
    """Canonical JPEG Huffman table → fast (length, code) lookup."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                self.lookup[(ln, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: "_BitReader") -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | br.bit()
            v = self.lookup.get((ln, code))
            if v is not None:
                return v
        raise ValueError("bad huffman code")


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    un-stuffing; stops cleanly at any non-stuffed marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy data")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) \
                    else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                else:
                    # a real marker inside the scan: missing data
                    raise ValueError("marker inside entropy data")
            self.buf = b
            self.n = 8
        self.n -= 1
        return (self.buf >> self.n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Byte-align and consume one RSTn marker; returns n (0-7)."""
        self.n = 0
        d = self.data
        p = self.pos
        while p + 1 < len(d) and not (d[p] == 0xFF
                                      and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        if p + 1 >= len(d):
            raise ValueError("missing restart marker")
        self.pos = p + 2
        return d[p + 1] - 0xD0


def _extend(v: int, n: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the n-bit magnitude to its signed
    value (leading 0 bit ⇒ negative branch)."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def decode_jpeg(data: bytes, fancy_chroma: bool = False) -> np.ndarray:
    """Baseline JPEG → uint8 array (h, w, channels); channels is 1
    for grayscale, 3 for YCbCr color. Raises ValueError on anything
    that is not a decodable baseline sequential JPEG.

    ``fancy_chroma`` selects triangular (libjpeg "fancy") chroma
    upsampling instead of the default box replication (libjpeg's
    ``-nosmooth`` convention the rest of the pipeline pins). Both are
    spec-conformant; fancy matches what libjpeg-derived decoders
    (incl. the JDK's) emit per-pixel (±IDCT envelope)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    restart = 0
    frame = None
    prog = None
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        seg = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 15
                i += 1
                if prec:
                    vals = np.frombuffer(seg[i:i + 128],
                                         dtype=">u2").astype(np.int32)
                    i += 128
                else:
                    vals = np.frombuffer(seg[i:i + 64],
                                         dtype=np.uint8).astype(np.int32)
                    i += 64
                if len(vals) != 64:
                    raise ValueError("short DQT")
                qt[tid] = vals
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                vals = list(seg[i + 17:i + 17 + n])
                if len(vals) != n:
                    raise ValueError("short DHT")
                (huff_dc if cls == 0 else huff_ac)[tid] = _Huff(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2
            if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
                raise ValueError("short SOF")
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential and "
                             "progressive JPEG supported")
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("short DRI")
            (restart,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if not seg or len(seg) < 4 + 2 * seg[0]:
                raise ValueError("short SOS header")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next((x for x in frame["comps"]
                             if x["id"] == cs), None)
                if comp is None:
                    raise ValueError(f"scan component {cs} not in SOF")
                scan.append((comp, tt >> 4, tt & 15))
            if not frame["progressive"]:
                return _decode_scan(data, pos + 2 + seglen, frame,
                                    scan, qt, huff_dc, huff_ac,
                                    restart, fancy_chroma)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            if prog is None:
                prog = _ProgState(frame)
            end = _decode_prog_scan(
                data, pos + 2 + seglen, frame, scan, prog,
                huff_dc, huff_ac, restart, ss, se,
                ahal >> 4, ahal & 15)
            pos = end
            continue
        pos += 2 + seglen
    if prog is not None:
        return _reconstruct_prog(frame, prog, qt, fancy_chroma)
    raise ValueError("no scan data")


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac,
                 restart, fancy_chroma: bool = False):
    h, w = frame["h"], frame["w"]
    from tika_spark.analysis.pixels import check_dims
    check_dims(w, h)   # decompression-bomb guard (shared MAX_PIXELS)
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
        raise ValueError("bad sampling factors")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    br = _BitReader(data, pos)

    # per-component coefficient planes (in MCU grid units)
    planes = []
    for comp, _, _ in scan:
        ph, pw = mcuy * comp["v"] * 8, mcux * comp["h"] * 8
        planes.append(np.zeros((ph // 8, pw // 8, 64), dtype=np.int32))

    pred = [0] * len(scan)
    mcu_index = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_index and mcu_index % restart == 0:
                n = br.align_to_marker()
                if n != ((mcu_index // restart - 1) & 7):
                    raise ValueError("restart marker out of sequence")
                pred = [0] * len(scan)
            for ci, (comp, td, ta) in enumerate(scan):
                dch = huff_dc.get(td)
                ach = huff_ac.get(ta)
                q = qt.get(comp["tq"])
                if dch is None or ach is None or q is None:
                    raise ValueError("missing table")
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        blk = np.zeros(64, dtype=np.int32)
                        t = dch.decode(br)
                        pred[ci] += _extend(br.receive(t), t)
                        blk[0] = pred[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = ach.decode(br)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            blk[k] = _extend(br.receive(s), s) * q[k]
                            k += 1
                        planes[ci][my * comp["v"] + by,
                                   mx * comp["h"] + bx] = blk
            mcu_index += 1

    return _reconstruct([c for c, _, _ in scan], planes,
                        hmax, vmax, h, w, fancy_chroma)


def _fancy2x(img: np.ndarray, axis: int) -> np.ndarray:
    """2x triangular upsample along one axis (libjpeg jdsample.c
    h2v1/h2v2 fancy weights: out[2i] = (3·a[i]+a[i-1])/4,
    out[2i+1] = (3·a[i]+a[i+1])/4, edges replicated)."""
    a = np.moveaxis(img, axis, 0)
    prev = np.concatenate([a[:1], a[:-1]], axis=0)
    nxt = np.concatenate([a[1:], a[-1:]], axis=0)
    out = np.empty((a.shape[0] * 2,) + a.shape[1:], dtype=a.dtype)
    out[0::2] = (3.0 * a + prev) * 0.25
    out[1::2] = (3.0 * a + nxt) * 0.25
    return np.moveaxis(out, 0, axis)


def _reconstruct(comps, planes_dequant, hmax, vmax, h, w,
                 fancy_chroma: bool = False):
    """Dequantized zigzag coefficient planes → decoded image:
    batched dezigzag + IDCT per component, replication upsample,
    JFIF YCbCr→RGB. Shared by the baseline and progressive paths."""
    out_ch = []
    for ci, comp in enumerate(comps):
        coeff = planes_dequant[ci]
        by, bx = coeff.shape[0], coeff.shape[1]
        dez = np.zeros((by, bx, 64))
        dez[:, :, ZIGZAG] = coeff
        blocks = dez.reshape(by, bx, 8, 8)
        # batched IDCT as two broadcast matmuls (C^T X C) — einsum's
        # per-call path planning dominated on small images
        spatial = _C.T @ blocks @ _C
        img = (spatial.transpose(0, 2, 1, 3)
               .reshape(by * 8, bx * 8)) + 128.0
        # upsample by replication to full MCU-grid resolution
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if (vmax % comp["v"]) or (hmax % comp["h"]):
            raise ValueError("non-integer sampling ratio")
        if fancy_chroma and ry == 2:
            img = _fancy2x(img, 0)
            ry = 1
        if fancy_chroma and rx == 2:
            img = _fancy2x(img, 1)
            rx = 1
        if ry > 1 or rx > 1:
            img = np.repeat(np.repeat(img, ry, axis=0), rx, axis=1)
        out_ch.append(img[:h, :w])

    if len(out_ch) == 1:
        y = np.clip(np.rint(out_ch[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    if len(out_ch) != 3:
        raise ValueError(f"unsupported component count {len(out_ch)}")
    y, cb, cr = out_ch[0], out_ch[1] - 128.0, out_ch[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


# ------------------------------------------------- progressive decode

class _ProgState:
    """Accumulated QUANTIZED coefficients (zigzag order) for every
    frame component, MCU-grid padded, plus per-scan EOB-run state."""

    def __init__(self, frame):
        comps = frame["comps"]
        self.hmax = max(c["h"] for c in comps)
        self.vmax = max(c["v"] for c in comps)
        h, w = frame["h"], frame["w"]
        from tika_spark.analysis.pixels import check_dims
        check_dims(w, h)
        self.mcux = -(-w // (8 * self.hmax))
        self.mcuy = -(-h // (8 * self.vmax))
        self.planes = {}
        self.nblocks = {}        # true (non-padded) block dims
        for c in comps:
            self.planes[c["id"]] = np.zeros(
                (self.mcuy * c["v"], self.mcux * c["h"], 64),
                dtype=np.int32)
            cw = -(-w * c["h"] // self.hmax)
            ch = -(-h * c["v"] // self.vmax)
            self.nblocks[c["id"]] = (-(-ch // 8), -(-cw // 8))


def _find_next_marker(data: bytes, p: int) -> int:
    """First position of a real (non-stuffed, non-RST) marker."""
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 \
                and not (0xD0 <= data[p + 1] <= 0xD7):
            return p
        p += 1
    return len(data)


def _refine_nonzero(br, block, k, se, p1, m1):
    """Correction-bit pass over already-nonzero coefficients in
    [k, se] — the EOB-run portion of an AC refinement scan."""
    while k <= se:
        if block[k]:
            if br.bit():
                if block[k] > 0 and not (block[k] & p1):
                    block[k] += p1
                elif block[k] < 0 and not (block[k] & p1):
                    block[k] += m1
        k += 1


def _decode_prog_scan(data, pos, frame, scan, prog, huff_dc,
                      huff_ac, restart, ss, se, ah, al):
    """One progressive scan (T.81 Annex G): mutates prog.planes,
    returns the stream position after the entropy data."""
    br = _BitReader(data, pos)
    dc_scan = ss == 0
    if dc_scan and se != 0:
        raise ValueError("DC scan must have Se=0")
    if not dc_scan and len(scan) != 1:
        raise ValueError("AC progressive scans are single-component")
    if not dc_scan and ss > se or se > 63:
        raise ValueError("bad spectral selection")

    state = {"eobrun": 0}
    pred = [0] * len(scan)

    def decode_dc_first(ci, block):
        td = scan[ci][1]
        dch = huff_dc.get(td)
        if dch is None:
            raise ValueError("missing table")
        t = dch.decode(br)
        pred[ci] += _extend(br.receive(t), t)
        block[0] = pred[ci] << al

    def decode_dc_refine(block):
        if br.bit():
            block[0] |= (1 << al)

    def decode_ac_first(block):
        ach = huff_ac.get(scan[0][2])
        if ach is None:
            raise ValueError("missing table")
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = ach.decode(br)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += br.receive(r)
                return
            k += r
            if k > se:
                raise ValueError("AC index overflow")
            block[k] = _extend(br.receive(s), s) << al
            k += 1

    def decode_ac_refine(block):
        ach = huff_ac.get(scan[0][2])
        if ach is None:
            raise ValueError("missing table")
        p1, m1 = 1 << al, -1 << al
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            _refine_nonzero(br, block, ss, se, p1, m1)
            return
        k = ss
        while k <= se:
            rs = ach.decode(br)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if r < 15:
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += br.receive(r)
                    _refine_nonzero(br, block, k, se, p1, m1)
                    return
                # r == 15: pass over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad refinement magnitude")
                newval = p1 if br.bit() else m1
            while k <= se:
                if block[k]:
                    if br.bit():
                        if block[k] > 0 and not (block[k] & p1):
                            block[k] += p1
                        elif block[k] < 0 and not (block[k] & p1):
                            block[k] += m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                block[k] = newval
            k += 1

    def unit(ci, block):
        if dc_scan:
            if ah == 0:
                decode_dc_first(ci, block)
            else:
                decode_dc_refine(block)
        else:
            if ah == 0:
                decode_ac_first(block)
            else:
                decode_ac_refine(block)

    interleaved = len(scan) > 1
    n_restart = 0

    def do_restart():
        nonlocal n_restart
        n = br.align_to_marker()
        if n != (n_restart & 7):
            raise ValueError("restart marker out of sequence")
        n_restart += 1
        pred[:] = [0] * len(scan)
        state["eobrun"] = 0

    if interleaved or dc_scan and len(scan) == len(frame["comps"]):
        # MCU order over all scan components (DC scans)
        unit_index = 0
        for my in range(prog.mcuy):
            for mx in range(prog.mcux):
                if restart and unit_index \
                        and unit_index % restart == 0:
                    do_restart()
                for ci, (comp, _, _) in enumerate(scan):
                    plane = prog.planes[comp["id"]]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            unit(ci, plane[my * comp["v"] + by,
                                           mx * comp["h"] + bx])
                unit_index += 1
    else:
        comp = scan[0][0]
        plane = prog.planes[comp["id"]]
        bh, bw2 = prog.nblocks[comp["id"]]
        unit_index = 0
        for by in range(bh):
            for bx in range(bw2):
                if restart and unit_index \
                        and unit_index % restart == 0:
                    do_restart()
                unit(0, plane[by, bx])
                unit_index += 1
    return _find_next_marker(data, br.pos)


def _reconstruct_prog(frame, prog, qt, fancy_chroma: bool = False):
    comps = frame["comps"]
    planes = []
    for comp in comps:
        q = qt.get(comp["tq"])
        if q is None:
            raise ValueError("missing quantization table")
        planes.append(prog.planes[comp["id"]] * q[None, None, :])
    return _reconstruct(comps, planes, prog.hmax, prog.vmax,
                        frame["h"], frame["w"], fancy_chroma)


# ------------------------------------------------------------------ encoder

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.n = 0

    def write(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.buf = (self.buf << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.buf)
                if self.buf == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.buf = 0
                self.n = 0

    def flush(self):
        while self.n:  # pad with 1-bits per T.81 F.1.2.3
            self.write(1, 1)

    def marker(self, m: int):
        self.flush()
        self.out += bytes((0xFF, m))


def _encode_tables(bits: list[int], vals: list[int]) -> dict[int, tuple]:
    """value → (code, length) for the encoder side."""
    lens = [ln for ln in range(1, 17) for _ in range(bits[ln - 1])]
    return canonical_codes(zip(vals, lens))


def _magnitude(v: int) -> tuple[int, int]:
    """(size, raw bits) for a signed coefficient per T.81 F.1.2.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    n = a.bit_length()
    return n, (v if v >= 0 else v + (1 << n) - 1)


def _quantize_dc(dc: int, q: int) -> int:
    """Integer round-half-away — the closed form the oracle replays."""
    return (dc + q // 2) // q if dc >= 0 else -((-dc + q // 2) // q)


def _quantize_block(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """8×8 spatial block (centered) → zigzag-ordered quantized
    coefficients; the one quantizer both entropy layouts share, so
    baseline and progressive encodings decode bit-identically."""
    coef = _C @ block @ _C.T
    dc = int(np.rint(coef[0, 0]))
    zz = np.rint(coef.reshape(64)
                 / q.astype(np.float64)).astype(np.int64)
    zz = zz[ZIGZAG]
    zz[0] = _quantize_dc(dc, int(q[0]))
    return zz


# ------------------------------------------------ progressive encode

# progressive AC scans need EOBn symbols (0x10..0xE0) that the Annex
# K sequential tables lack; ship one near-complete canonical table
# over all 256 run/size symbols (254 at 8 bits, 2 at 9 — Kraft < 1).
PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 254, 2, 0, 0, 0, 0, 0, 0, 0]
PROG_AC_VALS = list(range(256))


def _emit_refine_seg(bw, act, seg, flush_eob, run1_sign=None):
    """Emit one refinement segment: ``seg`` is the positional event
    list since the last code ('z' = zero-history slot, int = a
    pending correction bit), mirroring the decoder's advance order
    exactly (ZRL consumes 16 zero-history slots, correction bits
    ride along positionally)."""
    i = 0
    zeros = seg.count("z")
    while zeros > 15:
        flush_eob()
        code, ln = act[0xF0]
        bw.write(code, ln)
        zcnt = 0
        while i < len(seg):
            e = seg[i]
            i += 1
            if e == "z":
                zcnt += 1
                if zcnt == 16:
                    break
            else:
                bw.write(e, 1)
        zeros -= 16
    flush_eob()
    code, ln = act[(zeros << 4) | 1]
    bw.write(code, ln)
    bw.write(run1_sign, 1)
    for e in seg[i:]:
        if e != "z":
            bw.write(e, 1)


def _encode_prog_scans(out, bw_cls, zzs, samp, nc, mcux, mcuy,
                       nblocks, seg_writer):
    """Write the 2 + 2·nc progressive scans (DC first Al=1, DC
    refine, per-component AC first Al=1 then AC refine Al=0)."""
    dc_tab = [_encode_tables(DC_LUM_BITS, DC_LUM_VALS),
              _encode_tables(DC_CHR_BITS, DC_CHR_VALS)]
    act = _encode_tables(PROG_AC_BITS, PROG_AC_VALS)

    def sos(comps_td_ta, ss, se, ah, al):
        body = bytes([len(comps_td_ta)])
        for cid, td, ta in comps_td_ta:
            body += bytes((cid, (td << 4) | ta))
        body += bytes((ss, se, (ah << 4) | al))
        seg_writer(0xDA, body)

    # ---- scan 1: DC first, interleaved, Al=1
    sos([(ci + 1, 0 if ci == 0 else 1, 0) for ci in range(nc)],
        0, 0, 0, 1)
    bw = bw_cls()
    pred = [0] * nc
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(nc):
                sh, sv = samp[ci]
                tab = dc_tab[0 if ci == 0 else 1]
                for by in range(sv):
                    for bx in range(sh):
                        v = int(zzs[ci][my * sv + by,
                                        mx * sh + bx, 0]) >> 1
                        diff = v - pred[ci]
                        pred[ci] = v
                        s, bits_v = _magnitude(diff)
                        code, ln = tab[s]
                        bw.write(code, ln)
                        if s:
                            bw.write(bits_v, s)
    bw.flush()
    out.extend(bw.out)

    # ---- scan 2: DC refinement, Al=0 (raw bits, no Huffman)
    sos([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, 1, 0)
    bw = bw_cls()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(nc):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        bw.write(int(zzs[ci][my * sv + by,
                                             mx * sh + bx, 0]) & 1, 1)
    bw.flush()
    out.extend(bw.out)

    # ---- per component: AC first (Al=1) then AC refinement (Al=0)
    for ci in range(nc):
        bh, bw2 = nblocks[ci]
        blocks = [zzs[ci][by, bx] for by in range(bh)
                  for bx in range(bw2)]

        # AC first, Ss=1 Se=63 Ah=0 Al=1
        sos([(ci + 1, 0, 0)], 1, 63, 0, 1)
        bw = bw_cls()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                n = eobrun.bit_length() - 1
                code, ln = act[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(eobrun - (1 << n), n)
                eobrun = 0

        for zz in blocks:
            band = [(abs(int(zz[k])) >> 1) * (1 if zz[k] >= 0 else -1)
                    for k in range(1, 64)]
            nz = [i for i, v in enumerate(band) if v]
            if not nz:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for i in range(nz[-1] + 1):
                v = band[i]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = act[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s, bits_v = _magnitude(v)
                code, ln = act[(run << 4) | s]
                bw.write(code, ln)
                bw.write(bits_v, s)
                run = 0
            if nz[-1] < 62:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        bw.flush()
        out.extend(bw.out)

        # AC refinement, Ss=1 Se=63 Ah=1 Al=0
        sos([(ci + 1, 0, 0)], 1, 63, 1, 0)
        bw = bw_cls()
        eobrun = 0
        bebuf: list[int] = []

        def flush_eob2():
            nonlocal eobrun, bebuf
            if eobrun:
                n = eobrun.bit_length() - 1
                code, ln = act[n << 4]
                bw.write(code, ln)
                if n:
                    bw.write(eobrun - (1 << n), n)
                eobrun = 0
                for b in bebuf:
                    bw.write(b, 1)
                bebuf = []

        for zz in blocks:
            t = [abs(int(zz[k])) for k in range(1, 64)]
            newly = [i for i, a in enumerate(t) if a == 1]
            last_new = newly[-1] if newly else -1
            seg: list = []
            for i in range(last_new + 1):
                if t[i] == 0:
                    seg.append("z")
                elif t[i] >= 2:
                    seg.append(t[i] & 1)
                else:
                    _emit_refine_seg(
                        bw, act, seg, flush_eob2,
                        run1_sign=1 if zz[1 + i] > 0 else 0)
                    seg = []
            tail_bits = [t[i] & 1 for i in range(last_new + 1, 63)
                         if t[i] >= 2]
            if last_new < 62:
                eobrun += 1
                bebuf.extend(tail_bits)
                if eobrun == 0x7FFF:
                    flush_eob2()
        flush_eob2()
        bw.flush()
        out.extend(bw.out)


def jpeg_bytes(arr: np.ndarray, quality: int = 50,
               subsample: str = "444", restart: int = 0,
               progressive: bool = False) -> bytes:
    """Encode an (h, w, 1|3) uint8 array as baseline JPEG.

    Grayscale input emits one component; color input is taken as RGB,
    converted to YCbCr. ``subsample`` '420' averages chroma 2x2
    (color only). ``restart`` > 0 emits DRI + RSTn every that many
    MCUs (exercises the decoder's restart path). ``progressive``
    emits SOF2 with a DC-first/refine + per-component
    AC-first/refine scan script over the same quantized coefficients
    (decodes bit-identically to the baseline encoding).
    """
    if progressive and restart:
        raise ValueError("restart intervals unsupported in the "
                         "progressive scan script")
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (1, 3):
        raise ValueError("need (h, w, 1|3) uint8")
    h, w, nc = arr.shape
    qlum = scale_quant(Q_LUM, quality)
    qchr = scale_quant(Q_CHR, quality)

    if nc == 3:
        rgbf = arr.astype(np.float64)
        y = (0.299 * rgbf[:, :, 0] + 0.587 * rgbf[:, :, 1]
             + 0.114 * rgbf[:, :, 2])
        cb = 128.0 - 0.168736 * rgbf[:, :, 0] - 0.331264 * rgbf[:, :, 1] \
            + 0.5 * rgbf[:, :, 2]
        cr = 128.0 + 0.5 * rgbf[:, :, 0] - 0.418688 * rgbf[:, :, 1] \
            - 0.081312 * rgbf[:, :, 2]
        planes = [y, cb, cr]
    else:
        planes = [arr[:, :, 0].astype(np.float64)]

    two = subsample == "420" and nc == 3
    samp = [(2, 2), (1, 1), (1, 1)] if two else [(1, 1)] * nc
    hmax = max(s[0] for s in samp[:nc])
    vmax = max(s[1] for s in samp[:nc])
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    comp_planes = []
    for ci in range(nc):
        p = planes[ci]
        if two and ci > 0:
            # 2x2 block-average chroma (pad odd edges by replication)
            p2 = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
            p = (p2[0::2, 0::2] + p2[1::2, 0::2] + p2[0::2, 1::2]
                 + p2[1::2, 1::2]) / 4.0
        sh, sv = samp[ci]
        th, tw = mcuy * sv * 8, mcux * sh * 8
        padded = np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                        mode="edge")
        comp_planes.append(padded)

    dc_tab = [_encode_tables(DC_LUM_BITS, DC_LUM_VALS),
              _encode_tables(DC_CHR_BITS, DC_CHR_VALS)]
    ac_tab = [_encode_tables(AC_LUM_BITS, AC_LUM_VALS),
              _encode_tables(AC_CHR_BITS, AC_CHR_VALS)]

    bw = _BitWriter()
    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes):
        out.extend(bytes((0xFF, marker)))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    seg(0xDB, bytes([0x00]) + bytes(int(x) for x in qlum[ZIGZAG]))
    if nc == 3:
        seg(0xDB, bytes([0x01]) + bytes(int(x) for x in qchr[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sh, sv = samp[ci]
        sof += bytes((ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1))
    seg(0xC2 if progressive else 0xC0, sof)
    seg(0xC4, bytes([0x00]) + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
    if progressive:
        seg(0xC4, bytes([0x10]) + bytes(PROG_AC_BITS)
            + bytes(PROG_AC_VALS))
    else:
        seg(0xC4, bytes([0x10]) + bytes(AC_LUM_BITS)
            + bytes(AC_LUM_VALS))
    if nc == 3:
        seg(0xC4, bytes([0x01]) + bytes(DC_CHR_BITS) + bytes(DC_CHR_VALS))
        if not progressive:
            seg(0xC4, bytes([0x11]) + bytes(AC_CHR_BITS)
                + bytes(AC_CHR_VALS))
    if restart:
        seg(0xDD, struct.pack(">H", restart))

    if progressive:
        # quantize every MCU-grid block once (identical arithmetic
        # to the baseline loop), then write the scan script
        zzs = []
        nblocks = []
        for ci in range(nc):
            sh, sv = samp[ci]
            rows, cols = mcuy * sv, mcux * sh
            z = np.zeros((rows, cols, 64), dtype=np.int64)
            q = qlum if ci == 0 else qchr
            for by in range(rows):
                for bx in range(cols):
                    block = comp_planes[ci][by * 8:by * 8 + 8,
                                            bx * 8:bx * 8 + 8] - 128.0
                    z[by, bx] = _quantize_block(block, q)
            zzs.append(z)
            cw = -(-w * sh // hmax)
            ch = -(-h * sv // vmax)
            nblocks.append((-(-ch // 8), -(-cw // 8)))
        _encode_prog_scans(out, _BitWriter, zzs, samp, nc,
                           mcux, mcuy, nblocks, seg)
        out.extend(b"\xff\xd9")
        return bytes(out)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes((ci + 1, 0x00 if ci == 0 else 0x11))
    sos += b"\x00\x3f\x00"
    seg(0xDA, sos)

    pred = [0] * nc
    mcu_index = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_index and mcu_index % restart == 0:
                bw.flush()
                out.extend(bw.out)
                bw = _BitWriter()
                out.extend(bytes((0xFF, 0xD0 + rst)))
                rst = (rst + 1) & 7
                pred = [0] * nc
            for ci in range(nc):
                sh, sv = samp[ci]
                q = qlum if ci == 0 else qchr
                dct_t = dc_tab[0 if ci == 0 else 1]
                act_t = ac_tab[0 if ci == 0 else 1]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = comp_planes[ci][y0:y0 + 8,
                                                x0:x0 + 8] - 128.0
                        coef = _C @ block @ _C.T
                        # integer round-half-away DC (oracle closed
                        # form); AC rounds to nearest
                        dc = int(np.rint(coef[0, 0]))
                        qdc = _quantize_dc(dc, int(q[0]))
                        zz = np.rint(coef.reshape(64) /
                                     q.astype(np.float64)).astype(int)
                        zz = zz[ZIGZAG]
                        zz[0] = qdc
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        s, bits_v = _magnitude(diff)
                        code, ln = dct_t[s]
                        bw.write(code, ln)
                        if s:
                            bw.write(bits_v, s)
                        run = 0
                        for k in range(1, 64):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = act_t[0xF0]  # ZRL
                                bw.write(code, ln)
                                run -= 16
                            s, bits_v = _magnitude(v)
                            code, ln = act_t[(run << 4) | s]
                            bw.write(code, ln)
                            bw.write(bits_v, s)
                            run = 0
                        if run:
                            code, ln = act_t[0x00]  # EOB
                            bw.write(code, ln)
            mcu_index += 1
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


def solid_gray_decoded_value(v: int, quality: int = 50) -> int:
    """Closed form: the decoded pixel of a solid gray-``v`` JPEG at
    the given quality (DC-only block; see module docstring). The
    DuckDB oracle replays exactly this arithmetic in SQL."""
    q = int(scale_quant(Q_LUM, quality)[0])
    dc = 8 * (v - 128)
    qdc = _quantize_dc(dc, q)
    rec = qdc * q
    pix = int(np.rint(rec / 8.0)) + 128
    return max(0, min(255, pix))
