"""From-scratch H.264/AVC codec — pure Python + numpy.

One decoder (:class:`H264Decoder`) for Baseline-profile I, P and B
slices: Annex-B / length-prefixed NAL units, Exp-Golomb SPS/PPS/slice
headers (the SPS frame size checked against ``pixels.MAX_PIXELS``),
CAVLC entropy decoding (coeff_token / level / total_zeros /
run_before), Intra_4x4 (all nine modes), Intra_16x16 (all four
modes), Intra_8x8 chroma prediction (all four modes), I_PCM
macroblocks, the 4x4 integer inverse transform, the luma-DC 4x4
inverse Hadamard and chroma-DC 2x2 transform, with the spec's
dequantization scaling.  P slices: ``mb_skip_run`` / P_Skip,
P_L0_16x16, 16x8 / 8x16, P_8x8 with all four sub-partition shapes,
median MV prediction with the directional 16x8/8x16 rules,
quarter-pel luma (6-tap half-pel filter, 20-bit centre position) and
eighth-pel bilinear chroma motion compensation from the most recent
reference.  B slices (16x16 tier): B_L0 / B_L1 / B_Bi with per-list
MV prediction and bi-predictive averaging, list0/list1 the nearest
past/future reference by picture order count.  :meth:`H264Decoder.
decode` returns frames in display order — by POC within each
IDR-led group — for every container.  8-bit 4:2:0,
``frame_mbs_only``, one slice group, one reference per list, CAVLC
only (no CABAC), no weighted prediction, B partitions/direct/B_Skip
or deblocking (fixture streams set ``disable_deblocking_filter_idc=1``;
streams that enable the loop filter decode without it — a documented
fidelity gap, not a failure).

A matching from-scratch *encoder* produces valid IDR streams for
fixtures: per-macroblock plans cover I_PCM (bit-exact payload),
Intra_16x16 DC with quantized luma-DC residual, and Intra_4x4 DC —
so the CAVLC writer and reader exercise each other (the P and B
fixture encoders are in :mod:`tika_spark.analysis.h264inter`).  Encoder and
decoder share the VLC tables, which guarantees internal consistency;
the tables themselves are transcribed from ITU-T Rec. H.264 (Tables
9-4, 9-5, 9-7, 9-8, 9-9, 9-10) and the scaling formulas from
§8.5.10-8.5.12.  No third-party H.264 stream or encoder exists in
this container, so cross-implementation conformance is untested here
and flagged in SURVEY §7.4 (same epistemic status as the VP8 tier).

Reference parity note: Apache Tika's video coverage is metadata-only
(``tika-parsers/.../video/FLVParser.java``, ``mp4/MP4Parser.java`` —
box-walk metadata, no sample decode); full-frame decode is the
training-pipeline extension this module supplies for the dominant web
video codec.
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.bitio import MsbReader, MsbWriter
from tika_spark.analysis.pixels import check_dims


class H264Error(ValueError):
    pass


# ----------------------------------------------------------- bit I/O


class BitReader(MsbReader):
    """Bit reader over an RBSP (already unescaped) with the
    Exp-Golomb codes."""

    __slots__ = ("_last_one",)
    error = H264Error

    def __init__(self, data: bytes):
        super().__init__(data)
        self._last_one = -2                # lazily located stop bit

    def flag(self) -> int:
        return self.read(1)

    def ue(self) -> int:
        zeros = 0
        while self.read(1) == 0:
            zeros += 1
            if zeros > 31:
                raise H264Error("exp-golomb prefix too long")
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def more_rbsp_data(self) -> bool:
        """True while bits other than the rbsp_stop_one_bit + padding
        remain."""
        pos = self.tell()
        if pos >= len(self.data) * 8:
            return False
        if self._last_one == -2:
            # locate the last 1 bit (the stop bit) once — rescanning
            # per macroblock would make slice decode quadratic
            last = len(self.data) * 8 - 1
            d = self.data
            while last >= 0 \
                    and not (d[last >> 3] >> (7 - (last & 7))) & 1:
                last -= 1
            self._last_one = last
        return pos < self._last_one


class BitWriter(MsbWriter):
    __slots__ = ()

    def bits(self, s: str) -> None:
        for ch in s:
            self.write(1 if ch == "1" else 0, 1)

    def ue(self, v: int) -> None:
        v += 1
        k = v.bit_length() - 1
        self.write(0, k)
        self.write(v, k + 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def rbsp_trailing(self) -> None:
        self.write(1, 1)
        self.align()


def rbsp_unescape(nal: bytes) -> bytes:
    """Strip emulation-prevention bytes (00 00 03 -> 00 00)."""
    out = bytearray()
    i, n = 0, len(nal)
    while i < n:
        if i + 2 < n and nal[i] == 0 and nal[i + 1] == 0 \
                and nal[i + 2] == 3:
            out += nal[i:i + 2]
            i += 3
        else:
            out.append(nal[i])
            i += 1
    return bytes(out)


def rbsp_escape(rbsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def split_annexb(data: bytes) -> list[bytes]:
    """Annex-B byte stream -> raw NAL units (no start codes)."""
    nals = []
    i, n = 0, len(data)
    while i < n:
        j = data.find(b"\x00\x00\x01", i)
        if j < 0:
            break
        j += 3
        k = data.find(b"\x00\x00\x01", j)
        end = n if k < 0 else (k - 1 if k > 0 and data[k - 1] == 0
                               else k)
        while end > j and data[end - 1] == 0:
            end -= 1
        nals.append(data[j:end])
        i = n if k < 0 else k
    return nals


def split_avcc(sample: bytes, length_size: int = 4) -> list[bytes]:
    """Length-prefixed (avcC) sample -> raw NAL units."""
    nals = []
    i, n = 0, len(sample)
    while i + length_size <= n:
        ln = int.from_bytes(sample[i:i + length_size], "big")
        i += length_size
        if ln <= 0 or i + ln > n:
            raise H264Error("bad NAL length in avcC sample")
        nals.append(sample[i:i + ln])
        i += ln
    return nals


# --------------------------------------------------- parameter sets


def parse_sps(rbsp: bytes) -> dict:
    r = BitReader(rbsp)
    profile = r.read(8)
    r.read(8)                                  # constraint flags + zeros
    level = r.read(8)
    sps_id = r.ue()
    chroma_format = 1
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138,
                   139, 134, 135):
        chroma_format = r.ue()
        if chroma_format == 3:
            r.flag()                        # separate_colour_plane
        r.ue()                              # bit_depth_luma_minus8
        r.ue()                              # bit_depth_chroma_minus8
        r.flag()                            # qpprime_y_zero_transform
        if r.flag():                        # seq_scaling_matrix
            raise H264Error("scaling matrices not supported")
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    log2_max_poc_lsb = 0
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
    elif poc_type == 1:
        r.flag()
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()                                  # max_num_ref_frames
    r.flag()                                # gaps_in_frame_num
    w_mbs = r.ue() + 1
    h_map = r.ue() + 1
    try:
        check_dims(w_mbs * 16, h_map * 16)   # before any plane exists
    except ValueError as e:
        raise H264Error(f"SPS frame size: {e}") from None
    frame_mbs_only = r.flag()
    if not frame_mbs_only:
        raise H264Error("interlaced streams not supported")
    r.flag()                                # direct_8x8_inference
    crop = r.flag()
    crop_l = crop_r = crop_t = crop_b = 0
    if crop:
        crop_l, crop_r, crop_t, crop_b = (r.ue(), r.ue(), r.ue(),
                                          r.ue())
    return {"sps_id": sps_id, "profile": profile, "level": level,
            "chroma_format": chroma_format,
            "log2_max_frame_num": log2_max_frame_num,
            "poc_type": poc_type, "log2_max_poc_lsb": log2_max_poc_lsb,
            "mb_w": w_mbs, "mb_h": h_map,
            "width": w_mbs * 16 - 2 * (crop_l + crop_r),
            "height": h_map * 16 - 2 * (crop_t + crop_b),
            "crop": (crop_l, crop_r, crop_t, crop_b)}


def parse_pps(rbsp: bytes) -> dict:
    r = BitReader(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    # CABAC streams parse fine at the header level (headers are plain
    # Exp-Golomb); only the slice-DATA decoders are CAVLC-only — they
    # check this flag and status-row (see slice_census for the
    # entropy-mode-independent frame census)
    entropy_cabac = r.flag()
    bottom_field_poc = r.flag()
    n_groups = r.ue() + 1
    if n_groups != 1:
        raise H264Error("slice groups (FMO) not supported")
    r.ue()                                  # num_ref_idx_l0
    r.ue()                                  # num_ref_idx_l1
    r.flag()                                # weighted_pred
    r.read(2)                                  # weighted_bipred
    qp = r.se() + 26
    r.se()                                  # pic_init_qs
    chroma_qp_off = r.se()
    deblock_ctrl = r.flag()
    constrained_intra = r.flag()
    redundant = r.flag()
    return {"pps_id": pps_id, "sps_id": sps_id,
            "entropy_cabac": entropy_cabac,
            "pic_init_qp": qp, "chroma_qp_offset": chroma_qp_off,
            "deblock_ctrl": deblock_ctrl,
            "constrained_intra": constrained_intra,
            "bottom_field_poc": bottom_field_poc,
            "redundant_pic_cnt_present": redundant}


# ------------------------------------------------------- VLC tables
# Transcribed from ITU-T Rec. H.264.  Structure: {(t1s, total): bits}.

# Table 9-5, column 0 <= nC < 2
_CT_NC0 = {
    (0, 0): "1",
    (0, 1): "000101", (1, 1): "01",
    (0, 2): "00000111", (1, 2): "000100", (2, 2): "001",
    (0, 3): "000000111", (1, 3): "00000110", (2, 3): "0000101",
    (3, 3): "00011",
    (0, 4): "0000000111", (1, 4): "000000110", (2, 4): "00000101",
    (3, 4): "000011",
    (0, 5): "00000000111", (1, 5): "0000000110", (2, 5): "000000101",
    (3, 5): "0000100",
    (0, 6): "0000000001111", (1, 6): "00000000110",
    (2, 6): "0000000101", (3, 6): "00000100",
    (0, 7): "0000000001011", (1, 7): "0000000001110",
    (2, 7): "00000000101", (3, 7): "000000100",
    (0, 8): "0000000001000", (1, 8): "0000000001010",
    (2, 8): "0000000001101", (3, 8): "0000000100",
    (0, 9): "00000000001111", (1, 9): "00000000001110",
    (2, 9): "0000000001001", (3, 9): "00000000100",
    (0, 10): "00000000001011", (1, 10): "00000000001010",
    (2, 10): "00000000001101", (3, 10): "0000000001100",
    (0, 11): "000000000001111", (1, 11): "000000000001110",
    (2, 11): "00000000001001", (3, 11): "00000000001100",
    (0, 12): "000000000001011", (1, 12): "000000000001010",
    (2, 12): "000000000001101", (3, 12): "00000000001000",
    (0, 13): "0000000000001111", (1, 13): "000000000000001",
    (2, 13): "000000000001001", (3, 13): "000000000001100",
    (0, 14): "0000000000001011", (1, 14): "0000000000001110",
    (2, 14): "0000000000001101", (3, 14): "000000000001000",
    (0, 15): "0000000000000111", (1, 15): "0000000000001010",
    (2, 15): "0000000000001001", (3, 15): "0000000000001100",
    (0, 16): "0000000000000100", (1, 16): "0000000000000110",
    (2, 16): "0000000000000101", (3, 16): "0000000000001000",
}

# Table 9-5, column 2 <= nC < 4
_CT_NC2 = {
    (0, 0): "11",
    (0, 1): "001011", (1, 1): "10",
    (0, 2): "000111", (1, 2): "00111", (2, 2): "011",
    (0, 3): "0000111", (1, 3): "001010", (2, 3): "001001",
    (3, 3): "0101",
    (0, 4): "00000111", (1, 4): "000110", (2, 4): "000101",
    (3, 4): "0100",
    (0, 5): "00000100", (1, 5): "0000110", (2, 5): "0000101",
    (3, 5): "00110",
    (0, 6): "000000111", (1, 6): "00000110", (2, 6): "00000101",
    (3, 6): "001000",
    (0, 7): "00000001111", (1, 7): "000000110", (2, 7): "000000101",
    (3, 7): "000100",
    (0, 8): "00000001011", (1, 8): "00000001110",
    (2, 8): "00000001101", (3, 8): "0000100",
    (0, 9): "000000001111", (1, 9): "00000001010",
    (2, 9): "00000001001", (3, 9): "000000100",
    (0, 10): "000000001011", (1, 10): "000000001110",
    (2, 10): "000000001101", (3, 10): "00000001100",
    (0, 11): "000000001000", (1, 11): "000000001010",
    (2, 11): "000000001001", (3, 11): "00000001000",
    (0, 12): "0000000001111", (1, 12): "0000000001110",
    (2, 12): "0000000001101", (3, 12): "000000001100",
    (0, 13): "0000000001011", (1, 13): "0000000001010",
    (2, 13): "0000000001001", (3, 13): "0000000001100",
    (0, 14): "0000000000111", (1, 14): "00000000001011",
    (2, 14): "0000000000110", (3, 14): "0000000001000",
    (0, 15): "00000000001001", (1, 15): "00000000001000",
    (2, 15): "00000000001010", (3, 15): "0000000000001",
    (0, 16): "00000000000111", (1, 16): "00000000000110",
    (2, 16): "00000000000101", (3, 16): "00000000000100",
}

# Table 9-5, column 4 <= nC < 8
_CT_NC4 = {
    (0, 0): "1111",
    (0, 1): "001111", (1, 1): "1110",
    (0, 2): "001011", (1, 2): "01111", (2, 2): "1101",
    (0, 3): "001000", (1, 3): "01100", (2, 3): "01110", (3, 3): "1100",
    (0, 4): "0001111", (1, 4): "01010", (2, 4): "01011", (3, 4): "1011",
    (0, 5): "0001011", (1, 5): "01000", (2, 5): "01001", (3, 5): "1010",
    (0, 6): "0001001", (1, 6): "001110", (2, 6): "001101",
    (3, 6): "1001",
    (0, 7): "0001000", (1, 7): "001010", (2, 7): "001001", (3, 7): "1000",
    (0, 8): "00001111", (1, 8): "0001110", (2, 8): "0001101",
    (3, 8): "01101",
    (0, 9): "00001011", (1, 9): "00001110", (2, 9): "0001010",
    (3, 9): "001100",
    (0, 10): "000001111", (1, 10): "00001010", (2, 10): "00001101",
    (3, 10): "0001100",
    (0, 11): "000001011", (1, 11): "000001110", (2, 11): "00001001",
    (3, 11): "00001100",
    (0, 12): "000001000", (1, 12): "000001010", (2, 12): "000001101",
    (3, 12): "00001000",
    (0, 13): "0000001101", (1, 13): "000000111", (2, 13): "000001001",
    (3, 13): "000001100",
    (0, 14): "0000001001", (1, 14): "0000001100", (2, 14): "0000001011",
    (3, 14): "0000001010",
    (0, 15): "0000000101", (1, 15): "0000001000", (2, 15): "0000000111",
    (3, 15): "0000000110",
    (0, 16): "0000000001", (1, 16): "0000000100", (2, 16): "0000000011",
    (3, 16): "0000000010",
}

# Table 9-5, nC == -1 (chroma DC, 4:2:0 — maxNumCoeff 4)
_CT_CHROMA_DC = {
    (0, 0): "01",
    (0, 1): "000111", (1, 1): "1",
    (0, 2): "000100", (1, 2): "000110", (2, 2): "001",
    (0, 3): "000011", (1, 3): "0000011", (2, 3): "0000010",
    (3, 3): "000101",
    (0, 4): "000010", (1, 4): "00000011", (2, 4): "00000010",
    (3, 4): "0000000",
}

# Table 9-7/9-8 total_zeros for 4x4 blocks; _TZ[tc][tz] = bits
_TZ_4x4 = {
    1: ["1", "011", "010", "0011", "0010", "00011", "00010",
        "000011", "000010", "0000011", "0000010", "00000011",
        "00000010", "000000011", "000000010", "000000001"],
    2: ["111", "110", "101", "100", "011", "0101", "0100", "0011",
        "0010", "00011", "00010", "000011", "000010", "000001",
        "000000"],
    3: ["0101", "111", "110", "101", "0100", "0011", "100", "011",
        "0010", "00011", "00010", "000001", "00001", "000000"],
    4: ["00011", "111", "0101", "0100", "110", "101", "100", "0011",
        "011", "0010", "00010", "00001", "00000"],
    5: ["0101", "0100", "0011", "111", "110", "101", "100", "011",
        "0010", "00001", "0001", "00000"],
    6: ["000001", "00001", "111", "110", "101", "100", "011", "010",
        "0001", "001", "000000"],
    7: ["000001", "00001", "101", "100", "011", "11", "010", "0001",
        "001", "000000"],
    8: ["000001", "0001", "00001", "011", "11", "10", "010", "001",
        "000000"],
    9: ["000001", "000000", "0001", "11", "10", "001", "01", "00001"],
    10: ["00001", "00000", "001", "11", "10", "01", "0001"],
    11: ["0000", "0001", "001", "010", "1", "011"],
    12: ["0000", "0001", "01", "1", "001"],
    13: ["000", "001", "1", "01"],
    14: ["00", "01", "1"],
    15: ["0", "1"],
}

# Table 9-9(a): total_zeros for chroma DC (maxNumCoeff 4)
_TZ_CHROMA = {
    1: ["1", "01", "001", "000"],
    2: ["1", "01", "00"],
    3: ["1", "0"],
}

# Table 9-10 run_before; _RB[min(zerosLeft,7)][run] = bits
_RB = {
    1: ["1", "0"],
    2: ["1", "01", "00"],
    3: ["11", "10", "01", "00"],
    4: ["11", "10", "01", "001", "000"],
    5: ["11", "10", "011", "010", "001", "000"],
    6: ["11", "000", "001", "011", "010", "101", "100"],
    7: ["111", "110", "101", "100", "011", "010", "001", "0001",
        "00001", "000001", "0000001", "00000001", "000000001",
        "0000000001", "00000000001"],
}

# Table 9-4 (me(v) coded_block_pattern), Intra_4x4 column:
# codeNum -> cbp
_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]
_CBP_INTRA_INV = {v: i for i, v in enumerate(_CBP_INTRA)}


def _invert(table: dict) -> dict:
    """bits -> key decode map, verified prefix-free."""
    out = {}
    for key, bits in table.items():
        out[bits] = key
    # prefix-freedom check (cheap, import-time)
    codes = sorted(out)
    for i, c in enumerate(codes):
        for d in codes[i + 1:]:
            if d.startswith(c):
                raise AssertionError(f"VLC prefix clash {c} / {d}")
    return out


_CT_DEC = {0: _invert(_CT_NC0), 2: _invert(_CT_NC2),
           4: _invert(_CT_NC4), -1: _invert(_CT_CHROMA_DC)}
_TZ_DEC = {tc: _invert(dict(enumerate(v))) for tc, v in _TZ_4x4.items()}
_TZC_DEC = {tc: _invert(dict(enumerate(v))) for tc, v in
            _TZ_CHROMA.items()}
_RB_DEC = {z: _invert(dict(enumerate(v))) for z, v in _RB.items()}


def _read_vlc(r: BitReader, dec: dict, what: str):
    bits = ""
    for _ in range(20):
        bits += "1" if r.read(1) else "0"
        if bits in dec:
            return dec[bits]
    raise H264Error(f"invalid {what} code")


# zigzag scan for 4x4 (raster indices)
_ZIGZAG4 = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# LevelScale4x4 per qP%6: (positions (0,0),(0,2),(2,0),(2,2)),
# ((1,1),(1,3),(3,1),(3,3)), (others)  — spec Table 8-3xx "v".
_LS = ((10, 16, 13), (11, 18, 14), (13, 20, 16), (14, 23, 18),
       (16, 25, 20), (18, 29, 23))
# forward MF per qP%6 (same position classes) — JM quantizer
_MF = ((13107, 5243, 8066), (11916, 4660, 7490), (10082, 4194, 6554),
       (9362, 3647, 5825), (8192, 3355, 5243), (7282, 2893, 4559))

# position class per (i, j): 0 at even/even corners, 1 at odd/odd,
# 2 elsewhere (spec §8.5.12.1 position partition)
_POS_CLASS = np.array([[0, 2, 0, 2],
                       [2, 1, 2, 1],
                       [0, 2, 0, 2],
                       [2, 1, 2, 1]], dtype=np.int32)

# chroma QP mapping (Table 8-15), for qPI 30..51
_CHROMA_QP = (29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37,
              37, 38, 38, 38, 39, 39, 39, 39)


def chroma_qp(qp: int, offset: int = 0) -> int:
    q = max(0, min(51, qp + offset))
    return q if q < 30 else _CHROMA_QP[q - 30]


def _ls_matrix(qp: int) -> np.ndarray:
    row = _LS[qp % 6]
    return np.array(row, dtype=np.int32)[_POS_CLASS]


# -------------------------------------------------------- transforms


def _btf4(m: np.ndarray) -> np.ndarray:
    """§8.5.12.2 butterfly along axis 0 (vectors = rows)."""
    e0 = m[0] + m[2]
    e1 = m[0] - m[2]
    e2 = (m[1] >> 1) - m[3]
    e3 = m[1] + (m[3] >> 1)
    return np.stack([e0 + e3, e1 + e2, e1 - e2, e0 - e3])


def inverse_core4(d: np.ndarray) -> np.ndarray:
    """§8.5.12.2 4x4 inverse integer transform — horizontal pass then
    vertical pass (the >>1 floors make the order normative).  The
    final (x + 32) >> 6 is applied by the caller."""
    d = d.astype(np.int64)
    return _btf4(_btf4(d.T).T)


def forward_core4(x: np.ndarray) -> np.ndarray:
    """Forward 4x4 core transform Cf·X·Cf^T (encoder side)."""
    cf = np.array([[1, 1, 1, 1], [2, 1, -1, -2],
                   [1, -1, -1, 1], [1, -2, 2, -1]], dtype=np.int64)
    return cf @ x.astype(np.int64) @ cf.T


_H4 = np.array([[1, 1, 1, 1], [1, 1, -1, -1],
                [1, -1, -1, 1], [1, -1, 1, -1]], dtype=np.int64)


def hadamard4(x: np.ndarray) -> np.ndarray:
    return _H4 @ x.astype(np.int64) @ _H4.T


def dequant_ac(c: np.ndarray, qp: int) -> np.ndarray:
    """Plain-4x4 / AC residual scaling: d = c · LS(qp%6, pos) ·
    2^(qp/6).  With the MF quantizer this is exact for the class-0
    positions whenever LS·MF = 2^17 (qp%6 = 4), the drift-free
    identity the fixture oracles exploit."""
    ls = _ls_matrix(qp).astype(np.int64)
    return (c.astype(np.int64) * ls) << (qp // 6)


def dequant_luma_dc(f: np.ndarray, qp: int) -> np.ndarray:
    """Luma DC scaling after the inverse Hadamard.  Derived from the
    drift-free chain: the encoder halves the forward Hadamard and
    quantizes with qbits+1, so the decoder restores
    LS·2^(qp/6)/4 — this is the unique scale under which a
    DC-uniform macroblock reconstructs exactly (d00 = 64·r)."""
    ls = int(_LS[qp % 6][0])
    return ((f.astype(np.int64) * ls) << (qp // 6)) + 2 >> 2


def dequant_chroma_dc(f: np.ndarray, qp: int) -> np.ndarray:
    """Chroma DC scaling after the 2x2 transform: LS·2^(qp/6)/2
    (encoder quantizes with qbits+1 and no forward halving)."""
    ls = int(_LS[qp % 6][0])
    return ((f.astype(np.int64) * ls) << (qp // 6)) + 1 >> 1


# ----------------------------------------------------- CAVLC decode


def read_residual_block(r: BitReader, nc: int, max_coeff: int
                        ) -> tuple[np.ndarray, int]:
    """residual_block_cavlc (§9.2) -> (coefficient levels in scan
    order, total_coeff).  ``nc`` is the coeff_token context (-1 for
    chroma DC)."""
    if nc == -1:
        dec = _CT_DEC[-1]
    elif nc < 2:
        dec = _CT_DEC[0]
    elif nc < 4:
        dec = _CT_DEC[2]
    elif nc < 8:
        dec = _CT_DEC[4]
    else:
        v = r.read(6)
        t1s, tc = v & 3, (v >> 2) + 1
        if v == 3:
            t1s, tc = 0, 0
        return _read_levels(r, t1s, tc, max_coeff)
    t1s, tc = _read_vlc(r, dec, "coeff_token")
    return _read_levels(r, t1s, tc, max_coeff)


def _read_levels(r: BitReader, t1s: int, tc: int, max_coeff: int
                 ) -> tuple[np.ndarray, int]:
    out = np.zeros(max_coeff, dtype=np.int32)
    if tc == 0:
        return out, 0
    levels = []
    for _ in range(t1s):
        levels.append(-1 if r.read(1) else 1)
    suffix_len = 1 if tc > 10 and t1s < 3 else 0
    for i in range(tc - t1s):
        prefix = 0
        while r.read(1) == 0:
            prefix += 1
            if prefix > 32:
                raise H264Error("level_prefix too long")
        if prefix == 14 and suffix_len == 0:
            sz = 4
        elif prefix >= 15:
            sz = prefix - 3
        else:
            sz = suffix_len
        suffix = r.read(sz) if sz else 0
        code = (min(15, prefix) << suffix_len) + suffix
        if prefix >= 15 and suffix_len == 0:
            code += 15
        if prefix >= 16:
            code += (1 << (prefix - 3)) - 4096
        if i == 0 and t1s < 3:
            code += 2
        level = (code + 2) >> 1 if code % 2 == 0 else -((code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros
    if tc < max_coeff:
        if max_coeff == 4:
            tz = _read_vlc(r, _TZC_DEC[tc], "total_zeros(chroma)")
        else:
            tz = _read_vlc(r, _TZ_DEC[tc], "total_zeros")
    else:
        tz = 0
    # run_before: levels[0] is the highest-frequency coefficient
    runs = [0] * tc
    zeros_left = tz
    for i in range(tc - 1):
        if zeros_left <= 0:
            break
        run = _read_vlc(r, _RB_DEC[min(zeros_left, 7)], "run_before")
        if run > zeros_left:
            raise H264Error("run_before exceeds zeros_left")
        runs[i] = run
        zeros_left -= run
    pos = tz + tc - 1
    if pos >= max_coeff:
        raise H264Error("total_zeros + total_coeff exceed the block")
    for i in range(tc):
        out[pos] = levels[i]
        pos -= 1
        if i < tc - 1:
            pos -= runs[i]
    return out, tc


def _write_level_code(w: BitWriter, code: int, suffix_len: int
                      ) -> None:
    """Inverse of the §9.2.2.1 levelCode derivation."""
    if suffix_len == 0:
        if code < 14:
            w.write(0, code)
            w.write(1, 1)
            return
        if code < 30:
            w.write(0, 14)
            w.write(1, 1)
            w.write(code - 14, 4)
            return
        code -= 30
    else:
        prefix = code >> suffix_len
        if prefix < 15:
            w.write(0, prefix)
            w.write(1, 1)
            w.write(code & ((1 << suffix_len) - 1), suffix_len)
            return
        code -= 15 << suffix_len
    prefix = 15
    while code >= (1 << (prefix - 3)):
        code -= 1 << (prefix - 3)
        prefix += 1
        if prefix > 32:
            raise H264Error("level too large to encode")
    w.write(0, prefix)
    w.write(1, 1)
    w.write(code, prefix - 3)


def write_residual_block(w: BitWriter, coeffs: np.ndarray, nc: int,
                         max_coeff: int) -> int:
    """Encoder twin of :func:`read_residual_block`; returns
    total_coeff."""
    coeffs = np.asarray(coeffs, dtype=np.int64)[:max_coeff]
    nz = np.nonzero(coeffs)[0]
    tc = int(len(nz))
    # trailing ones: up to 3 final +-1 coefficients
    t1s = 0
    idx = list(nz)
    for p in reversed(idx):
        if abs(int(coeffs[p])) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    if nc == -1:
        table = _CT_CHROMA_DC
    elif nc < 2:
        table = _CT_NC0
    elif nc < 4:
        table = _CT_NC2
    elif nc < 8:
        table = _CT_NC4
    else:
        table = None
    if table is None:
        if tc == 0:
            w.write(3, 6)
        else:
            w.write(((tc - 1) << 2) | t1s, 6)
    else:
        w.bits(table[(t1s, tc)])
    if tc == 0:
        return 0
    levels = [int(coeffs[p]) for p in reversed(idx)]
    for lv in levels[:t1s]:
        w.write(0 if lv > 0 else 1, 1)
    suffix_len = 1 if tc > 10 and t1s < 3 else 0
    for i, lv in enumerate(levels[t1s:]):
        code = 2 * abs(lv) - 2 if lv > 0 else 2 * abs(lv) - 1
        if i == 0 and t1s < 3:
            code -= 2
        _write_level_code(w, code, suffix_len)
        if suffix_len == 0:
            suffix_len = 1
        if abs(lv) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    tz = int(nz[-1]) + 1 - tc
    if tc < max_coeff:
        if max_coeff == 4:
            w.bits(_TZ_CHROMA[tc][tz])
        else:
            w.bits(_TZ_4x4[tc][tz])
    zeros_left = tz
    prev = int(nz[-1])
    for i in range(tc - 1):
        cur = int(nz[-2 - i])
        run = prev - cur - 1
        if zeros_left <= 0:
            break
        w.bits(_RB[min(zeros_left, 7)][run])
        zeros_left -= run
        prev = cur
    return tc


# ------------------------------------------------- intra prediction


def _clip8(a):
    return np.clip(a, 0, 255)


def pred_intra4x4(mode: int, top, topright, left, topleft,
                  have_top: bool, have_left: bool, have_tl: bool,
                  have_tr: bool) -> np.ndarray:
    """§8.3.1.2 Intra_4x4 sample prediction.  ``top``/``left`` are
    length-4 int arrays, ``topright`` length 4; unavailable
    neighbours are passed as None flags.  Returns (4,4) int32."""
    p = np.zeros((4, 4), dtype=np.int32)
    t = np.zeros(8, dtype=np.int32)
    l = np.zeros(4, dtype=np.int32)
    m = 0
    if have_top:
        t[:4] = top
        t[4:] = topright if have_tr else top[3]
    if have_left:
        l[:] = left
    if have_tl:
        m = int(topleft)
    if mode == 0:                                    # vertical
        if not have_top:
            raise H264Error("intra4x4 vertical without top")
        p[:] = t[:4]
        return p
    if mode == 1:                                    # horizontal
        if not have_left:
            raise H264Error("intra4x4 horizontal without left")
        p[:] = l[:, None]
        return p
    if mode == 2:                                    # DC
        if have_top and have_left:
            v = (int(t[:4].sum()) + int(l.sum()) + 4) >> 3
        elif have_top:
            v = (int(t[:4].sum()) + 2) >> 2
        elif have_left:
            v = (int(l.sum()) + 2) >> 2
        else:
            v = 128
        p[:] = v
        return p
    if mode == 3:                                    # diag down-left
        if not have_top:
            raise H264Error("intra4x4 DDL without top")
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    p[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    p[y, x] = (t[x + y] + 2 * t[x + y + 1]
                               + t[x + y + 2] + 2) >> 2
        return p
    if mode in (4, 5, 6):
        if not (have_top and have_left and have_tl):
            raise H264Error("intra4x4 mode needs top+left+corner")
    if mode == 4:                                    # diag down-right
        for y in range(4):
            for x in range(4):
                if x > y:
                    p[y, x] = (t[x - y - 2] + 2 * t[x - y - 1]
                               + t[x - y] + 2) >> 2
                elif x < y:
                    p[y, x] = (l[y - x - 2] + 2 * l[y - x - 1]
                               + l[y - x] + 2) >> 2
                else:
                    p[y, x] = (t[0] + 2 * m + l[0] + 2) >> 2
        return p
    if mode == 5:                                    # vertical-right
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    i = x - (y >> 1)
                    a = m if i - 1 < 0 else t[i - 1]
                    p[y, x] = (a + t[i] + 1) >> 1
                elif z >= 0:
                    i = x - (y >> 1)
                    a = m if i - 2 < 0 else t[i - 2]
                    b = m if i - 1 < 0 else t[i - 1]
                    p[y, x] = (a + 2 * b + t[i] + 2) >> 2
                elif z == -1:
                    p[y, x] = (l[0] + 2 * m + t[0] + 2) >> 2
                else:
                    p[y, x] = (l[y - 2 * x - 1] + 2 * l[y - 2 * x - 2]
                               + (l[y - 2 * x - 3] if y - 2 * x - 3
                                  >= 0 else m) + 2) >> 2
        return p
    if mode == 6:                                    # horizontal-down
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    i = y - (x >> 1)
                    a = m if i - 1 < 0 else l[i - 1]
                    p[y, x] = (a + l[i] + 1) >> 1
                elif z >= 0:
                    i = y - (x >> 1)
                    a = m if i - 2 < 0 else l[i - 2]
                    b = m if i - 1 < 0 else l[i - 1]
                    p[y, x] = (a + 2 * b + l[i] + 2) >> 2
                elif z == -1:
                    p[y, x] = (t[0] + 2 * m + l[0] + 2) >> 2
                else:
                    p[y, x] = (t[x - 2 * y - 1] + 2 * t[x - 2 * y - 2]
                               + (t[x - 2 * y - 3] if x - 2 * y - 3
                                  >= 0 else m) + 2) >> 2
        return p
    if mode == 7:                                    # vertical-left
        if not have_top:
            raise H264Error("intra4x4 VL without top")
        for y in range(4):
            for x in range(4):
                i = x + (y >> 1)
                if y % 2 == 0:
                    p[y, x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    p[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        return p
    if mode == 8:                                    # horizontal-up
        if not have_left:
            raise H264Error("intra4x4 HU without left")
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z > 5:
                    p[y, x] = l[3]
                elif z == 5:
                    p[y, x] = (l[2] + 3 * l[3] + 2) >> 2
                elif z % 2 == 0:
                    i = y + (x >> 1)
                    p[y, x] = (l[i] + l[i + 1] + 1) >> 1
                else:
                    i = y + (x >> 1)
                    p[y, x] = (l[i] + 2 * l[i + 1] + l[i + 2] + 2) >> 2
        return p
    raise H264Error(f"bad intra4x4 mode {mode}")


def pred_intra16(mode: int, top, left, topleft, have_top: bool,
                 have_left: bool) -> np.ndarray:
    """§8.3.3 Intra_16x16 prediction (0 V, 1 H, 2 DC, 3 plane)."""
    p = np.zeros((16, 16), dtype=np.int32)
    if mode == 0:
        if not have_top:
            raise H264Error("I16 vertical without top")
        p[:] = top
    elif mode == 1:
        if not have_left:
            raise H264Error("I16 horizontal without left")
        p[:] = np.asarray(left, dtype=np.int32)[:, None]
    elif mode == 2:
        if have_top and have_left:
            v = (int(np.sum(top)) + int(np.sum(left)) + 16) >> 5
        elif have_top:
            v = (int(np.sum(top)) + 8) >> 4
        elif have_left:
            v = (int(np.sum(left)) + 8) >> 4
        else:
            v = 128
        p[:] = v
    elif mode == 3:
        if not (have_top and have_left):
            raise H264Error("I16 plane needs top+left")
        t = np.asarray(top, dtype=np.int64)
        l = np.asarray(left, dtype=np.int64)
        tl = int(topleft)
        h = sum((x + 1) * (int(t[8 + x]) - (int(t[6 - x]) if 6 - x >= 0
                                            else tl))
                for x in range(8))
        v = sum((y + 1) * (int(l[8 + y]) - (int(l[6 - y]) if 6 - y >= 0
                                            else tl))
                for y in range(8))
        a = 16 * (int(t[15]) + int(l[15]))
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        yy, xx = np.mgrid[0:16, 0:16]
        p = np.clip((a + b * (xx - 7) + c * (yy - 7) + 16) >> 5,
                    0, 255).astype(np.int32)
    else:
        raise H264Error(f"bad intra16 mode {mode}")
    return p


def pred_chroma8(mode: int, top, left, topleft, have_top: bool,
                 have_left: bool) -> np.ndarray:
    """§8.3.4 Intra chroma 8x8 prediction (0 DC, 1 H, 2 V, 3 plane)."""
    p = np.zeros((8, 8), dtype=np.int32)
    if mode == 0:
        t = np.asarray(top, dtype=np.int64) if have_top else None
        l = np.asarray(left, dtype=np.int64) if have_left else None
        for y0 in (0, 4):
            for x0 in (0, 4):
                if (x0 == 0 and y0 == 0) or (x0 > 0 and y0 > 0):
                    if have_top and have_left:
                        v = (int(t[x0:x0 + 4].sum())
                             + int(l[y0:y0 + 4].sum()) + 4) >> 3
                    elif have_top:
                        v = (int(t[x0:x0 + 4].sum()) + 2) >> 2
                    elif have_left:
                        v = (int(l[y0:y0 + 4].sum()) + 2) >> 2
                    else:
                        v = 128
                elif x0 > 0:                         # top-right block
                    if have_top:
                        v = (int(t[x0:x0 + 4].sum()) + 2) >> 2
                    elif have_left:
                        v = (int(l[y0:y0 + 4].sum()) + 2) >> 2
                    else:
                        v = 128
                else:                                # bottom-left
                    if have_left:
                        v = (int(l[y0:y0 + 4].sum()) + 2) >> 2
                    elif have_top:
                        v = (int(t[x0:x0 + 4].sum()) + 2) >> 2
                    else:
                        v = 128
                p[y0:y0 + 4, x0:x0 + 4] = v
    elif mode == 1:
        if not have_left:
            raise H264Error("chroma horizontal without left")
        p[:] = np.asarray(left, dtype=np.int32)[:, None]
    elif mode == 2:
        if not have_top:
            raise H264Error("chroma vertical without top")
        p[:] = top
    elif mode == 3:
        if not (have_top and have_left):
            raise H264Error("chroma plane needs top+left")
        t = np.asarray(top, dtype=np.int64)
        l = np.asarray(left, dtype=np.int64)
        tl = int(topleft)
        h = sum((x + 1) * (int(t[4 + x]) - (int(t[2 - x]) if 2 - x >= 0
                                            else tl))
                for x in range(4))
        v = sum((y + 1) * (int(l[4 + y]) - (int(l[2 - y]) if 2 - y >= 0
                                            else tl))
                for y in range(4))
        a = 16 * (int(t[7]) + int(l[7]))
        b = (17 * h + 16) >> 5
        c = (17 * v + 16) >> 5
        yy, xx = np.mgrid[0:8, 0:8]
        p = np.clip((a + b * (xx - 3) + c * (yy - 3) + 16) >> 5,
                    0, 255).astype(np.int32)
    else:
        raise H264Error(f"bad chroma mode {mode}")
    return p


# luma4x4BlkIdx -> (bx, by) in 4x4-block units (§6.4.3 inverse scan)
_BLK4 = tuple((2 * ((i >> 2) & 1) + (i & 1),
               2 * (i >> 3) + ((i >> 1) & 1)) for i in range(16))


# ------------------------------------------------------ decode core


class _Frame:
    def __init__(self, mb_w: int, mb_h: int):
        self.mb_w, self.mb_h = mb_w, mb_h
        self.y = np.zeros((mb_h * 16, mb_w * 16), dtype=np.int32)
        self.u = np.zeros((mb_h * 8, mb_w * 8), dtype=np.int32)
        self.v = np.zeros((mb_h * 8, mb_w * 8), dtype=np.int32)
        # per-4x4 total_coeff for nC (-1 = unavailable / not decoded)
        self.tc_y = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
        self.tc_u = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
        self.tc_v = np.full((mb_h * 2, mb_w * 2), -1, dtype=np.int32)
        # per-4x4 intra pred mode (-1 = not an I4x4 block)
        self.i4mode = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
        self.mb_decoded = np.zeros((mb_h, mb_w), dtype=bool)
        self.blk_decoded = np.zeros((mb_h * 4, mb_w * 4), dtype=bool)
        # per-4x4 motion vectors and reference indices of list 0 / 1
        # (ref -1 = intra or not decoded)
        self.mv = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
        self.ref = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
        self.mv1 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
        self.ref1 = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)


def _nc(tcmap: np.ndarray, bx: int, by: int) -> int:
    """§9.2.1 coeff_token context from left/up total_coeff."""
    na = tcmap[by, bx - 1] if bx > 0 else -1
    nb = tcmap[by - 1, bx] if by > 0 else -1
    if na >= 0 and nb >= 0:
        return (int(na) + int(nb) + 1) >> 1
    if na >= 0:
        return int(na)
    if nb >= 0:
        return int(nb)
    return 0


def _zz_to_mat(levels: np.ndarray, skip_dc: bool) -> np.ndarray:
    """Scan-ordered levels -> 4x4 matrix (zigzag); ``skip_dc`` for
    15-coefficient AC blocks (scan starts at zigzag position 1)."""
    m = np.zeros(16, dtype=np.int64)
    off = 1 if skip_dc else 0
    for i, lv in enumerate(levels):
        m[_ZIGZAG4[i + off]] = lv
    return m.reshape(4, 4)


def _mat_to_zz(m: np.ndarray, skip_dc: bool) -> np.ndarray:
    flat = m.reshape(16)
    off = 1 if skip_dc else 0
    return np.array([flat[_ZIGZAG4[i + off]]
                     for i in range(16 - off)], dtype=np.int64)


# Table 9-4 (me(v) coded_block_pattern), Inter column: codeNum -> cbp
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]


# ------------------------------------------------ motion compensation


def _pad_ref(plane: np.ndarray, x0: int, y0: int, w: int, h: int,
             margin: int) -> np.ndarray:
    """Reference window with frame-edge clamping (unrestricted MVs)."""
    ys = np.clip(np.arange(y0 - margin, y0 + h + margin), 0,
                 plane.shape[0] - 1)
    xs = np.clip(np.arange(x0 - margin, x0 + w + margin), 0,
                 plane.shape[1] - 1)
    return plane[np.ix_(ys, xs)].astype(np.int64)


def _six_tap(a, b, c, d, e, f):
    return a - 5 * b + 20 * c + 20 * d - 5 * e + f


def mc_luma(ref: np.ndarray, x0: int, y0: int, w: int, h: int,
            mvx: int, mvy: int) -> np.ndarray:
    """§8.4.2.2.1 quarter-pel luma prediction for a w×h block whose
    top-left integer position is (x0 + mvx>>2, y0 + mvy>>2)."""
    ix, iy = x0 + (mvx >> 2), y0 + (mvy >> 2)
    fx, fy = mvx & 3, mvy & 3
    win = _pad_ref(ref, ix, iy, w, h, 4)           # (h+8, w+8)
    g = win[4:5 + h, 4:5 + w]                      # integer grid (+1)
    if fx == 0 and fy == 0:
        return g[:h, :w]

    def hfilt(m):                                  # horizontal 6-tap
        return _six_tap(m[:, 0:-5], m[:, 1:-4], m[:, 2:-3],
                        m[:, 3:-2], m[:, 4:-1], m[:, 5:])

    def vfilt(m):
        return _six_tap(m[0:-5, :], m[1:-4, :], m[2:-3, :],
                        m[3:-2, :], m[4:-1, :], m[5:, :])

    # intermediate (unclipped) half-pel planes, all sliced to the
    # same (h+1, w+1) grid aligned with g so [dy, dx] offsets pick
    # the neighbouring sample
    bf = hfilt(win)                                # (h+8, w+3)
    b1 = bf[4:5 + h, 2:3 + w]
    h1 = vfilt(win)[2:3 + h, 4:5 + w]
    b = np.clip((b1 + 16) >> 5, 0, 255)
    hh = np.clip((h1 + 16) >> 5, 0, 255)
    j = None
    if (fx == 2 and fy != 0) or (fy == 2 and fx != 0):
        # centre j: vertical 6-tap over horizontal intermediates,
        # 20-bit precision per the spec
        j1 = vfilt(bf)[2:3 + h, 2:3 + w]
        j = np.clip((j1 + 512) >> 10, 0, 255)
    # Table 8-12 combination
    G = g
    if fy == 0:
        if fx == 1:
            out = (G[:h, :w] + b[:h, :w] + 1) >> 1
        elif fx == 2:
            out = b[:h, :w]
        else:
            out = (G[:h, 1:w + 1] + b[:h, :w] + 1) >> 1
    elif fx == 0:
        if fy == 1:
            out = (G[:h, :w] + hh[:h, :w] + 1) >> 1
        elif fy == 2:
            out = hh[:h, :w]
        else:
            out = (G[1:h + 1, :w] + hh[:h, :w] + 1) >> 1
    elif fx == 2 and fy == 2:
        out = j[:h, :w]
    elif fx == 2:                                  # f / q
        if fy == 1:
            out = (b[:h, :w] + j[:h, :w] + 1) >> 1
        else:
            out = (j[:h, :w] + b[1:h + 1, :w] + 1) >> 1
    elif fy == 2:                                  # i / k
        if fx == 1:
            out = (hh[:h, :w] + j[:h, :w] + 1) >> 1
        else:
            out = (j[:h, :w] + hh[:h, 1:w + 1] + 1) >> 1
    else:                                          # e / g / p / r
        bb = b[:h, :w] if fy == 1 else b[1:h + 1, :w]
        hhh = hh[:h, :w] if fx == 1 else hh[:h, 1:w + 1]
        out = (bb + hhh + 1) >> 1
    return out.astype(np.int64)


def mc_chroma(ref: np.ndarray, x0: int, y0: int, w: int, h: int,
              mvx: int, mvy: int) -> np.ndarray:
    """§8.4.2.2.2 eighth-pel bilinear chroma prediction (mv in luma
    quarter-pel units → chroma eighth-pel)."""
    ix, iy = x0 + (mvx >> 3), y0 + (mvy >> 3)
    fx, fy = mvx & 7, mvy & 7
    win = _pad_ref(ref, ix, iy, w, h, 1)
    a = win[1:1 + h, 1:1 + w]
    b = win[1:1 + h, 2:2 + w]
    c = win[2:2 + h, 1:1 + w]
    d = win[2:2 + h, 2:2 + w]
    return ((8 - fx) * (8 - fy) * a + fx * (8 - fy) * b
            + (8 - fx) * fy * c + fx * fy * d + 32) >> 6


# ----------------------------------------------------- MV prediction


def _mv_at(f, gx: int, gy: int, lst: int = 0):
    """(mv, ref) of the 4x4 block at grid (gx, gy) in reference list
    ``lst``; ref -1 when unavailable / outside / intra."""
    if gx < 0 or gy < 0 or gx >= f.mb_w * 4 or gy >= f.mb_h * 4:
        return (0, 0), -1
    if not f.blk_decoded[gy, gx]:
        return (0, 0), -1
    mvg = f.mv if lst == 0 else f.mv1
    refg = f.ref if lst == 0 else f.ref1
    return (int(mvg[gy, gx, 0]), int(mvg[gy, gx, 1])), \
        int(refg[gy, gx])


def mv_pred(f, gx: int, gy: int, pw4: int, ph4: int,
            part: str = "", lst: int = 0) -> tuple[int, int]:
    """§8.4.1.3 median MV prediction for a partition whose top-left
    4x4 block sits at grid (gx, gy), spanning pw4×ph4 blocks.
    ``part``: '' (median), 'top'/'bottom' (16x8), 'left'/'right'
    (8x16) directional rules (single-reference simplification: the
    directional neighbour is used when it is inter-coded)."""
    mva, ra = _mv_at(f, gx - 1, gy, lst)
    mvb, rb = _mv_at(f, gx, gy - 1, lst)
    mvc, rc = _mv_at(f, gx + pw4, gy - 1, lst)
    if rc < 0:
        mvc, rc = _mv_at(f, gx - 1, gy - 1, lst)   # D fallback
    if part == "top" and rb >= 0:
        return mvb
    if part == "bottom" and ra >= 0:
        return mva
    if part == "left" and ra >= 0:
        return mva
    if part == "right" and rc >= 0:
        return mvc
    avail = [(mv, r) for mv, r in ((mva, ra), (mvb, rb), (mvc, rc))]
    same = [mv for mv, r in avail if r == 0]
    if len(same) == 1:
        return same[0]
    # B and C unavailable, A available -> A
    if rb < 0 and rc < 0 and ra >= 0:
        return mva
    xs = sorted(mv[0] for mv, _ in avail)
    ys = sorted(mv[1] for mv, _ in avail)
    return xs[1], ys[1]


def skip_mv(f, mbx: int, mby: int) -> tuple[int, int]:
    """P_Skip motion vector (§8.4.1.1): the 16x16 prediction, forced
    to zero when the left/up neighbour is missing or is a zero-MV
    ref-0 block."""
    gx, gy = mbx * 4, mby * 4
    if mbx == 0 or mby == 0:
        return 0, 0
    mva, ra = _mv_at(f, gx - 1, gy)
    mvb, rb = _mv_at(f, gx, gy - 1)
    if ra == 0 and mva == (0, 0):
        return 0, 0
    if rb == 0 and mvb == (0, 0):
        return 0, 0
    return mv_pred(f, gx, gy, 4, 4)


# ------------------------------------------------------ decode core


class H264Decoder:
    """CAVLC decoder for I, P and B (16x16) slices.  Feed NAL units
    via :meth:`push`; completed frames accumulate in ``frames`` as
    (y, u, v) planes in decode order, with their picture order counts
    in ``pocs``; :meth:`decode` returns them in display order.
    References: the two most recent reference pictures
    (nal_ref_idc > 0); P predicts from the most recent, B picks
    list0 = nearest past / list1 = nearest future by POC."""

    def __init__(self):
        self.sps: dict = {}
        self.pps: dict = {}
        self.frames: list[tuple[np.ndarray, np.ndarray, np.ndarray]] \
            = []
        self.pocs: list[int] = []
        self._groups: list[int] = []      # IDR-led group per frame
        self._cur: _Frame | None = None
        self._sps_active: dict | None = None
        self._next_mb = 0
        self._refs: list[tuple] = []      # [(poc, (y, u, v))], <=2
        self._poc_cur = 0
        self._cur_is_ref = True
        self._decode_count = 0
        self._idr_count = 0

    def decode(self, nals, error: type = H264Error) -> list:
        """Push every NAL unit of ``nals`` -> (h, w, 3) RGB frames in
        display order: by POC within each IDR-led group.  Raises
        ``error`` (the container's class) when no frame decodes."""
        from tika_spark.analysis.vp8 import yuv_to_rgb
        for nal in nals:
            self.push(nal)
        if not self.frames:
            raise error("no decodable frames")
        order = sorted(range(len(self.frames)),
                       key=lambda k: (self._groups[k], self.pocs[k]))
        return [yuv_to_rgb(*self.frames[k]) for k in order]

    def push(self, nal: bytes) -> None:
        if not nal:
            return
        hdr = nal[0]
        if hdr & 0x80:
            raise H264Error("forbidden_zero_bit set")
        typ = hdr & 0x1F
        rbsp = rbsp_unescape(nal[1:])
        if typ == 7:
            sps = parse_sps(rbsp)
            self.sps[sps["sps_id"]] = sps
        elif typ == 8:
            pps = parse_pps(rbsp)
            self.pps[pps["pps_id"]] = pps
        elif typ in (1, 5):
            self._slice(rbsp, idr=typ == 5, ref_idc=(hdr >> 5) & 3)
        # SEI (6), AUD (9), filler (12) etc.: ignored

    @property
    def _ref(self):
        """Most recent reference planes (P prediction)."""
        return self._refs[-1][1] if self._refs else None

    def _flush(self) -> None:
        f = self._cur
        if f is None:
            return
        if self._cur_is_ref:
            self._refs.append((self._poc_cur,
                               (f.y.copy(), f.u.copy(), f.v.copy())))
            self._refs = self._refs[-2:]
        self.pocs.append(self._poc_cur)
        self._groups.append(self._idr_count)
        sps = self._sps_active
        w, h = sps["width"], sps["height"]
        cl, _cr, ct, _cb = sps["crop"]
        # crop offsets are in 2-luma-sample units for 4:2:0
        y = f.y[ct * 2:ct * 2 + h, cl * 2:cl * 2 + w]
        u = f.u[ct:ct + (h + 1) // 2, cl:cl + (w + 1) // 2]
        v = f.v[ct:ct + (h + 1) // 2, cl:cl + (w + 1) // 2]
        self.frames.append((y.astype(np.uint8), u.astype(np.uint8),
                            v.astype(np.uint8)))
        self._cur = None
        self._next_mb = 0

    def _b_refs(self) -> tuple[tuple, tuple]:
        """(list0, list1) reference planes for the current B frame."""
        past = [(p, pl) for p, pl in self._refs if p < self._poc_cur]
        fut = [(p, pl) for p, pl in self._refs if p > self._poc_cur]
        if not past or not fut:
            raise H264Error("B slice without past+future references")
        return max(past)[1], min(fut)[1]

    def _slice(self, rbsp: bytes, idr: bool, ref_idc: int = 3
               ) -> None:
        r = BitReader(rbsp)
        first_mb = r.ue()
        st = r.ue() % 5
        if st not in (0, 1, 2):
            raise H264Error("only I, P and B slices supported")
        pps = self.pps.get(r.ue())
        if pps is None:
            raise H264Error("slice references unknown PPS")
        if pps.get("entropy_cabac"):
            raise H264Error(
                "CABAC slice data not supported (CAVLC pixel decode "
                "only; header-level census still works — see "
                "slice_census)")
        sps = self.sps.get(pps["sps_id"])
        if sps is None:
            raise H264Error("PPS references unknown SPS")
        r.read(sps["log2_max_frame_num"])          # frame_num
        if idr:
            self._refs = []                       # IDR clears the DPB
            r.ue()                                # idr_pic_id
        poc = None
        if sps["poc_type"] == 0:
            poc = r.read(sps["log2_max_poc_lsb"])
            if pps["bottom_field_poc"]:
                r.se()
        if pps["redundant_pic_cnt_present"]:
            r.ue()
        if st == 1:
            r.flag()                              # direct_spatial flag
        nref0 = nref1 = 1
        if st in (0, 1):
            if r.flag():                          # num_ref_idx override
                nref0 = r.ue() + 1
                if st == 1:
                    nref1 = r.ue() + 1
            if r.flag():                          # list0 modification
                raise H264Error("ref_pic_list_modification "
                                "unsupported")
            if st == 1 and r.flag():              # list1 modification
                raise H264Error("ref_pic_list_modification "
                                "unsupported")
            if nref0 != 1 or nref1 != 1:
                raise H264Error("multiple reference frames "
                                "unsupported")
            # (weighted prediction is off in supported PPSes)
            if ref_idc and r.flag():              # adaptive marking
                raise H264Error("adaptive ref marking unsupported")
        qp = pps["pic_init_qp"] + r.se()
        if pps["deblock_ctrl"]:
            if r.ue() != 1:                       # we never filter
                r.se()
                r.se()
        if first_mb == 0:
            self._flush()
            self._cur = _Frame(sps["mb_w"], sps["mb_h"])
            self._sps_active = sps
            self._next_mb = 0
            self._cur_is_ref = ref_idc != 0
            self._poc_cur = poc if poc is not None \
                else 2 * self._decode_count
            self._decode_count += 1
            self._idr_count += idr
        if self._cur is None or first_mb != self._next_mb:
            raise H264Error("slices out of order")
        f = self._cur
        if st == 0 and self._ref is None:
            raise H264Error("P slice with no reference frame")
        brefs = self._b_refs() if st == 1 else None
        cqp_off = pps["chroma_qp_offset"]
        n_mbs = f.mb_w * f.mb_h
        addr = first_mb
        if st == 2:
            while addr < n_mbs and (addr == first_mb
                                    or r.more_rbsp_data()):
                qp = self._macroblock(r, f, addr, r.ue(), qp, cqp_off)
                addr += 1
        elif st == 0:
            while addr < n_mbs and r.more_rbsp_data():
                run = r.ue()                       # mb_skip_run
                for _ in range(min(run, n_mbs - addr)):
                    self._mb_pskip(f, addr)
                    addr += 1
                if addr >= n_mbs or not r.more_rbsp_data():
                    break
                qp = self._mb_p(r, f, addr, qp, cqp_off)
                addr += 1
        else:
            while addr < n_mbs and r.more_rbsp_data():
                if r.ue() != 0:                    # mb_skip_run
                    raise H264Error("B_Skip / direct mode "
                                    "unsupported")
                if addr >= n_mbs or not r.more_rbsp_data():
                    break
                qp = self._mb_b(r, f, addr, qp, cqp_off, brefs)
                addr += 1
        self._next_mb = addr
        if addr >= n_mbs:
            self._flush()

    # -- intra macroblocks ----------------------------------------------

    def _macroblock(self, r: BitReader, f: _Frame, addr: int,
                    mb_type: int, qp: int, cqp_off: int) -> int:
        """One intra macroblock (I mb_type 0..25) -> updated qp."""
        mbx, mby = addr % f.mb_w, addr // f.mb_w
        if mb_type > 25:
            raise H264Error(f"bad I mb_type {mb_type}")
        x0, y0 = mbx * 16, mby * 16
        cx0, cy0 = mbx * 8, mby * 8
        bx0, by0 = mbx * 4, mby * 4
        have_l = mbx > 0
        have_t = mby > 0

        if mb_type == 25:                            # I_PCM
            r.align()
            y = np.frombuffer(r.raw(256), np.uint8)
            f.y[y0:y0 + 16, x0:x0 + 16] = y.reshape(16, 16)
            u = np.frombuffer(r.raw(64), np.uint8)
            f.u[cy0:cy0 + 8, cx0:cx0 + 8] = u.reshape(8, 8)
            v = np.frombuffer(r.raw(64), np.uint8)
            f.v[cy0:cy0 + 8, cx0:cx0 + 8] = v.reshape(8, 8)
            f.tc_y[by0:by0 + 4, bx0:bx0 + 4] = 16
            f.tc_u[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 16
            f.tc_v[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 16
            f.blk_decoded[by0:by0 + 4, bx0:bx0 + 4] = True
            f.mb_decoded[mby, mbx] = True
            return qp

        if mb_type == 0:                             # I_4x4
            modes = []
            for i in range(16):
                bx, by = _BLK4[i]
                gx, gy = bx0 + bx, by0 + by
                ma = f.i4mode[gy, gx - 1] if gx > 0 else -1
                mb_ = f.i4mode[gy - 1, gx] if gy > 0 else -1
                pred = min(ma if ma >= 0 else 2, mb_ if mb_ >= 0 else 2)
                if r.flag():
                    mode = pred
                else:
                    rem = r.read(3)
                    mode = rem if rem < pred else rem + 1
                modes.append(mode)
                f.i4mode[gy, gx] = mode
            chroma_mode = r.ue()
            cbp = _CBP_INTRA[r.ue()]
            cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
            if cbp:
                qp = (qp + r.se()) % 52
            # residual + reconstruct per 4x4 in decode order
            for i in range(16):
                bx, by = _BLK4[i]
                gx, gy = bx0 + bx, by0 + by
                if cbp_luma & (1 << (i >> 2)):
                    nc = _nc(f.tc_y, gx, gy)
                    lv, tc = read_residual_block(r, nc, 16)
                else:
                    lv, tc = np.zeros(16, np.int32), 0
                f.tc_y[gy, gx] = tc
                self._recon4(f, gx, gy, modes[i], lv, qp)
            self._chroma(r, f, mbx, mby, chroma_mode, cbp_chroma,
                         qp, cqp_off)
            f.blk_decoded[by0:by0 + 4, bx0:bx0 + 4] = True
            f.mb_decoded[mby, mbx] = True
            return qp

        # I_16x16: mb_type 1..24 encodes (pred, cbp_chroma, cbp_luma)
        t = mb_type - 1
        pred_mode = t % 4
        cbp_chroma = (t // 4) % 3
        cbp_luma = 15 if t >= 12 else 0
        chroma_mode = r.ue()
        qp = (qp + r.se()) % 52
        top = f.y[y0 - 1, x0:x0 + 16] if have_t else None
        left = f.y[y0:y0 + 16, x0 - 1] if have_l else None
        tl = f.y[y0 - 1, x0 - 1] if (have_t and have_l) else 0
        pred = pred_intra16(pred_mode, top, left, tl, have_t, have_l)
        # luma DC
        nc = _nc(f.tc_y, bx0, by0)
        dc_lv, _dc_tc = read_residual_block(r, nc, 16)
        dc = hadamard4(_zz_to_mat(dc_lv, False))
        dc = dequant_luma_dc(dc, qp)
        recon = np.empty((16, 16), dtype=np.int32)
        for i in range(16):
            bx, by = _BLK4[i]
            gx, gy = bx0 + bx, by0 + by
            if cbp_luma:
                nc = _nc(f.tc_y, gx, gy)
                lv, tc = read_residual_block(r, nc, 15)
            else:
                lv, tc = np.zeros(15, np.int32), 0
            f.tc_y[gy, gx] = tc
            m = _zz_to_mat(lv, True)
            m = dequant_ac(m, qp)
            m[0, 0] = dc[by, bx]
            res = (inverse_core4(m) + 32) >> 6
            blk = pred[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res
            recon[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = blk
        f.y[y0:y0 + 16, x0:x0 + 16] = _clip8(recon)
        self._chroma(r, f, mbx, mby, chroma_mode, cbp_chroma,
                     qp, cqp_off)
        f.blk_decoded[by0:by0 + 4, bx0:bx0 + 4] = True
        f.mb_decoded[mby, mbx] = True
        return qp

    def _recon4(self, f: _Frame, gx: int, gy: int, mode: int,
                levels: np.ndarray, qp: int) -> None:
        """Predict + add residual for one luma 4x4 block (I_4x4)."""
        x, y = gx * 4, gy * 4
        have_l = gx > 0 and f.blk_decoded[gy, gx - 1]
        have_t = gy > 0 and f.blk_decoded[gy - 1, gx]
        have_tl = gx > 0 and gy > 0 and f.blk_decoded[gy - 1, gx - 1]
        have_tr = (gy > 0 and gx + 1 < f.mb_w * 4
                   and f.blk_decoded[gy - 1, gx + 1])
        top = f.y[y - 1, x:x + 4] if have_t else None
        tr = f.y[y - 1, x + 4:x + 8] if have_tr else None
        if have_tr and tr is not None and len(tr) < 4:
            tr = np.pad(tr, (0, 4 - len(tr)), mode="edge")
        left = f.y[y:y + 4, x - 1] if have_l else None
        tl = f.y[y - 1, x - 1] if have_tl else 0
        pred = pred_intra4x4(mode, top, tr, left, tl,
                             have_t, have_l, have_tl, have_tr)
        m = dequant_ac(_zz_to_mat(levels, False), qp)
        res = (inverse_core4(m) + 32) >> 6
        f.y[y:y + 4, x:x + 4] = _clip8(pred + res)
        f.blk_decoded[gy, gx] = True

    def _chroma(self, r: BitReader, f: _Frame, mbx: int, mby: int,
                mode: int, cbp_chroma: int, qp: int,
                cqp_off: int) -> None:
        """Intra chroma: predict both components, then the shared
        residual path."""
        x0, y0 = mbx * 8, mby * 8
        have_l, have_t = mbx > 0, mby > 0
        preds = []
        for plane in (f.u, f.v):
            top = plane[y0 - 1, x0:x0 + 8] if have_t else None
            left = plane[y0:y0 + 8, x0 - 1] if have_l else None
            tl = plane[y0 - 1, x0 - 1] if (have_t and have_l) else 0
            preds.append(pred_chroma8(mode, top, left, tl, have_t,
                                      have_l))
        self._chroma_residual(r, f, mbx, mby, cbp_chroma, qp, cqp_off,
                              preds)

    def _chroma_residual(self, r: BitReader, f: _Frame, mbx: int,
                         mby: int, cbp_chroma: int, qp: int,
                         cqp_off: int, preds) -> None:
        """Chroma DC 2x2 + AC residual over the (u, v) predictions:
        both DC blocks parse first, then each component's AC."""
        cqp = chroma_qp(qp, cqp_off)
        x0, y0 = mbx * 8, mby * 8
        dcs = []
        for _ in range(2):
            if cbp_chroma:
                lv, _tc_n = read_residual_block(r, -1, 4)
            else:
                lv = np.zeros(4, np.int32)
            d = np.array([[lv[0], lv[1]], [lv[2], lv[3]]],
                         dtype=np.int64)
            h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
            dcs.append(dequant_chroma_dc(h2 @ d @ h2, cqp))
        for ci, (plane, tcm, pred) in enumerate(
                ((f.u, f.tc_u, preds[0]), (f.v, f.tc_v, preds[1]))):
            recon = np.array(pred, dtype=np.int64)
            for i in range(4):
                bx, by = i & 1, i >> 1
                gx, gy = mbx * 2 + bx, mby * 2 + by
                if cbp_chroma == 2:
                    nc = _nc(tcm, gx, gy)
                    lv, tc = read_residual_block(r, nc, 15)
                else:
                    lv, tc = np.zeros(15, np.int32), 0
                tcm[gy, gx] = tc
                m = dequant_ac(_zz_to_mat(lv, True), cqp)
                m[0, 0] = dcs[ci][by, bx]
                res = (inverse_core4(m) + 32) >> 6
                recon[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] += res
            plane[y0:y0 + 8, x0:x0 + 8] = _clip8(recon)

    # -- inter macroblocks ----------------------------------------------

    def _mc_into(self, f, mbx, mby, parts, ref, lst: int = 0):
        """MC prediction for [(px4, py4, pw4, ph4, mv)] partitions (in
        4x4 units, MB-relative) from ``ref`` planes; records list
        ``lst``'s mv/ref grids."""
        ry, ru, rv = ref
        x0, y0 = mbx * 16, mby * 16
        mvg = f.mv if lst == 0 else f.mv1
        refg = f.ref if lst == 0 else f.ref1
        pred_y = np.empty((16, 16), dtype=np.int64)
        pred_u = np.empty((8, 8), dtype=np.int64)
        pred_v = np.empty((8, 8), dtype=np.int64)
        for px4, py4, pw4, ph4, (mvx, mvy) in parts:
            px, py = px4 * 4, py4 * 4
            w, h = pw4 * 4, ph4 * 4
            pred_y[py:py + h, px:px + w] = mc_luma(
                ry, x0 + px, y0 + py, w, h, mvx, mvy)
            cw, ch = w // 2, h // 2
            cx, cy = (x0 + px) // 2, (y0 + py) // 2
            pred_u[py // 2:py // 2 + ch, px // 2:px // 2 + cw] = \
                mc_chroma(ru, cx, cy, cw, ch, mvx, mvy)
            pred_v[py // 2:py // 2 + ch, px // 2:px // 2 + cw] = \
                mc_chroma(rv, cx, cy, cw, ch, mvx, mvy)
            gx, gy = mbx * 4 + px4, mby * 4 + py4
            mvg[gy:gy + ph4, gx:gx + pw4] = (mvx, mvy)
            refg[gy:gy + ph4, gx:gx + pw4] = 0
        return pred_y, pred_u, pred_v

    def _mb_pskip(self, f, addr):
        mbx, mby = addr % f.mb_w, addr // f.mb_w
        mv = skip_mv(f, mbx, mby)
        pred_y, pred_u, pred_v = self._mc_into(
            f, mbx, mby, [(0, 0, 4, 4, mv)], self._ref)
        x0, y0, cx0, cy0 = mbx * 16, mby * 16, mbx * 8, mby * 8
        f.y[y0:y0 + 16, x0:x0 + 16] = _clip8(pred_y)
        f.u[cy0:cy0 + 8, cx0:cx0 + 8] = _clip8(pred_u)
        f.v[cy0:cy0 + 8, cx0:cx0 + 8] = _clip8(pred_v)
        bx0, by0 = mbx * 4, mby * 4
        f.tc_y[by0:by0 + 4, bx0:bx0 + 4] = 0
        f.tc_u[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 0
        f.tc_v[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 0
        f.blk_decoded[by0:by0 + 4, bx0:bx0 + 4] = True
        f.mb_decoded[mby, mbx] = True

    def _mb_p(self, r, f, addr, qp, cqp_off):
        mbx, mby = addr % f.mb_w, addr // f.mb_w
        mb_type = r.ue()
        if mb_type >= 5:                           # intra in P slice
            return self._macroblock(r, f, addr, mb_type - 5, qp,
                                    cqp_off)
        gx0, gy0 = mbx * 4, mby * 4
        parts = []
        if mb_type == 0:                           # P_L0_16x16
            pmv = mv_pred(f, gx0, gy0, 4, 4)
            mvd = (r.se(), r.se())
            parts.append((0, 0, 4, 4, (pmv[0] + mvd[0],
                                       pmv[1] + mvd[1])))
        elif mb_type == 1:                         # 16x8 (top, bottom)
            mvds = [(r.se(), r.se()), (r.se(), r.se())]
            for k, py4 in enumerate((0, 2)):
                pmv = mv_pred(f, gx0, gy0 + py4, 4, 2,
                              part="top" if k == 0 else "bottom")
                parts.append((0, py4, 4, 2, (pmv[0] + mvds[k][0],
                                             pmv[1] + mvds[k][1])))
                # record as we go so the bottom partition can use the
                # top's mv via the A/B/C grid? (spec predicts both
                # from neighbours outside the MB for top, and uses A
                # for bottom) — grid write happens in _mc_into later,
                # so stage the top partition's mv now
                gx, gy = gx0, gy0 + py4
                f.mv[gy:gy + 2, gx:gx + 4] = parts[-1][4]
                f.ref[gy:gy + 2, gx:gx + 4] = 0
                f.blk_decoded[gy:gy + 2, gx:gx + 4] = True
        elif mb_type == 2:                         # 8x16 (left, right)
            mvds = [(r.se(), r.se()), (r.se(), r.se())]
            for k, px4 in enumerate((0, 2)):
                pmv = mv_pred(f, gx0 + px4, gy0, 2, 4,
                              part="left" if k == 0 else "right")
                parts.append((px4, 0, 2, 4, (pmv[0] + mvds[k][0],
                                             pmv[1] + mvds[k][1])))
                gx, gy = gx0 + px4, gy0
                f.mv[gy:gy + 4, gx:gx + 2] = parts[-1][4]
                f.ref[gy:gy + 4, gx:gx + 2] = 0
                f.blk_decoded[gy:gy + 4, gx:gx + 2] = True
        elif mb_type in (3, 4):                    # P_8x8 / P_8x8ref0
            subs = [r.ue() for _ in range(4)]
            if any(s > 3 for s in subs):
                raise H264Error("bad sub_mb_type")
            # mvd parse order: all partitions of sub-MB 0..3
            for smb in range(4):
                sx4, sy4 = 2 * (smb & 1), 2 * (smb >> 1)
                shape = subs[smb]                  # 0:8x8 1:8x4 2:4x8 3:4x4
                if shape == 0:
                    plist = [(sx4, sy4, 2, 2)]
                elif shape == 1:
                    plist = [(sx4, sy4, 2, 1), (sx4, sy4 + 1, 2, 1)]
                elif shape == 2:
                    plist = [(sx4, sy4, 1, 2), (sx4 + 1, sy4, 1, 2)]
                else:
                    plist = [(sx4 + dx, sy4 + dy, 1, 1)
                             for dy in (0, 1) for dx in (0, 1)]
                for px4, py4, pw4, ph4 in plist:
                    pmv = mv_pred(f, gx0 + px4, gy0 + py4, pw4, ph4)
                    mvd = (r.se(), r.se())
                    mv = (pmv[0] + mvd[0], pmv[1] + mvd[1])
                    parts.append((px4, py4, pw4, ph4, mv))
                    gx, gy = gx0 + px4, gy0 + py4
                    f.mv[gy:gy + ph4, gx:gx + pw4] = mv
                    f.ref[gy:gy + ph4, gx:gx + pw4] = 0
                    f.blk_decoded[gy:gy + ph4, gx:gx + pw4] = True
        else:
            raise H264Error(f"bad P mb_type {mb_type}")
        return self._inter_residual(
            r, f, mbx, mby, qp, cqp_off,
            self._mc_into(f, mbx, mby, parts, self._ref))

    def _mb_b(self, r, f, addr, qp, cqp_off, brefs):
        mbx, mby = addr % f.mb_w, addr // f.mb_w
        mb_type = r.ue()
        if mb_type >= 23:                          # intra in B slice
            return self._macroblock(r, f, addr, mb_type - 23, qp,
                                    cqp_off)
        if mb_type not in (1, 2, 3):
            raise H264Error("only B_L0/L1/Bi_16x16 (+intra) B "
                            "macroblocks supported")
        gx0, gy0 = mbx * 4, mby * 4
        mvs = [None, None]
        for lst in (0, 1):
            if mb_type in ((1, 3), (2, 3))[lst]:
                pmv = mv_pred(f, gx0, gy0, 4, 4, lst=lst)
                mvs[lst] = (pmv[0] + r.se(), pmv[1] + r.se())
        # L0 / L1 / bi-average prediction for the whole MB
        outs = [self._mc_into(f, mbx, mby, [(0, 0, 4, 4, mv)], ref, lst)
                for lst, (mv, ref) in enumerate(zip(mvs, brefs))
                if mv is not None]
        if len(outs) == 2:
            outs = [tuple((a + b + 1) >> 1 for a, b in zip(*outs))]
        return self._inter_residual(r, f, mbx, mby, qp, cqp_off,
                                    outs[0])

    def _inter_residual(self, r, f, mbx, mby, qp, cqp_off, preds):
        """coded_block_pattern, qp delta and the luma + chroma
        residual of a P or B macroblock over its MC ``preds``."""
        pred_y, pred_u, pred_v = preds
        cbp = _CBP_INTER[r.ue()]
        cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
        if cbp:
            qp = (qp + r.se()) % 52
        x0, y0 = mbx * 16, mby * 16
        gx0, gy0 = mbx * 4, mby * 4
        recon = pred_y.copy()
        for i in range(16):
            bx, by = _BLK4[i]
            gx, gy = gx0 + bx, gy0 + by
            if cbp_luma & (1 << (i >> 2)):
                nc = _nc(f.tc_y, gx, gy)
                lv, tc = read_residual_block(r, nc, 16)
            else:
                lv, tc = np.zeros(16, np.int32), 0
            f.tc_y[gy, gx] = tc
            m = dequant_ac(_zz_to_mat(lv, False), qp)
            res = (inverse_core4(m) + 32) >> 6
            recon[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] += res
        f.y[y0:y0 + 16, x0:x0 + 16] = _clip8(recon)
        self._chroma_residual(r, f, mbx, mby, cbp_chroma, qp, cqp_off,
                              (pred_u, pred_v))
        f.blk_decoded[gy0:gy0 + 4, gx0:gx0 + 4] = True
        f.mb_decoded[mby, mbx] = True
        return qp


def decode_h264_annexb(data: bytes) -> list[np.ndarray]:
    """Annex-B stream (I, P and B slices) -> list of (h, w, 3) RGB
    frames in display order."""
    return H264Decoder().decode(split_annexb(bytes(data or b"")))


# ------------------------------------------------------ slice census

_SLICE_TYPE_NAMES = ("P", "B", "I", "SP", "SI")


def parse_slice_header(rbsp: bytes, sps_map: dict, pps_map: dict,
                       idr: bool) -> dict:
    """Entropy-mode-independent slice-header parse (ITU-T H.264
    §7.3.3 prefix): slice headers are plain Exp-Golomb even when the
    slice DATA is CABAC-coded, so frame census works for the
    Main/High-profile web MP4 majority that the CAVLC pixel decoder
    must status-row."""
    r = BitReader(rbsp)
    first_mb = r.ue()
    slice_type = r.ue()
    pps = pps_map.get(r.ue())
    if pps is None:
        raise H264Error("slice references unknown PPS")
    sps = sps_map.get(pps["sps_id"])
    if sps is None:
        raise H264Error("PPS references unknown SPS")
    frame_num = r.read(sps["log2_max_frame_num"])
    idr_pic_id = r.ue() if idr else None
    poc_lsb = None
    if sps["poc_type"] == 0:
        poc_lsb = r.read(sps["log2_max_poc_lsb"])
    return {"first_mb": first_mb,
            "slice_type": _SLICE_TYPE_NAMES[slice_type % 5],
            "frame_num": frame_num, "idr": idr,
            "idr_pic_id": idr_pic_id, "poc_lsb": poc_lsb,
            "entropy": "cabac" if pps.get("entropy_cabac")
            else "cavlc"}


def slice_census(nals: list[bytes]) -> list[dict]:
    """Per-slice census over a NAL sequence (any entropy mode):
    slice type, frame_num, POC lsb, IDR flag, NAL size. Non-slice
    and unparsable NALs are skipped — census is best-effort per H1
    fault isolation."""
    sps_map: dict = {}
    pps_map: dict = {}
    out: list[dict] = []
    for nal in nals:
        if not nal:
            continue
        nal_type = nal[0] & 0x1F
        try:
            rbsp = rbsp_unescape(nal[1:])
            if nal_type == 7:
                s = parse_sps(rbsp)
                sps_map[s["sps_id"]] = s
            elif nal_type == 8:
                p = parse_pps(rbsp)
                pps_map[p["pps_id"]] = p
            elif nal_type in (1, 5):
                h = parse_slice_header(rbsp, sps_map, pps_map,
                                       idr=nal_type == 5)
                h["nal_bytes"] = len(nal)
                out.append(h)
        except H264Error:
            continue
    return out


def cabac_slice_nals(pattern: str, seed: int = 0,
                     payload_bytes: int = 64) -> list[bytes]:
    """Fixture: a Main-profile NAL sequence whose PPS flags CABAC
    entropy coding and whose slices open with the Exp-Golomb slice
    header prefix the census reads (type/frame_num/POC per
    ``pattern``, e.g. "IPBBP"), then zero bits to the byte boundary,
    then deterministic opaque payload standing in for the CABAC-coded
    slice data. Not a spec-valid slice: the header stops after the
    POC fields, and the pad is zero bits where ITU-T H.264 puts
    ``cabac_alignment_one_bit`` (1-bits). The census tier never reads
    past that prefix — exactly as with real Main/High web MP4 — so
    this exercises the real parse path end-to-end; pixel decoders
    must cleanly refuse these.

    CABAC slice-data decode itself stays out of scope: the ~1,000
    context-initialization constants of ITU-T H.264 §9.3.1 tables
    9-12..9-33 are spec data with no in-container source to extract
    from (unlike the brotli tables), and a fabricated table would
    MIS-decode real streams silently instead of status-rowing —
    worse than honest refusal. See BENCH/CONFORMANCE.md."""
    w = BitWriter()
    w.write(77, 8)                               # Main profile
    w.write(0, 8)
    w.write(30, 8)
    w.ue(0)                                  # sps_id
    w.ue(0)                                  # log2_max_frame_num = 4
    w.ue(0)                                  # poc_type 0
    w.ue(4)                                  # log2_max_poc_lsb = 8
    w.ue(2)
    w.write(0, 1)
    w.ue(0)                                  # mb_w 1
    w.ue(0)                                  # mb_h 1
    w.write(1, 1)                                # frame_mbs_only
    w.write(0, 1)
    w.write(0, 1)                                # no crop
    w.write(0, 1)                                # no VUI
    w.rbsp_trailing()
    sps = w.bytes()
    w = BitWriter()
    w.ue(0)                                  # pps_id
    w.ue(0)                                  # sps_id
    w.write(1, 1)                                # entropy_coding_mode=CABAC
    w.write(1, 1)                                # bottom-field POC present
    w.ue(0)
    w.ue(0)
    w.ue(0)
    w.write(0, 1)
    w.write(0, 2)
    w.se(0)                                  # pic_init_qp 26
    w.se(0)
    w.se(0)
    w.write(0, 1)
    w.write(0, 1)
    w.write(0, 1)
    w.rbsp_trailing()
    pps = w.bytes()
    nals = [_nal(7, sps), _nal(8, pps)]
    type_code = {"P": 5, "B": 6, "I": 7}     # all-slices-same variants
    for k, ch in enumerate(pattern):
        idr = k == 0
        w = BitWriter()
        w.ue(0)                              # first_mb_in_slice
        w.ue(type_code[ch if not idr else "I"])
        w.ue(0)                              # pps_id
        w.write((seed + k) % 16, 4)              # frame_num
        if idr:
            w.ue(seed % 4)                   # idr_pic_id
        w.write((2 * k) % 256, 8)                # pic_order_cnt_lsb
        w.se(0)                              # delta_poc_bottom
        # opaque stand-in for CABAC slice data (never parsed)
        body = bytes((seed * 31 + k * 7 + i) % 251
                     for i in range(payload_bytes))
        w.align()
        nals.append(_nal(5 if idr else 1, w.bytes() + body))
    return nals


# ----------------------------------------------------------- encoder


def _mf_matrix(qp: int) -> np.ndarray:
    return np.array(_MF[qp % 6], dtype=np.int64)[_POS_CLASS]


def _quant4(w: np.ndarray, qp: int, skip_dc: bool) -> np.ndarray:
    """Forward quantization of a 4x4 core-transform output (JM-style
    intra rounding f = 2^qbits/3)."""
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf = _mf_matrix(qp)
    z = np.sign(w) * ((np.abs(w) * mf + f) >> qbits)
    if skip_dc:
        z[0, 0] = 0
    return z.astype(np.int64)


def _quant_dc(wd: np.ndarray, qp: int) -> np.ndarray:
    """Forward quantization of the luma-DC Hadamard / chroma-DC 2x2
    output (extra /2 per the DC path)."""
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    mf = int(_MF[qp % 6][0])
    return (np.sign(wd)
            * ((np.abs(wd) * mf + 2 * f) >> (qbits + 1))).astype(
                np.int64)


class H264Encoder:
    """Fixture-grade intra encoder sharing the decoder's VLC tables
    and reconstruction math (so encode→decode is self-consistent).
    Frame sizes must be even; non-multiples of 16 are cropped via the
    SPS frame_cropping fields."""

    def __init__(self, width: int, height: int, qp: int = 28):
        if width % 2 or height % 2:
            raise H264Error("encoder needs even dimensions")
        if not 0 <= qp <= 51:
            raise H264Error("qp out of range")
        self.w, self.h, self.qp = width, height, qp
        self.mb_w = (width + 15) // 16
        self.mb_h = (height + 15) // 16
        self.poc_type = 2         # 0 when B frames need explicit POC
        self._poc_lsb = 0

    # -- headers ------------------------------------------------------

    def sps_rbsp(self) -> bytes:
        w = BitWriter()
        w.write(66, 8)                           # Baseline
        w.write(0, 8)
        w.write(30, 8)                           # level 3.0
        w.ue(0)                              # sps_id
        w.ue(0)                              # log2_max_frame_num = 4
        w.ue(self.poc_type)
        if self.poc_type == 0:
            w.ue(4)                          # log2_max_poc_lsb = 8
        w.ue(2 if self.poc_type == 0 else 1)  # max_num_ref_frames
        w.write(0, 1)                            # gaps allowed
        w.ue(self.mb_w - 1)
        w.ue(self.mb_h - 1)
        w.write(1, 1)                            # frame_mbs_only
        w.write(1, 1)                            # direct_8x8_inference
        crop_r = (self.mb_w * 16 - self.w) // 2
        crop_b = (self.mb_h * 16 - self.h) // 2
        if crop_r or crop_b:
            w.write(1, 1)
            w.ue(0)
            w.ue(crop_r)
            w.ue(0)
            w.ue(crop_b)
        else:
            w.write(0, 1)
        w.write(0, 1)                            # no VUI
        w.rbsp_trailing()
        return w.bytes()

    def pps_rbsp(self) -> bytes:
        w = BitWriter()
        w.ue(0)                              # pps_id
        w.ue(0)                              # sps_id
        w.write(0, 1)                            # CAVLC
        w.write(0, 1)                            # no bottom-field POC
        w.ue(0)                              # one slice group
        w.ue(0)
        w.ue(0)
        w.write(0, 1)                            # weighted_pred
        w.write(0, 2)
        w.se(self.qp - 26)                   # pic_init_qp
        w.se(0)
        w.se(0)                              # chroma_qp_offset
        w.write(1, 1)                            # deblock control present
        w.write(0, 1)                            # constrained_intra
        w.write(0, 1)                            # redundant_pic_cnt
        w.rbsp_trailing()
        return w.bytes()

    # -- frame ----------------------------------------------------------

    def encode_frame(self, y: np.ndarray, u: np.ndarray,
                     v: np.ndarray, plan: str = "i16dc") -> bytes:
        """One IDR slice RBSP for (y, u, v) planes (uint8, 4:2:0).
        ``plan``: 'pcm' | 'i16dc' | 'i4dc' | 'mix' (cycles the
        three per macroblock)."""
        mbw, mbh = self.mb_w, self.mb_h
        f = _Frame(mbw, mbh)
        py = np.zeros((mbh * 16, mbw * 16), dtype=np.int32)
        pu = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
        pv = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
        py[:y.shape[0], :y.shape[1]] = y
        # edge-pad so cropped regions predict smoothly
        py[y.shape[0]:, :y.shape[1]] = py[y.shape[0] - 1, :y.shape[1]]
        py[:, y.shape[1]:] = py[:, y.shape[1] - 1:y.shape[1]]
        pu[:u.shape[0], :u.shape[1]] = u
        pu[u.shape[0]:, :u.shape[1]] = pu[u.shape[0] - 1, :u.shape[1]]
        pu[:, u.shape[1]:] = pu[:, u.shape[1] - 1:u.shape[1]]
        pv[:v.shape[0], :v.shape[1]] = v
        pv[v.shape[0]:, :v.shape[1]] = pv[v.shape[0] - 1, :v.shape[1]]
        pv[:, v.shape[1]:] = pv[:, v.shape[1] - 1:v.shape[1]]

        w = BitWriter()
        w.ue(0)                              # first_mb_in_slice
        w.ue(7)                              # slice_type I (all)
        w.ue(0)                              # pps_id
        w.write(0, 4)                            # frame_num
        w.ue(0)                              # idr_pic_id
        if self.poc_type == 0:
            w.write(self._poc_lsb & 255, 8)      # pic_order_cnt_lsb
        w.se(0)                              # slice_qp_delta
        w.ue(1)                              # disable deblocking
        plans = ("pcm", "i16dc", "i4dc")
        for addr in range(mbw * mbh):
            p = plan if plan not in ("mix", "rotate") \
                else plans[addr % 3]
            rot = plan == "rotate"
            if p == "pcm" and not rot:
                self._mb_pcm(w, f, addr, py, pu, pv)
            elif p == "pcm":                 # rotate: no PCM, cycle
                self._mb_i16(w, f, addr, py, pu, pv, rotate=True)
            elif p == "i16dc":
                self._mb_i16(w, f, addr, py, pu, pv, rotate=rot)
            elif p == "i4dc":
                self._mb_i4(w, f, addr, py, pu, pv, rotate=rot)
            else:
                raise H264Error(f"unknown plan {p!r}")
        w.rbsp_trailing()
        self._last_f = f          # recon state (P-encoder reference)
        return w.bytes()

    def _mb_pcm(self, w, f, addr, py, pu, pv, toff=0):
        mbx, mby = addr % self.mb_w, addr // self.mb_w
        x0, y0, cx0, cy0 = mbx * 16, mby * 16, mbx * 8, mby * 8
        w.ue(25 + toff)
        w.align()
        yblk = py[y0:y0 + 16, x0:x0 + 16].astype(np.uint8)
        ublk = pu[cy0:cy0 + 8, cx0:cx0 + 8].astype(np.uint8)
        vblk = pv[cy0:cy0 + 8, cx0:cx0 + 8].astype(np.uint8)
        w.raw(yblk.tobytes())
        w.raw(ublk.tobytes())
        w.raw(vblk.tobytes())
        f.y[y0:y0 + 16, x0:x0 + 16] = yblk
        f.u[cy0:cy0 + 8, cx0:cx0 + 8] = ublk
        f.v[cy0:cy0 + 8, cx0:cx0 + 8] = vblk
        bx0, by0 = mbx * 4, mby * 4
        f.tc_y[by0:by0 + 4, bx0:bx0 + 4] = 16
        f.tc_u[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 16
        f.tc_v[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 16
        f.blk_decoded[by0:by0 + 4, bx0:bx0 + 4] = True
        f.mb_decoded[mby, mbx] = True

    def _chroma_code(self, f, mbx, mby, pu, pv, cmode=0):
        """Quantize both chroma components; returns
        (cbp_chroma, per-component (zdc, [zac x4], pred), cqp)."""
        cqp = chroma_qp(self.qp)
        x0, y0 = mbx * 8, mby * 8
        have_l, have_t = mbx > 0, mby > 0
        out = []
        any_ac = False
        any_dc = False
        for plane, src in ((f.u, pu), (f.v, pv)):
            top = plane[y0 - 1, x0:x0 + 8] if have_t else None
            left = plane[y0:y0 + 8, x0 - 1] if have_l else None
            tl = plane[y0 - 1, x0 - 1] if (have_t and have_l) else 0
            pred = pred_chroma8(cmode, top, left, tl, have_t, have_l)
            resid = src[y0:y0 + 8, x0:x0 + 8].astype(np.int64) - pred
            dc_raw = np.zeros((2, 2), dtype=np.int64)
            acs = []
            for i in range(4):
                bx, by = i & 1, i >> 1
                wm = forward_core4(resid[by * 4:by * 4 + 4,
                                         bx * 4:bx * 4 + 4])
                dc_raw[by, bx] = wm[0, 0]
                acs.append(_quant4(wm, cqp, skip_dc=True))
            h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
            zdc = _quant_dc(h2 @ dc_raw @ h2, cqp)
            any_dc |= bool(np.any(zdc))
            any_ac |= any(bool(np.any(a)) for a in acs)
            out.append((zdc, acs, pred))
        cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
        return cbp_chroma, out, cqp

    def _chroma_write_recon(self, w, f, mbx, mby, cbp_chroma, comps,
                            cqp):
        """Write chroma residual (decoder parse order) and
        reconstruct both planes decoder-exactly."""
        x0, y0 = mbx * 8, mby * 8
        if cbp_chroma:
            for zdc, _acs, _pred in comps:
                write_residual_block(
                    w, np.array([zdc[0, 0], zdc[0, 1], zdc[1, 0],
                                 zdc[1, 1]], dtype=np.int64), -1, 4)
        for ci, (plane, tcm) in enumerate(((f.u, f.tc_u),
                                           (f.v, f.tc_v))):
            zdc, acs, pred = comps[ci]
            if cbp_chroma:
                h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
                dc = dequant_chroma_dc(h2 @ zdc @ h2, cqp)
            else:
                dc = np.zeros((2, 2), dtype=np.int64)
            recon = np.empty((8, 8), dtype=np.int32)
            for i in range(4):
                bx, by = i & 1, i >> 1
                gx, gy = mbx * 2 + bx, mby * 2 + by
                if cbp_chroma == 2:
                    nc = _nc(tcm, gx, gy)
                    tc = write_residual_block(
                        w, _mat_to_zz(acs[i], True), nc, 15)
                else:
                    tc = 0
                tcm[gy, gx] = tc
                m = dequant_ac(
                    acs[i] if cbp_chroma == 2
                    else np.zeros((4, 4), np.int64), cqp)
                m[0, 0] = dc[by, bx]
                res = (inverse_core4(m) + 32) >> 6
                recon[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = \
                    pred[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res
            plane[y0:y0 + 8, x0:x0 + 8] = _clip8(recon)

    def _mb_i16(self, w, f, addr, py, pu, pv, rotate=False, toff=0):
        mbx, mby = addr % self.mb_w, addr // self.mb_w
        qp = self.qp
        x0, y0 = mbx * 16, mby * 16
        bx0, by0 = mbx * 4, mby * 4
        have_l, have_t = mbx > 0, mby > 0
        top = f.y[y0 - 1, x0:x0 + 16] if have_t else None
        left = f.y[y0:y0 + 16, x0 - 1] if have_l else None
        tl = f.y[y0 - 1, x0 - 1] if (have_t and have_l) else 0
        pmode, cmode = 2, 0
        if rotate:
            if have_t and have_l:
                cand = (0, 1, 2, 3)
            elif have_t:
                cand = (0, 2)
            elif have_l:
                cand = (1, 2)
            else:
                cand = (2,)
            pmode = cand[addr % len(cand)]
            ccand = [0]
            if have_l:
                ccand.append(1)
            if have_t:
                ccand.append(2)
            if have_t and have_l:
                ccand.append(3)
            cmode = ccand[(addr + 1) % len(ccand)]
        pred = pred_intra16(pmode, top, left, tl, have_t, have_l)
        resid = py[y0:y0 + 16, x0:x0 + 16].astype(np.int64) - pred
        dc_raw = np.zeros((4, 4), dtype=np.int64)
        acs = [None] * 16
        for i in range(16):
            bx, by = _BLK4[i]
            wm = forward_core4(resid[by * 4:by * 4 + 4,
                                     bx * 4:bx * 4 + 4])
            dc_raw[by, bx] = wm[0, 0]
            acs[i] = _quant4(wm, qp, skip_dc=True)
        had = hadamard4(dc_raw)
        had = np.sign(had) * (np.abs(had) >> 1)   # forward /2 (DC)
        zdc = _quant_dc(had, qp)
        cbp_luma = 15 if any(bool(np.any(a)) for a in acs) else 0
        cbp_chroma, comps, cqp = self._chroma_code(f, mbx, mby, pu,
                                                   pv, cmode)
        mb_type = 1 + pmode + 4 * cbp_chroma + (12 if cbp_luma else 0)
        w.ue(mb_type + toff)
        w.ue(cmode)                          # intra_chroma_pred_mode
        w.se(0)                              # mb_qp_delta
        nc = _nc(f.tc_y, bx0, by0)
        write_residual_block(w, _mat_to_zz(zdc, False), nc, 16)
        # decoder-exact luma recon
        dc = dequant_luma_dc(hadamard4(zdc), qp)
        recon = np.empty((16, 16), dtype=np.int32)
        for i in range(16):
            bx, by = _BLK4[i]
            gx, gy = bx0 + bx, by0 + by
            if cbp_luma:
                nc = _nc(f.tc_y, gx, gy)
                tc = write_residual_block(w, _mat_to_zz(acs[i], True),
                                          nc, 15)
            else:
                tc = 0
            f.tc_y[gy, gx] = tc
            m = dequant_ac(acs[i] if cbp_luma
                           else np.zeros((4, 4), np.int64), qp)
            m[0, 0] = dc[by, bx]
            res = (inverse_core4(m) + 32) >> 6
            recon[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = \
                pred[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + res
        f.y[y0:y0 + 16, x0:x0 + 16] = _clip8(recon)
        self._chroma_write_recon(w, f, mbx, mby, cbp_chroma, comps,
                                 cqp)
        f.blk_decoded[by0:by0 + 4, bx0:bx0 + 4] = True
        f.mb_decoded[mby, mbx] = True

    def _mb_i4(self, w, f, addr, py, pu, pv, rotate=False, toff=0):
        mbx, mby = addr % self.mb_w, addr // self.mb_w
        qp = self.qp
        x0, y0 = mbx * 16, mby * 16
        bx0, by0 = mbx * 4, mby * 4
        w.ue(0 + toff)                       # I_4x4
        zs = [None] * 16
        # first pass: quantize sequentially against the recon state
        # (prediction uses already-reconstructed blocks), buffering
        # the mode bits and coefficients
        mode_bits = []
        for i in range(16):
            bx, by = _BLK4[i]
            gx, gy = bx0 + bx, by0 + by
            ma = f.i4mode[gy, gx - 1] if gx > 0 else -1
            mb_ = f.i4mode[gy - 1, gx] if gy > 0 else -1
            predm = min(ma if ma >= 0 else 2, mb_ if mb_ >= 0 else 2)
            x, y = gx * 4, gy * 4
            have_l = gx > 0 and f.blk_decoded[gy, gx - 1]
            have_t = gy > 0 and f.blk_decoded[gy - 1, gx]
            have_tl = (gx > 0 and gy > 0
                       and f.blk_decoded[gy - 1, gx - 1])
            topr = None
            have_tr = (gy > 0 and gx + 1 < f.mb_w * 4
                       and f.blk_decoded[gy - 1, gx + 1])
            if have_tr:
                topr = f.y[y - 1, x + 4:x + 8]
            mode = 2
            if rotate:
                cand = [2]
                if have_t:
                    cand += [0, 3, 7]
                if have_l:
                    cand += [1, 8]
                if have_t and have_l and have_tl:
                    cand += [4, 5, 6]
                mode = cand[(addr * 16 + i) % len(cand)]
            if mode == predm:
                mode_bits.append((1, None))
            else:
                mode_bits.append((0, mode - (1 if mode > predm
                                             else 0)))
            f.i4mode[gy, gx] = mode
            topv = f.y[y - 1, x:x + 4] if have_t else None
            leftv = f.y[y:y + 4, x - 1] if have_l else None
            tlv = f.y[y - 1, x - 1] if have_tl else 0
            pr = pred_intra4x4(mode, topv, topr, leftv, tlv, have_t,
                               have_l, have_tl, have_tr)
            resid = py[y:y + 4, x:x + 4].astype(np.int64) - pr
            z = _quant4(forward_core4(resid), qp, skip_dc=False)
            zs[i] = z
            # decoder-exact recon
            m = dequant_ac(z, qp)
            res = (inverse_core4(m) + 32) >> 6
            f.y[y:y + 4, x:x + 4] = _clip8(pr + res)
            f.blk_decoded[gy, gx] = True
        for flag, rem in mode_bits:
            w.write(flag, 1)
            if not flag:
                w.write(rem, 3)
        cbp_luma = 0
        for i in range(16):
            if np.any(zs[i]):
                cbp_luma |= 1 << (i >> 2)
        cmode = 0
        if rotate:
            have_l, have_t = mbx > 0, mby > 0
            ccand = [0]
            if have_l:
                ccand.append(1)
            if have_t:
                ccand.append(2)
            if have_t and have_l:
                ccand.append(3)
            cmode = ccand[(addr + 2) % len(ccand)]
        cbp_chroma, comps, cqp = self._chroma_code(f, mbx, mby, pu,
                                                   pv, cmode)
        w.ue(cmode)                          # intra_chroma_pred_mode
        cbp = cbp_luma | (cbp_chroma << 4)
        w.ue(_CBP_INTRA_INV[cbp])
        if cbp:
            w.se(0)                          # mb_qp_delta
        for i in range(16):
            bx, by = _BLK4[i]
            gx, gy = bx0 + bx, by0 + by
            if cbp_luma & (1 << (i >> 2)):
                nc = _nc(f.tc_y, gx, gy)
                tc = write_residual_block(w, _mat_to_zz(zs[i], False),
                                          nc, 16)
            else:
                tc = 0
                # zero-out recon contribution was already zero (z==0)
            f.tc_y[gy, gx] = tc
        self._chroma_write_recon(w, f, mbx, mby, cbp_chroma, comps,
                                 cqp)
        f.mb_decoded[mby, mbx] = True


def _nal(typ: int, rbsp: bytes, ref: int = 3) -> bytes:
    return bytes([(ref << 5) | typ]) + rbsp_escape(rbsp)


def encode_h264(frames: list[tuple[np.ndarray, np.ndarray,
                                   np.ndarray]],
                width: int, height: int, qp: int = 28,
                plan: str = "i16dc") -> bytes:
    """(y, u, v) planes -> Annex-B intra stream (every frame IDR)."""
    enc = H264Encoder(width, height, qp)
    out = bytearray()
    out += b"\x00\x00\x00\x01" + _nal(7, enc.sps_rbsp())
    out += b"\x00\x00\x00\x01" + _nal(8, enc.pps_rbsp())
    for y, u, v in frames:
        rbsp = enc.encode_frame(np.asarray(y, dtype=np.uint8),
                                np.asarray(u, dtype=np.uint8),
                                np.asarray(v, dtype=np.uint8), plan)
        out += b"\x00\x00\x00\x01" + _nal(5, rbsp)
    return bytes(out)


# ------------------------------------------------- CABAC engine (§9.3)
#
# The arithmetic decoding/encoding ENGINE of ITU-T H.264 §9.3.3.2 /
# §9.3.4: 9-bit range [256, 510], table-driven LPS subdivision,
# renormalization, bypass and end-of-slice (terminate) modes, and the
# per-context (pStateIdx, valMPS) state machine with the §9.3.1.1
# initialization formula.  Round-tripped against the in-module
# encoder over randomized bin strings and contexts
# (tests/test_h264.py TestCabacEngine).
#
# SCOPE (deliberate): the engine is implemented; Main/High-profile
# slice-DATA decode is NOT, because the ~1,000 context-initialization
# constants of §9.3.1 tables 9-12..9-33 are spec data with no
# in-container source to extract from, and a fabricated table would
# silently MIS-decode real streams instead of status-rowing (see
# BENCH/CONFORMANCE.md).  The engine tables below are transcriptions
# of §9.3.3.2.1.1 tables 9-44/9-45; they follow the published
# alpha=0.9492 state-decay law (pinned structurally in tests) but are
# conformance-unverifiable in this container — fixture round-trips
# are self-consistent by construction.

_RANGE_TAB_LPS = (
    (128, 176, 208, 240), (128, 167, 197, 227), (128, 158, 187, 216),
    (123, 150, 178, 205), (116, 142, 169, 195), (111, 135, 160, 185),
    (105, 128, 152, 175), (100, 122, 144, 166), (95, 116, 137, 158),
    (90, 110, 130, 150), (85, 104, 123, 142), (81, 99, 117, 135),
    (77, 94, 111, 128), (73, 89, 105, 122), (69, 85, 100, 116),
    (66, 80, 95, 110), (62, 76, 90, 104), (59, 72, 86, 99),
    (56, 69, 81, 94), (53, 65, 77, 89), (51, 62, 73, 85),
    (48, 59, 69, 80), (46, 56, 66, 76), (43, 53, 63, 72),
    (41, 50, 59, 69), (39, 48, 56, 65), (37, 45, 54, 62),
    (35, 43, 51, 59), (33, 41, 48, 56), (32, 39, 46, 53),
    (30, 37, 43, 50), (28, 35, 41, 48), (27, 33, 39, 45),
    (26, 31, 37, 43), (24, 30, 35, 41), (23, 28, 33, 39),
    (22, 27, 32, 37), (21, 26, 30, 35), (20, 24, 29, 33),
    (19, 23, 27, 31), (18, 22, 26, 30), (17, 21, 25, 28),
    (16, 20, 23, 27), (15, 19, 22, 25), (14, 18, 21, 24),
    (14, 17, 20, 23), (13, 16, 19, 22), (12, 15, 18, 21),
    (12, 14, 17, 20), (11, 14, 16, 19), (11, 13, 15, 18),
    (10, 12, 15, 17), (10, 12, 14, 16), (9, 11, 13, 15),
    (9, 11, 12, 14), (8, 10, 12, 14), (8, 9, 11, 13),
    (7, 9, 11, 12), (7, 9, 10, 12), (7, 8, 10, 11),
    (6, 8, 9, 11), (6, 7, 9, 10), (6, 7, 8, 9), (2, 2, 2, 2),
)

_TRANS_IDX_LPS = (
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12,
    13, 13, 15, 15, 16, 16, 18, 18, 19, 19, 21, 21, 23, 22, 23, 24,
    24, 25, 26, 26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33,
    33, 33, 34, 34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 63,
)


def cabac_init_context(m: int, n: int, qp: int) -> tuple[int, int]:
    """§9.3.1.1: (m, n) init pair + slice QP -> (pStateIdx, valMPS)."""
    pre = min(126, max(1, ((m * min(51, max(0, qp))) >> 4) + n))
    if pre <= 63:
        return 63 - pre, 0
    return pre - 64, 1


class CabacDecoder:
    """§9.3.3.2 arithmetic decoder over an RBSP byte string. Contexts
    are caller-owned [pStateIdx, valMPS] lists."""

    __slots__ = ("data", "pos", "range", "offset")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.range = 510
        self.offset = 0
        for _ in range(9):
            self.offset = (self.offset << 1) | self._bit()

    def _bit(self) -> int:
        byte = self.data[self.pos >> 3] if (self.pos >> 3) \
            < len(self.data) else 0
        b = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def decision(self, ctx: list) -> int:
        state, mps = ctx
        lps = _RANGE_TAB_LPS[state][(self.range >> 6) & 3]
        self.range -= lps
        if self.offset >= self.range:
            bin_val = 1 - mps
            self.offset -= self.range
            self.range = lps
            if state == 0:
                ctx[1] = 1 - mps
            ctx[0] = _TRANS_IDX_LPS[state]
        else:
            bin_val = mps
            ctx[0] = min(state + 1, 62)
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return bin_val

    def bypass(self) -> int:
        self.offset = (self.offset << 1) | self._bit()
        if self.offset >= self.range:
            self.offset -= self.range
            return 1
        return 0

    def terminate(self) -> int:
        self.range -= 2
        if self.offset >= self.range:
            return 1
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return 0


class CabacEncoder:
    """§9.3.4 arithmetic encoder (low/range with outstanding-bit
    carry resolution), the decoder's exact inverse."""

    def __init__(self):
        self.low = 0
        self.range = 510
        self.outstanding = 0
        self.first = True
        self.w = MsbWriter()

    def _put(self, b: int):
        if self.first:
            self.first = False
        else:
            self.w.write(b, 1)
        while self.outstanding:
            self.w.write(1 - b, 1)
            self.outstanding -= 1

    def _renorm(self):
        while self.range < 256:
            if self.low >= 512:
                self._put(1)
                self.low -= 512
            elif self.low < 256:
                self._put(0)
            else:
                self.outstanding += 1
                self.low -= 256
            self.low <<= 1
            self.range <<= 1

    def decision(self, ctx: list, bin_val: int):
        state, mps = ctx
        lps = _RANGE_TAB_LPS[state][(self.range >> 6) & 3]
        self.range -= lps
        if bin_val != mps:
            self.low += self.range
            self.range = lps
            if state == 0:
                ctx[1] = 1 - mps
            ctx[0] = _TRANS_IDX_LPS[state]
        else:
            ctx[0] = min(state + 1, 62)
        self._renorm()

    def bypass(self, bin_val: int):
        self.low <<= 1
        if bin_val:
            self.low += self.range
        if self.low >= 1024:
            self._put(1)
            self.low -= 1024
        elif self.low < 512:
            self._put(0)
        else:
            self.outstanding += 1
            self.low -= 512

    def terminate(self, end: int):
        self.range -= 2
        if end:
            self.low += self.range
            self.range = 2
        self._renorm()

    def flush(self) -> bytes:
        # EncodeFlush: emit (low >> 9) & 1 then ((low >> 7) & 3) | 1
        self._put((self.low >> 9) & 1)
        b = (self.low >> 7) & 3 | 1
        self._put((b >> 1) & 1)
        self.w.write(b & 1, 1)
        return self.w.bytes()
