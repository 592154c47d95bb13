"""VP8 frame chains (RFC 6386): the stateful decoder, interframe
parsing and the interframe fixture encoder.

:class:`VP8Decoder` decodes key and inter frames through the one
macroblock loop in vp8.py (``_reconstruct``: intra prediction or
six-tap motion compensation per MB, then the loop filter) and keeps
the last / golden / altref references as the loop's MB-aligned
planes, decoded padding included. This module parses what only
interframes carry: the header layout (refresh/copy/sign-bias flags,
prob_intra/last/gf, mode and MV prob update fields), per-MB inter
mode records with the three-neighbor near-MV survey (weights 2/2/1,
last-entry merge, count-indexed mode contexts, the zero-MV count
slot, and the 16-pixel-border clamp), the ZEROMV / NEARESTMV /
NEARMV / NEWMV modes with NEWMV coded as a residual against the
survey's best MV, and the two-stream MV component entropy coder
(short tree 0-7, long form bits 0-2 then 9-4 with the forced bit 3
when no higher bit is set, trailing sign). The interframe encoder
shares the key-frame encoder's per-MB code-and-reconstruct step,
token writer and frame assembly.

Deliberate drops (documented, raise cleanly): SPLITMV (per-subblock
MVs) and the bilinear-filter profiles (version != 0).

Provenance: written from the public RFC 6386 structure. As with the
keyframe tier (vp8.py header), the *spec-constant tables* here — the
count-indexed mode contexts, the default MV context probabilities, the
inter-frame intra mode probabilities, and the MV-probability update
priors — are documented stand-ins: encoder and decoder share them, so
every wire path is pinned by dual-path round-trips; real-file parity
additionally depends on transcription fidelity, unverifiable in this
sandbox. The chroma MV halving convention (luma MV truncated toward
zero to half resolution) is likewise a documented stand-in; fixtures
use even-full-pixel MVs, where every halving convention coincides.

Reference parity note: the reference (tballison/tika) is metadata-only
for video (`video/FLVParser.java`, `mp4/MP4Parser.java`); sample
decode is the pipeline extension, not a port.

Scale contract: per-row decode inside mapInPandas; stateful only
within one stream's frames (a WebM row decodes its own frame chain);
corrupt payloads raise ValueError and become status rows; no shuffle.
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.vp8 import (
    B_PRED, BMODE_TREE, DC_PRED, SEGMENT_TREE, UV_MODE_TREE, _BoolDec,
    _BoolEnc, _FrameHeader, _MBInfo, _Quant, _clamp_qi, _code_mb,
    _crop, _extend, _finish_frame, _keyframe, _pad_source,
    _read_coeff_probs, _read_segment_filter_quant, _reconstruct,
    _write_coeff_probs, _write_segment_filter_quant, _write_tokens,
    yuv_to_rgba,
)

# --------------------------------------------------- tables (RFC 6386)

# inter MB modes (local enum; leaves in the repo's tree convention)
ZEROMV, NEARESTMV, NEARMV, NEWMV, SPLITMV = 10, 11, 12, 13, 14

MV_REF_TREE = (-ZEROMV, 2, -NEARESTMV, 4, -NEARMV, 6,
               -NEWMV, -SPLITMV)

# non-keyframe intra mode coding (tree shapes per RFC 6386; the prob
# values are documented stand-ins, shared encoder/decoder)
YMODE_TREE = (-DC_PRED, 2, 4, 6, -1, -2, -3, -B_PRED)  # V/H/TM = 1/2/3
YMODE_PROB = (112, 86, 140, 37)
UV_MODE_PROB = (162, 101, 204)
# fixed (context-free) 4x4 submode probs for interframe intra MBs
BMODE_PROB = (120, 90, 79, 133, 87, 85, 80, 111, 151)

# count-indexed mv_ref mode contexts [cnt 0..5][p0..p3] — stand-ins
MODE_CONTEXTS = (
    (7, 1, 1, 143),
    (14, 18, 14, 107),
    (135, 64, 57, 68),
    (60, 56, 128, 65),
    (234, 160, 1, 1),
    (250, 200, 1, 1),
)

# MV component entropy: 19 probs per component (row, col) —
# [0]=is_long, [1]=sign, [2..8]=short tree, [9..18]=long bits 0..9.
MV_PROBS = (
    (162, 128, 225, 146, 172, 147, 214, 39, 156,
     128, 129, 132, 75, 145, 178, 206, 239, 254, 254),
    (164, 128, 204, 170, 119, 235, 140, 230, 228,
     128, 130, 130, 74, 148, 180, 203, 236, 254, 254),
)
# priors for the per-frame MV prob update flags (stand-in: uniform)
MV_UPDATE_PROBS = tuple(tuple([252] * 19) for _ in range(2))

SHORT_MV_TREE = (2, 8, 4, 6, 0, -1, -2, -3, 10, 12, -4, -5, -6, -7)


# --------------------------------------------------------- MV entropy


def _read_mvcomponent(bd, p) -> int:
    """One MV component -> eighth-pel value (coded in quarter-pel)."""
    if bd.bool(p[0]):                       # long form (|v| >= 8)
        a = 0
        for i in range(3):
            a |= bd.bool(p[9 + i]) << i
        for i in range(9, 3, -1):
            a |= bd.bool(p[9 + i]) << i
        if a & 0xFFF0:
            a |= bd.bool(p[12]) << 3
        else:
            a |= 8                          # bit 3 forced, not coded
    else:
        a = bd.tree(SHORT_MV_TREE, p[2:9])
    if a and bd.bool(p[1]):
        a = -a
    return a * 2


def _write_mvcomponent(be, p, v8: int):
    """Inverse of :func:`_read_mvcomponent` (``v8`` in eighth-pel,
    must be even)."""
    if v8 & 1:
        raise ValueError("VP8 MVs are quarter-pel (even eighth-pel)")
    v = v8 // 2
    a = abs(v)
    if a >= 1 << 10:
        raise ValueError("MV component out of range")
    if a < 8:
        be.put(0, p[0])
        be.tree(SHORT_MV_TREE, p[2:9], a)
    else:
        be.put(1, p[0])
        for i in range(3):
            be.put((a >> i) & 1, p[9 + i])
        for i in range(9, 3, -1):
            be.put((a >> i) & 1, p[9 + i])
        if a & 0xFFF0:
            be.put((a >> 3) & 1, p[12])
    if a:
        be.put(1 if v < 0 else 0, p[1])


def _write_mv(be, mv: tuple[int, int]):
    _write_mvcomponent(be, MV_PROBS[0], mv[0])
    _write_mvcomponent(be, MV_PROBS[1], mv[1])


# ----------------------------------------------------- near-MV survey


def _clamp_mv(mv, mx, my, mb_w, mb_h):
    """Clamp to the frame plus a 16-pixel border (eighth-pel)."""
    lo_y = -((my * 16 + 16) << 3)
    hi_y = ((mb_h - 1 - my) * 16 + 16) << 3
    lo_x = -((mx * 16 + 16) << 3)
    hi_x = ((mb_w - 1 - mx) * 16 + 16) << 3
    return (min(max(mv[0], lo_y), hi_y),
            min(max(mv[1], lo_x), hi_x))


def _find_near_mvs(mbs, mx, my, mb_w, mb_h):
    """RFC 6386 section 18.3 survey -> (best, nearest, near, cnt[4]).

    Above/left/above-left inter neighbors vote with weights 2/2/1;
    a nonzero MV merges only with the most recently appended entry
    (the reference's pointer walk); zero-MV inter neighbors count in
    slot 0; slot 3 is the SPLITMV count (always 0 here — SPLITMV is
    a documented drop). The three survey MVs are border-clamped.
    """
    zero = (0, 0)
    near_mvs = [zero, zero, zero, zero]
    cnt = [0, 0, 0, 0]
    idx = 0
    above = mbs[my - 1][mx] if my > 0 else None
    left = mbs[my][mx - 1] if mx > 0 else None
    aleft = mbs[my - 1][mx - 1] if (my > 0 and mx > 0) else None
    for nb, w in ((above, 2), (left, 2), (aleft, 1)):
        if nb is None or not getattr(nb, "is_inter", False):
            continue
        if nb.mv != zero:
            if idx > 0 and near_mvs[idx] == nb.mv:
                cnt[idx] += w
            else:
                idx += 1
                near_mvs[idx] = nb.mv
                cnt[idx] += w
        else:
            cnt[0] += w
    cnt[3] = 0       # the SPLITMV vote slot (SPLITMV never emitted)
    if cnt[2] > cnt[1]:
        near_mvs[1], near_mvs[2] = near_mvs[2], near_mvs[1]
        cnt[1], cnt[2] = cnt[2], cnt[1]
    if cnt[1] >= cnt[0]:
        near_mvs[0] = near_mvs[1]
    best = _clamp_mv(near_mvs[0], mx, my, mb_w, mb_h)
    nearest = _clamp_mv(near_mvs[1], mx, my, mb_w, mb_h)
    near = _clamp_mv(near_mvs[2], mx, my, mb_w, mb_h)
    return best, nearest, near, cnt


def _mv_ref_probs(cnt):
    return tuple(MODE_CONTEXTS[min(cnt[i], 5)][i] for i in range(4))


# --------------------------------------------------- interframe parse


def _parse_inter_headers(data: bytes, width: int, height: int):
    """First-partition header of a non-key frame -> (_FrameHeader,
    inter dict, bool decoder positioned at the mode records)."""
    if len(data) < 3:
        raise ValueError("short VP8 interframe payload")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if not (tag & 1):
        raise ValueError("keyframe handed to the interframe parser")
    if (tag >> 1) & 7:
        raise ValueError("VP8 bilinear-filter profiles (version != 0)"
                         " are a documented drop")
    part1_size = tag >> 5
    h = _FrameHeader()
    h.width, h.height = width, height
    h.mb_w = (width + 15) >> 4
    h.mb_h = (height + 15) >> 4
    h.part1_off = 3
    h.part1_size = part1_size
    if 3 + part1_size > len(data):
        raise ValueError("VP8 first partition overruns payload")
    bd = _BoolDec(data, 3, 3 + part1_size)
    _read_segment_filter_quant(bd, h)
    inter = {}
    inter["refresh_golden"] = bd.bool()
    inter["refresh_alt"] = bd.bool()
    if not inter["refresh_golden"]:
        inter["copy_to_golden"] = bd.literal(2)
    else:
        inter["copy_to_golden"] = 0
    if not inter["refresh_alt"]:
        inter["copy_to_alt"] = bd.literal(2)
    else:
        inter["copy_to_alt"] = 0
    inter["sign_bias_golden"] = bd.bool()
    inter["sign_bias_alt"] = bd.bool()
    bd.bool()                                # refresh_entropy_probs
    inter["refresh_last"] = bd.bool()
    _read_coeff_probs(bd, h)
    inter["prob_intra"] = bd.literal(8)
    inter["prob_last"] = bd.literal(8)
    inter["prob_gf"] = bd.literal(8)
    ymode_prob = list(YMODE_PROB)
    if bd.bool():
        for i in range(4):
            ymode_prob[i] = bd.literal(8)
    uv_prob = list(UV_MODE_PROB)
    if bd.bool():
        for i in range(3):
            uv_prob[i] = bd.literal(8)
    inter["ymode_prob"] = ymode_prob
    inter["uv_prob"] = uv_prob
    # MV prob updates (values replace the defaults; fixtures never
    # update, so the shared MV_PROBS stand-ins stay in force)
    mv_probs = [list(MV_PROBS[0]), list(MV_PROBS[1])]
    for c in range(2):
        for j in range(19):
            if bd.bool(MV_UPDATE_PROBS[c][j]):
                x = bd.literal(7)
                mv_probs[c][j] = (x << 1) if x else 1
    inter["mv_probs"] = mv_probs
    return h, inter, bd


def _read_modes_inter(bd, h, inter, mb_w, mb_h):
    """Per-MB records of an interframe: intra/inter split, reference
    choice, mv_ref mode with survey contexts, NEWMV residuals."""
    mbs = [[_MBInfo() for _ in range(mb_w)] for _ in range(mb_h)]
    mv_probs = inter["mv_probs"]
    for my in range(mb_h):
        for mx in range(mb_w):
            mb = mbs[my][mx]
            mb.is_inter = False
            mb.mv = (0, 0)
            mb.ref = "last"
            if h.segmentation and h.seg_map_update:
                mb.segment = bd.tree(SEGMENT_TREE, h.seg_tree_probs)
            if h.skip_enabled:
                mb.skip = bd.bool(h.skip_prob)
            if bd.bool(inter["prob_intra"]):
                mb.is_inter = True
                if bd.bool(inter["prob_last"]):
                    mb.ref = ("altref" if bd.bool(inter["prob_gf"])
                              else "golden")
                best, nearest, near, cnt = _find_near_mvs(
                    mbs, mx, my, mb_w, mb_h)
                mode = bd.tree(MV_REF_TREE, _mv_ref_probs(cnt))
                mb.inter_mode = mode
                if mode == ZEROMV:
                    mb.mv = (0, 0)
                elif mode == NEARESTMV:
                    mb.mv = nearest
                elif mode == NEARMV:
                    mb.mv = near
                elif mode == NEWMV:
                    dy = _read_mvcomponent(bd, mv_probs[0])
                    dx = _read_mvcomponent(bd, mv_probs[1])
                    mb.mv = (best[0] + dy, best[1] + dx)
                else:
                    raise ValueError(
                        "VP8 SPLITMV is a documented drop")
            else:
                mb.ymode = bd.tree(YMODE_TREE, inter["ymode_prob"])
                if mb.ymode == B_PRED:
                    # fixed-prob submodes in interframes
                    mb.bmodes = [bd.tree(BMODE_TREE, BMODE_PROB)
                                 for _ in range(16)]
                mb.uvmode = bd.tree(UV_MODE_TREE, inter["uv_prob"])
    return mbs


# ------------------------------------------------- stateful decoding


# the reference refresh of a key frame: all three buffers
_KEY_REFRESH = {"copy_to_golden": 0, "copy_to_alt": 0,
                "refresh_golden": 1, "refresh_alt": 1, "refresh_last": 1}


class VP8Decoder:
    """Keyframe + interframe VP8 decoder with last/golden/altref
    buffers (one instance per elementary stream). Every frame decodes
    through :func:`vp8._reconstruct`, and the buffers hold its
    MB-aligned planes, decoded padding included."""

    def __init__(self):
        self.last = None            # (yp, up, vp) padded planes
        self.golden = None
        self.altref = None
        self.width = None
        self.height = None

    def decode_yuv(self, data: bytes):
        """One frame -> (y, u, v) uint8 planes (cropped)."""
        data = bytes(data)
        if len(data) < 3:
            raise ValueError("short VP8 payload")
        if not (data[0] & 1):
            h, mbs = _keyframe(data)
            inter = _KEY_REFRESH
        elif self.last is None:
            raise ValueError("VP8 interframe before any keyframe")
        else:
            h, inter, bd = _parse_inter_headers(data, self.width,
                                                self.height)
            mbs = _read_modes_inter(bd, h, inter, h.mb_w, h.mb_h)
        planes = _reconstruct(h, mbs, data, {
            "last": self.last, "golden": self.golden,
            "altref": self.altref})
        if inter["copy_to_golden"] == 1:
            self.golden = self.last
        elif inter["copy_to_golden"] == 2:
            self.golden = self.altref
        if inter["copy_to_alt"] == 1:
            self.altref = self.last
        elif inter["copy_to_alt"] == 2:
            self.altref = self.golden
        if inter["refresh_golden"]:
            self.golden = planes
        if inter["refresh_alt"]:
            self.altref = planes
        if inter["refresh_last"]:
            self.last = planes
        self.width, self.height = h.width, h.height
        return _crop(planes, h.width, h.height)

    def decode_rgba(self, data: bytes) -> np.ndarray:
        return yuv_to_rgba(*self.decode_yuv(data))


# -------------------------------------------------- fixture encoder


def encode_vp8_inter_yuv(prev, y, u, v, mv=(0, 0), qindex: int = 0,
                         plan: str = "auto",
                         intra_every: int = 0,
                         filter_level: int = 0,
                         ref: str = "last",
                         refresh=("last",)):
    """Encode one interframe against reconstruction ``prev`` (padded
    (yp, up, vp) int32 planes — the buffer named by ``ref`` on the
    decode side, e.g. a :class:`VP8Decoder`'s ``last`` or
    ``golden``). Returns ``(payload, recon_planes)``.

    Every inter MB uses the global motion ``mv`` (eighth-pel,
    even-full-pixel recommended); the mode coded per MB is chosen
    from the shared survey (ZEROMV / NEARESTMV / NEARMV / NEWMV
    residual), so the decoder's survey logic is exercised end to
    end. ``intra_every`` > 0 makes every Nth MB an intra DC MB
    inside the interframe (the intra-in-inter path). ``ref`` selects
    the reference every inter MB names (last / golden / altref) and
    ``refresh`` which buffers this frame refreshes — between them
    the decoder's full reference-buffer management round-trips.
    """
    if ref not in ("last", "golden", "altref"):
        raise ValueError(f"unknown reference {ref!r}")
    y = np.asarray(y, dtype=np.int32)
    u = np.asarray(u, dtype=np.int32)
    v = np.asarray(v, dtype=np.int32)
    hh, w = y.shape
    mb_w, mb_h = (w + 15) >> 4, (hh + 15) >> 4
    if prev[0].shape != (mb_h * 16, mb_w * 16):
        raise ValueError("previous reconstruction shape mismatch")
    if any(c & 1 for c in mv):
        raise ValueError("VP8 MVs are quarter-pel (even eighth-pel)")
    src = _pad_source(y, u, v, mb_w, mb_h)
    q = _Quant(_clamp_qi(qindex))
    ext = [_extend(p) for p in prev]
    recon = [np.zeros_like(p) for p in src]
    mbs = [[_MBInfo() for _ in range(mb_w)] for _ in range(mb_h)]
    coeffs = [[None] * mb_w for _ in range(mb_h)]
    k = 0
    for my in range(mb_h):
        for mx in range(mb_w):
            mb = mbs[my][mx]
            k += 1
            intra = intra_every and (k % intra_every == 0)
            mb.is_inter = not intra
            mb.mv = (0, 0) if intra else tuple(mv)
            mb.ref = ref
            coeffs[my][mx] = _code_mb(mb, src, recon, mx, my, mb_w, q,
                                      ext=ext)
    # ---- first partition
    skip_prob = 128
    prob_intra, prob_last, prob_gf = 128, 32, 128
    be = _BoolEnc()
    _write_segment_filter_quant(be, None, 0, filter_level, 0, 1, qindex)
    be.put(1 if "golden" in refresh else 0)   # refresh golden
    be.put(1 if "altref" in refresh else 0)   # refresh alt
    if "golden" not in refresh:
        be.literal(0, 2)                      # copy to golden: none
    if "altref" not in refresh:
        be.literal(0, 2)                      # copy to alt: none
    be.put(0)                                 # sign bias golden
    be.put(0)                                 # sign bias alt
    be.put(0)                                 # refresh entropy
    be.put(1 if "last" in refresh else 0)     # refresh last
    _write_coeff_probs(be, skip_prob)
    be.literal(prob_intra, 8)
    be.literal(prob_last, 8)
    be.literal(prob_gf, 8)
    be.put(0)                                 # ymode update
    be.put(0)                                 # uv mode update
    for c in range(2):
        for j in range(19):
            be.put(0, MV_UPDATE_PROBS[c][j])
    # per-MB records (mirror _read_modes_inter; survey over the SAME
    # partially-built mb grid the decoder sees)
    for my in range(mb_h):
        for mx in range(mb_w):
            mb = mbs[my][mx]
            be.put(mb.skip, skip_prob)
            be.put(1 if mb.is_inter else 0, prob_intra)
            if mb.is_inter:
                if ref == "last":
                    be.put(0, prob_last)
                else:
                    be.put(1, prob_last)
                    be.put(1 if ref == "altref" else 0, prob_gf)
                best, nearest, near, cnt = _find_near_mvs(
                    mbs, mx, my, mb_w, mb_h)
                probs = _mv_ref_probs(cnt)
                if mb.mv == (0, 0):
                    be.tree(MV_REF_TREE, probs, ZEROMV)
                elif mb.mv == nearest:
                    be.tree(MV_REF_TREE, probs, NEARESTMV)
                elif mb.mv == near:
                    be.tree(MV_REF_TREE, probs, NEARMV)
                else:
                    be.tree(MV_REF_TREE, probs, NEWMV)
                    _write_mv(be, (mb.mv[0] - best[0],
                                   mb.mv[1] - best[1]))
            else:
                be.tree(YMODE_TREE, YMODE_PROB, DC_PRED)
                be.tree(UV_MODE_TREE, UV_MODE_PROB, DC_PRED)
    payload = _finish_frame(be.bytes(),
                            _write_tokens(mbs, coeffs, mb_w, mb_h, 1),
                            mbs, recon, mb_w, mb_h, filter_level)
    return payload, tuple(recon)
