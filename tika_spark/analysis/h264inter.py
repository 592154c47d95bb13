"""H.264/AVC inter (P-slice) decode on top of the intra tier — pure
Python + numpy.

Extends :class:`tika_spark.analysis.h264.H264Decoder` with
motion-compensated P slices: ``mb_skip_run`` / P_Skip, P_L0_16x16,
P_L0_L0_16x8 / 8x16, P_8x8 with all four sub-partition shapes,
median motion-vector prediction with the directional 16x8/8x16 rules,
quarter-pel luma interpolation (the 6-tap (1,-5,20,20,-5,1) half-pel
filter with the 20-bit centre position) and eighth-pel bilinear
chroma, single reference picture (the previously decoded frame,
which is all the fixture encoder emits and the common case for
IPPP web video).  Inter residuals reuse the intra tier's CAVLC and
4x4 transform; the inter ``coded_block_pattern`` me(v) mapping is
the Table 9-4 inter column.

B slices decode too (16x16 tier): B_L0 / B_L1 / B_Bi macroblocks
with per-list median MV prediction and bi-predictive averaging,
list0/list1 picked as nearest past/future reference by picture
order count, non-reference B NALs, and POC-based display
reordering (``decode_h264p_annexb`` and every container demuxer
sort by POC — IBP streams come out in display order).

Fixture encoders produce IPPP streams (an IDR keyframe followed by
P frames whose macroblocks carry explicit MVs, exercise skip runs
when the residual vanishes and the MV matches the P_Skip
prediction, and optionally split into 16x8/8x16/8x8 partitions) and
IBP streams (:class:`H264BiEncoder` — decode order I P B, POC type
0 carrying display order).  Same epistemic status as the intra
module: encoder and decoder share every table, round-trip-verified;
no third-party conformance stream exists in this container
(SURVEY §7.4).

Weighted prediction, multiple reference frames per list, B
partitions/direct/B_Skip, and CABAC remain out of scope (the PPS
the fixture encoders write disables them; foreign streams using
them raise).
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.h264 import (BitReader, BitWriter, H264Decoder,
                                      H264Encoder, H264Error, _BLK4,
                                      _Frame, _nc, _mat_to_zz,
                                      _zz_to_mat, _clip8, _quant4,
                                      chroma_qp, dequant_ac,
                                      forward_core4, inverse_core4,
                                      read_residual_block,
                                      write_residual_block)

# Table 9-4 (me(v) coded_block_pattern), Inter column: codeNum -> cbp
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {v: i for i, v in enumerate(_CBP_INTER)}


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


# ------------------------------------------------------ decoder


class H264InterDecoder(H264Decoder):
    """Intra + P + B(16x16) decoder.  References: the two most
    recent reference pictures (nal_ref_idc > 0); P predicts from the
    most recent, B picks list0 = nearest past / list1 = nearest
    future by picture order count.  Completed frames land in
    ``frames`` in decode order with ``pocs`` alongside — sort by POC
    for display order (decode_h264p_annexb does)."""

    def __init__(self):
        super().__init__()
        self._refs: list[tuple] = []      # [(poc, (y, u, v))], ≤2
        self.pocs: list[int] = []
        self._poc_cur = 0
        self._cur_is_ref = True
        self._decode_count = 0

    @property
    def _ref(self):
        """Most recent reference planes (P prediction)."""
        return self._refs[-1][1] if self._refs else None

    def _new_frame(self, mb_w: int, mb_h: int) -> _Frame:
        f = _Frame(mb_w, mb_h)
        f.mv = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
        f.ref = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
        f.mv1 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int32)
        f.ref1 = np.full((mb_h * 4, mb_w * 4), -1, dtype=np.int32)
        return f

    def _flush(self) -> None:
        if self._cur is not None:
            planes = (self._cur.y.copy(), self._cur.u.copy(),
                      self._cur.v.copy())
            if self._cur_is_ref:
                self._refs.append((self._poc_cur, planes))
                self._refs = self._refs[-2:]
            self.pocs.append(self._poc_cur)
        super()._flush()

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
        slice_type = r.ue()
        st = slice_type % 5
        if st not in (0, 1, 2):
            raise H264Error("only I, P and B slices supported")
        return self._slice_common(r, first_mb, st, idr, ref_idc)

    def _slice_common(self, r, first_mb, st, idr, ref_idc):
        pps = self.pps.get(r.ue())
        if pps is None:
            raise H264Error("slice references unknown PPS")
        if pps.get("entropy_cabac"):
            raise H264Error(
                "CABAC slice data not supported (CAVLC pixel decode "
                "only; header-level census still works — see "
                "h264.slice_census)")
        sps = self.sps.get(pps["sps_id"])
        if sps is None:
            raise H264Error("PPS references unknown SPS")
        r.read(sps["log2_max_frame_num"])
        if idr:
            self._refs = []                       # IDR clears the DPB
            r.ue()
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
            if r.ue() != 1:
                r.se()
                r.se()
        if first_mb == 0:
            self._flush()
            self._cur = self._new_frame(sps["mb_w"], sps["mb_h"])
            self._sps_active = sps
            self._next_mb = 0
            self._cur_is_ref = ref_idc != 0
            self._poc_cur = poc if poc is not None \
                else 2 * self._decode_count
            self._decode_count += 1
        if self._cur is None or first_mb != self._next_mb:
            raise H264Error("slices out of order")
        f = self._cur
        if st == 0 and self._ref is None:
            raise H264Error("P slice with no reference frame")
        brefs = self._b_refs() if st == 1 else None
        n_mbs = f.mb_w * f.mb_h
        addr = first_mb
        if st == 2:
            while addr < n_mbs and (addr == first_mb
                                    or r.more_rbsp_data()):
                qp = self._macroblock(r, f, addr, qp,
                                      pps["chroma_qp_offset"])
                addr += 1
        elif st == 0:
            while addr < n_mbs and r.more_rbsp_data():
                run = r.ue()                       # mb_skip_run
                for _ in range(min(run, n_mbs - addr)):
                    self._mb_pskip(f, addr, qp)
                    addr += 1
                if addr >= n_mbs or not r.more_rbsp_data():
                    break
                qp = self._mb_p(r, f, addr, qp,
                                pps["chroma_qp_offset"])
                addr += 1
        else:
            while addr < n_mbs and r.more_rbsp_data():
                if r.ue() != 0:                    # mb_skip_run
                    raise H264Error("B_Skip / direct mode "
                                    "unsupported")
                if addr >= n_mbs or not r.more_rbsp_data():
                    break
                qp = self._mb_b(r, f, addr, qp,
                                pps["chroma_qp_offset"], brefs)
                addr += 1
        self._next_mb = addr
        if addr >= n_mbs:
            self._flush()

    # -- B macroblocks -------------------------------------------------

    def _mb_b(self, r, f, addr, qp, cqp_off, brefs):
        mbx, mby = addr % f.mb_w, addr // f.mb_w
        mb_type = r.ue()
        if mb_type >= 23:                          # intra in B slice
            return self._macroblock_typed(r, f, addr, mb_type - 23,
                                          qp, cqp_off)
        if mb_type not in (1, 2, 3):
            raise H264Error("only B_L0/L1/Bi_16x16 (+intra) B "
                            "macroblocks supported")
        gx0, gy0 = mbx * 4, mby * 4
        use_l0 = mb_type in (1, 3)
        use_l1 = mb_type in (2, 3)
        mv0 = mv1 = None
        if use_l0:
            pmv = mv_pred(f, gx0, gy0, 4, 4)
            mv0 = (pmv[0] + r.se(), pmv[1] + r.se())
        if use_l1:
            pmv = mv_pred(f, gx0, gy0, 4, 4, lst=1)
            mv1 = (pmv[0] + r.se(), pmv[1] + r.se())
        pred_y, pred_u, pred_v = self._b_pred(
            f, mbx, mby, brefs, mv0, mv1)
        cbp = _CBP_INTER[r.ue()]
        cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
        if cbp:
            qp = (qp + r.se()) % 52
        x0, y0 = mbx * 16, mby * 16
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
        self._chroma_inter(r, f, mbx, mby, cbp_chroma, qp, cqp_off,
                           pred_u, pred_v)
        f.blk_decoded[gy0:gy0 + 4, gx0:gx0 + 4] = True
        f.mb_decoded[mby, mbx] = True
        return qp

    def _b_pred(self, f, mbx, mby, brefs, mv0, mv1):
        """L0 / L1 / bi-average prediction for a whole MB; records
        the per-list mv grids."""
        ref0, ref1 = brefs
        x0, y0 = mbx * 16, mby * 16
        cx0, cy0 = mbx * 8, mby * 8
        gx0, gy0 = mbx * 4, mby * 4
        outs = []
        for lst, (mv, ref) in enumerate(((mv0, ref0), (mv1, ref1))):
            if mv is None:
                outs.append(None)
                continue
            ry, ru, rv = ref
            pl = (mc_luma(ry, x0, y0, 16, 16, mv[0], mv[1]),
                  mc_chroma(ru, cx0, cy0, 8, 8, mv[0], mv[1]),
                  mc_chroma(rv, cx0, cy0, 8, 8, mv[0], mv[1]))
            outs.append(pl)
            mvg = f.mv if lst == 0 else f.mv1
            refg = f.ref if lst == 0 else f.ref1
            mvg[gy0:gy0 + 4, gx0:gx0 + 4] = mv
            refg[gy0:gy0 + 4, gx0:gx0 + 4] = 0
        if outs[0] is not None and outs[1] is not None:
            return tuple((a + b + 1) >> 1
                         for a, b in zip(outs[0], outs[1]))
        return outs[0] if outs[0] is not None else outs[1]

    # -- P macroblocks -------------------------------------------------

    def _mc_into(self, f, mbx, mby, parts):
        """Run MC for [(px4, py4, pw4, ph4, mv)] partitions (in 4x4
        units, MB-relative) into the current frame planes; record the
        mv/ref grids."""
        ry, ru, rv = self._ref
        x0, y0 = mbx * 16, mby * 16
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
            f.mv[gy:gy + ph4, gx:gx + pw4] = (mvx, mvy)
            f.ref[gy:gy + ph4, gx:gx + pw4] = 0
        return pred_y, pred_u, pred_v

    def _mb_pskip(self, f, addr, qp):
        mbx, mby = addr % f.mb_w, addr // f.mb_w
        mv = skip_mv(f, mbx, mby)
        pred_y, pred_u, pred_v = self._mc_into(
            f, mbx, mby, [(0, 0, 4, 4, mv)])
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
            return self._macroblock_intra_typed(r, f, addr,
                                                mb_type - 5, qp,
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
        pred_y, pred_u, pred_v = self._mc_into(f, mbx, mby, parts)
        cbp = _CBP_INTER[r.ue()]
        cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
        if cbp:
            qp = (qp + r.se()) % 52
        x0, y0 = mbx * 16, mby * 16
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
        self._chroma_inter(r, f, mbx, mby, cbp_chroma, qp, cqp_off,
                           pred_u, pred_v)
        f.blk_decoded[gy0:gy0 + 4, gx0:gx0 + 4] = True
        f.mb_decoded[mby, mbx] = True
        return qp

    def _chroma_inter(self, r, f, mbx, mby, cbp_chroma, qp, cqp_off,
                      pred_u, pred_v):
        """Chroma residual for inter MBs: DC 2x2 + AC over the MC
        prediction (same parse order as intra chroma)."""
        from tika_spark.analysis.h264 import dequant_chroma_dc
        cqp = chroma_qp(qp, cqp_off)
        x0, y0 = mbx * 8, mby * 8
        dcs = []
        for _ in range(2):
            if cbp_chroma:
                lv, _tcn = read_residual_block(r, -1, 4)
            else:
                lv = np.zeros(4, np.int32)
            d = np.array([[lv[0], lv[1]], [lv[2], lv[3]]],
                         dtype=np.int64)
            h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
            dcs.append(dequant_chroma_dc(h2 @ d @ h2, cqp))
        for ci, (plane, tcm, pred) in enumerate(
                ((f.u, f.tc_u, pred_u), (f.v, f.tc_v, pred_v))):
            recon = pred.copy()
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

    def _macroblock_intra_typed(self, r, f, addr, i_type, qp,
                                cqp_off):
        """Intra MB inside a P slice: dispatch into the base-class
        decoder with the already-consumed mb_type (P mb_type - 5)."""
        return self._macroblock_typed(r, f, addr, i_type, qp,
                                      cqp_off)


def decode_h264p_annexb(data: bytes) -> list[np.ndarray]:
    """Annex-B intra / IPPP / IBP stream -> list of (h, w, 3) RGB
    frames in display order (sorted by picture order count)."""
    from tika_spark.analysis.vp8 import yuv_to_rgb
    from tika_spark.analysis.h264 import split_annexb
    dec = H264InterDecoder()
    for nal in split_annexb(bytes(data or b"")):
        dec.push(nal)
    if not dec.frames:
        raise H264Error("no decodable frames")
    order = sorted(range(len(dec.frames)),
                   key=lambda k: (dec.pocs[k], k))
    return [yuv_to_rgb(dec.frames[k][0].astype(np.uint8),
                       dec.frames[k][1], dec.frames[k][2])
            for k in order]


# ------------------------------------------------------ P encoder


class H264InterEncoder(H264Encoder):
    """IPPP fixture encoder.  Frame 0 is an IDR keyframe via the
    intra tier; subsequent frames are P slices whose macroblocks
    follow a plan:

    - ``pan16``: every MB P_L0_16x16 with one global MV; MBs whose
      residual quantizes to zero and whose MV matches the P_Skip
      prediction are emitted through ``mb_skip_run``.
    - ``parts``: cycles 16x16 / 16x8 / 8x16 / 8x8 (sub-shapes
      cycling 8x8/8x4/4x8/4x4) with per-partition quarter-pel MV
      jitter — exercises the median/directional MV prediction and
      the interpolation positions.
    - ``mixed``: cycles P_L0_16x16 / intra-I16 / skip-eligible.

    Reconstruction state mirrors the decoder exactly (same dequant /
    transform / MC code), so prediction chains stay bit-true."""

    def encode_p_frame(self, y, u, v, ref, f_prev, frame_num: int,
                       plan: str = "pan16",
                       base_mv: tuple = (64, 0)) -> bytes:
        mbw, mbh = self.mb_w, self.mb_h
        f = _Frame(mbw, mbh)
        f.mv = np.zeros((mbh * 4, mbw * 4, 2), dtype=np.int32)
        f.ref = np.full((mbh * 4, mbw * 4), -1, dtype=np.int32)
        py = np.zeros((mbh * 16, mbw * 16), dtype=np.int32)
        pu = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
        pv = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
        py[:y.shape[0], :y.shape[1]] = y
        py[y.shape[0]:, :y.shape[1]] = py[y.shape[0] - 1, :y.shape[1]]
        py[:, y.shape[1]:] = py[:, y.shape[1] - 1:y.shape[1]]
        pu[:u.shape[0], :u.shape[1]] = u
        pu[u.shape[0]:, :u.shape[1]] = pu[u.shape[0] - 1, :u.shape[1]]
        pu[:, u.shape[1]:] = pu[:, u.shape[1] - 1:u.shape[1]]
        pv[:v.shape[0], :v.shape[1]] = v
        pv[v.shape[0]:, :v.shape[1]] = pv[v.shape[0] - 1, :v.shape[1]]
        pv[:, v.shape[1]:] = pv[:, v.shape[1] - 1:v.shape[1]]

        w = BitWriter()
        w.ue(0)                               # first_mb_in_slice
        w.ue(5)                               # slice_type P (all)
        w.ue(0)                               # pps_id
        w.write(frame_num & 15, 4)                # frame_num
        if self.poc_type == 0:
            w.write(self._poc_lsb & 255, 8)       # pic_order_cnt_lsb
        w.write(0, 1)                             # no ref-count override
        w.write(0, 1)                             # no list modification
        w.write(0, 1)                             # no adaptive marking
        w.se(0)                               # slice_qp_delta
        w.ue(1)                               # disable deblocking
        pending_skip = 0
        for addr in range(mbw * mbh):
            pending_skip = self._mb_p_enc(
                w, f, addr, py, pu, pv, ref, plan, base_mv,
                pending_skip)
        if pending_skip:
            w.ue(pending_skip)
        w.rbsp_trailing()
        self._last_f = f
        return w.bytes()

    # -- helpers --------------------------------------------------------

    def _inter_parts(self, addr: int, plan: str, base_mv):
        """Partition layout + per-partition MV for one MB."""
        bx, by = base_mv
        if plan == "pan16":
            return 0, [(0, 0, 4, 4, (bx, by))], None
        if plan == "mixed":
            kind = addr % 3
            if kind == 2:
                return None, None, "intra"        # intra-in-P
            return 0, [(0, 0, 4, 4, (bx, by))], None
        # parts: cycle partition shapes with qpel jitter
        kind = addr % 4
        jit = lambda k: ((bx + (((addr + k) % 5) - 2),
                          by + (((addr + 2 * k) % 5) - 2)))
        if kind == 0:
            return 0, [(0, 0, 4, 4, jit(0))], None
        if kind == 1:
            return 1, [(0, 0, 4, 2, jit(0)), (0, 2, 4, 2, jit(1))], \
                None
        if kind == 2:
            return 2, [(0, 0, 2, 4, jit(0)), (2, 0, 2, 4, jit(1))], \
                None
        subs = [(addr + s) % 4 for s in range(4)]
        plist = []
        for smb in range(4):
            sx4, sy4 = 2 * (smb & 1), 2 * (smb >> 1)
            shape = subs[smb]
            if shape == 0:
                ps = [(sx4, sy4, 2, 2)]
            elif shape == 1:
                ps = [(sx4, sy4, 2, 1), (sx4, sy4 + 1, 2, 1)]
            elif shape == 2:
                ps = [(sx4, sy4, 1, 2), (sx4 + 1, sy4, 1, 2)]
            else:
                ps = [(sx4 + dx, sy4 + dy, 1, 1)
                      for dy in (0, 1) for dx in (0, 1)]
            for i, (px4, py4, pw4, ph4) in enumerate(ps):
                plist.append((px4, py4, pw4, ph4, jit(smb + i)))
        return 3, plist, subs

    def _mb_p_enc(self, w, f, addr, py, pu, pv, ref, plan, base_mv,
                  pending_skip):
        mbx, mby = addr % self.mb_w, addr // self.mb_w
        qp = self.qp
        mb_type, parts, extra = self._inter_parts(addr, plan, base_mv)
        if extra == "intra":
            w.ue(pending_skip)
            self._mb_i16(w, f, addr, py, pu, pv, toff=5)
            # intra MB: mv grid stays ref -1
            return 0
        gx0, gy0 = mbx * 4, mby * 4
        ry, ru, rv = ref
        # motion compensation + residual quantization per partition
        pred_y = np.empty((16, 16), dtype=np.int64)
        pred_u = np.empty((8, 8), dtype=np.int64)
        pred_v = np.empty((8, 8), dtype=np.int64)
        mvds = []
        for k, (px4, py4, pw4, ph4, mv) in enumerate(parts):
            part = ""
            if mb_type == 1:
                part = "top" if k == 0 else "bottom"
            elif mb_type == 2:
                part = "left" if k == 0 else "right"
            pmv = mv_pred(f, gx0 + px4, gy0 + py4, pw4, ph4,
                          part=part)
            mvds.append((mv[0] - pmv[0], mv[1] - pmv[1]))
            px, pyy = px4 * 4, py4 * 4
            ww, hh = pw4 * 4, ph4 * 4
            x0, y0 = mbx * 16, mby * 16
            pred_y[pyy:pyy + hh, px:px + ww] = mc_luma(
                ry, x0 + px, y0 + pyy, ww, hh, mv[0], mv[1])
            cw, ch = ww // 2, hh // 2
            pred_u[pyy // 2:pyy // 2 + ch, px // 2:px // 2 + cw] = \
                mc_chroma(ru, (x0 + px) // 2, (y0 + pyy) // 2,
                          cw, ch, mv[0], mv[1])
            pred_v[pyy // 2:pyy // 2 + ch, px // 2:px // 2 + cw] = \
                mc_chroma(rv, (x0 + px) // 2, (y0 + pyy) // 2,
                          cw, ch, mv[0], mv[1])
            gx, gy = gx0 + px4, gy0 + py4
            f.mv[gy:gy + ph4, gx:gx + pw4] = mv
            f.ref[gy:gy + ph4, gx:gx + pw4] = 0
            f.blk_decoded[gy:gy + ph4, gx:gx + pw4] = True
        x0, y0 = mbx * 16, mby * 16
        cx0, cy0 = mbx * 8, mby * 8
        resid = py[y0:y0 + 16, x0:x0 + 16].astype(np.int64) - pred_y
        zs = [None] * 16
        for i in range(16):
            bx4, by4 = _BLK4[i]
            zs[i] = _quant4(forward_core4(
                resid[by4 * 4:by4 * 4 + 4, bx4 * 4:bx4 * 4 + 4]),
                qp, skip_dc=False)
        cbp_luma = 0
        for i in range(16):
            if np.any(zs[i]):
                cbp_luma |= 1 << (i >> 2)
        # chroma residual over the MC prediction
        cqp = chroma_qp(qp)
        comps = []
        any_dc = any_ac = False
        for plane_src, pred_c in ((pu, pred_u), (pv, pred_v)):
            rc = plane_src[cy0:cy0 + 8, cx0:cx0 + 8].astype(np.int64) \
                - pred_c
            dc_raw = np.zeros((2, 2), dtype=np.int64)
            acs = []
            for i in range(4):
                bx4, by4 = i & 1, i >> 1
                wm = forward_core4(rc[by4 * 4:by4 * 4 + 4,
                                      bx4 * 4:bx4 * 4 + 4])
                dc_raw[by4, bx4] = wm[0, 0]
                acs.append(_quant4(wm, cqp, skip_dc=True))
            h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
            from tika_spark.analysis.h264 import _quant_dc
            zdc = _quant_dc(h2 @ dc_raw @ h2, cqp)
            any_dc |= bool(np.any(zdc))
            any_ac |= any(bool(np.any(a)) for a in acs)
            comps.append((zdc, acs, pred_c))
        cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
        cbp = cbp_luma | (cbp_chroma << 4)
        # skip-eligibility: 16x16, zero residual, mv == P_Skip pred
        if mb_type == 0 and cbp == 0 \
                and tuple(parts[0][4]) == skip_mv(f, mbx, mby):
            self._recon_inter(f, mbx, mby, pred_y, comps, cbp_chroma,
                              zs, cbp_luma, qp, cqp)
            f.tc_y[gy0:gy0 + 4, gx0:gx0 + 4] = 0
            f.tc_u[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 0
            f.tc_v[mby * 2:mby * 2 + 2, mbx * 2:mbx * 2 + 2] = 0
            f.mb_decoded[mby, mbx] = True
            return pending_skip + 1
        w.ue(pending_skip)
        w.ue(mb_type)
        if mb_type == 3 and extra is not None:
            for s in extra:
                w.ue(s)
        for dx, dy in mvds:
            w.se(dx)
            w.se(dy)
        w.ue(_CBP_INTER_INV[cbp])
        if cbp:
            w.se(0)                           # mb_qp_delta
        for i in range(16):
            bx4, by4 = _BLK4[i]
            gx, gy = gx0 + bx4, gy0 + by4
            if cbp_luma & (1 << (i >> 2)):
                nc = _nc(f.tc_y, gx, gy)
                tc = write_residual_block(w, _mat_to_zz(zs[i], False),
                                          nc, 16)
            else:
                tc = 0
            f.tc_y[gy, gx] = tc
        if cbp_chroma:
            for zdc, _acs, _p in comps:
                write_residual_block(
                    w, np.array([zdc[0, 0], zdc[0, 1], zdc[1, 0],
                                 zdc[1, 1]], dtype=np.int64), -1, 4)
        for ci, (plane_tc, comp) in enumerate(
                ((f.tc_u, comps[0]), (f.tc_v, comps[1]))):
            zdc, acs, _p = comp
            for i in range(4):
                bx4, by4 = i & 1, i >> 1
                gx, gy = mbx * 2 + bx4, mby * 2 + by4
                if cbp_chroma == 2:
                    nc = _nc(plane_tc, gx, gy)
                    tc = write_residual_block(
                        w, _mat_to_zz(acs[i], True), nc, 15)
                else:
                    tc = 0
                plane_tc[gy, gx] = tc
        self._recon_inter(f, mbx, mby, pred_y, comps, cbp_chroma, zs,
                          cbp_luma, qp, cqp)
        f.mb_decoded[mby, mbx] = True
        return 0

    def _recon_inter(self, f, mbx, mby, pred_y, comps, cbp_chroma,
                     zs, cbp_luma, qp, cqp):
        from tika_spark.analysis.h264 import dequant_chroma_dc
        x0, y0 = mbx * 16, mby * 16
        cx0, cy0 = mbx * 8, mby * 8
        recon = pred_y.copy()
        for i in range(16):
            bx4, by4 = _BLK4[i]
            z = zs[i] if cbp_luma & (1 << (i >> 2)) \
                else np.zeros((4, 4), np.int64)
            res = (inverse_core4(dequant_ac(z, qp)) + 32) >> 6
            recon[by4 * 4:by4 * 4 + 4, bx4 * 4:bx4 * 4 + 4] += res
        f.y[y0:y0 + 16, x0:x0 + 16] = _clip8(recon)
        h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
        for ci, (plane, comp) in enumerate(((f.u, comps[0]),
                                            (f.v, comps[1]))):
            zdc, acs, pred_c = comp
            dc = dequant_chroma_dc(h2 @ zdc @ h2, cqp) if cbp_chroma \
                else np.zeros((2, 2), np.int64)
            rc = pred_c.copy()
            for i in range(4):
                bx4, by4 = i & 1, i >> 1
                z = acs[i] if cbp_chroma == 2 \
                    else np.zeros((4, 4), np.int64)
                m = dequant_ac(z, cqp)
                m[0, 0] = dc[by4, bx4]
                res = (inverse_core4(m) + 32) >> 6
                rc[by4 * 4:by4 * 4 + 4, bx4 * 4:bx4 * 4 + 4] += res
            plane[cy0:cy0 + 8, cx0:cx0 + 8] = _clip8(rc)


def encode_h264p(frames: list, width: int, height: int, qp: int = 28,
                 plan: str = "pan16",
                 base_mv: tuple = (64, 0),
                 key_plan: str = "i16dc") -> bytes:
    """(y, u, v) planes -> Annex-B IPPP stream (frame 0 IDR, rest
    P slices following ``plan``)."""
    from tika_spark.analysis.h264 import _nal
    enc = H264InterEncoder(width, height, qp)
    out = bytearray()
    out += b"\x00\x00\x00\x01" + _nal(7, enc.sps_rbsp())
    out += b"\x00\x00\x00\x01" + _nal(8, enc.pps_rbsp())
    ref = None
    for k, (y, u, v) in enumerate(frames):
        y = np.asarray(y, dtype=np.uint8)
        u = np.asarray(u, dtype=np.uint8)
        v = np.asarray(v, dtype=np.uint8)
        if k == 0:
            rbsp = enc.encode_frame(y, u, v, key_plan)
            out += b"\x00\x00\x00\x01" + _nal(5, rbsp)
        else:
            rbsp = enc.encode_p_frame(y, u, v, ref, enc._last_f, k,
                                      plan, base_mv)
            out += b"\x00\x00\x00\x01" + _nal(1, rbsp, ref=2)
        lf = enc._last_f
        ref = (lf.y.copy(), lf.u.copy(), lf.v.copy())
    return bytes(out)


# ------------------------------------------------------ B encoder


class H264BiEncoder(H264InterEncoder):
    """IBP fixture encoder: display order F0 F1 F2 F3 F4 … encodes
    as I(F0) P(F2) B(F1) P(F4) B(F3) …; B frames are non-reference
    and cycle B_L0 / B_L1 / B_Bi 16x16 macroblocks.  POC type 0
    (explicit pic_order_cnt_lsb = 2 × display index) carries display
    order; the decoder reorders by POC."""

    def __init__(self, width: int, height: int, qp: int = 28):
        super().__init__(width, height, qp)
        self.poc_type = 0

    def encode_b_frame(self, y, u, v, ref0, ref1, frame_num: int,
                       mv0: tuple = (0, 0), mv1: tuple = (0, 0)
                       ) -> bytes:
        mbw, mbh = self.mb_w, self.mb_h
        f = _Frame(mbw, mbh)
        f.mv = np.zeros((mbh * 4, mbw * 4, 2), dtype=np.int32)
        f.ref = np.full((mbh * 4, mbw * 4), -1, dtype=np.int32)
        f.mv1 = np.zeros((mbh * 4, mbw * 4, 2), dtype=np.int32)
        f.ref1 = np.full((mbh * 4, mbw * 4), -1, dtype=np.int32)
        py = np.zeros((mbh * 16, mbw * 16), dtype=np.int32)
        pu = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
        pv = np.zeros((mbh * 8, mbw * 8), dtype=np.int32)
        py[:y.shape[0], :y.shape[1]] = y
        pu[:u.shape[0], :u.shape[1]] = u
        pv[:v.shape[0], :v.shape[1]] = v

        w = BitWriter()
        w.ue(0)                               # first_mb_in_slice
        w.ue(6)                               # slice_type B (all)
        w.ue(0)                               # pps_id
        w.write(frame_num & 15, 4)
        w.write(self._poc_lsb & 255, 8)
        w.write(1, 1)                             # direct_spatial flag
        w.write(0, 1)                             # no ref-count override
        w.write(0, 1)                             # no list0 modification
        w.write(0, 1)                             # no list1 modification
        # non-reference NAL: no dec_ref_pic_marking
        w.se(0)                               # slice_qp_delta
        w.ue(1)                               # disable deblocking
        for addr in range(mbw * mbh):
            w.ue(0)                           # mb_skip_run
            self._mb_b_enc(w, f, addr, py, pu, pv, ref0, ref1,
                           mv0, mv1)
        w.rbsp_trailing()
        return w.bytes()

    def _mb_b_enc(self, w, f, addr, py, pu, pv, ref0, ref1, mv0,
                  mv1):
        mbx, mby = addr % self.mb_w, addr // self.mb_w
        qp = self.qp
        gx0, gy0 = mbx * 4, mby * 4
        x0, y0 = mbx * 16, mby * 16
        cx0, cy0 = mbx * 8, mby * 8
        mb_type = 1 + addr % 3                # L0 / L1 / Bi
        use_l0 = mb_type in (1, 3)
        use_l1 = mb_type in (2, 3)
        w.ue(mb_type)
        preds = []
        for lst, (use, mv, ref) in enumerate(
                ((use_l0, mv0, ref0), (use_l1, mv1, ref1))):
            if not use:
                continue
            pmv = mv_pred(f, gx0, gy0, 4, 4, lst=lst)
            w.se(mv[0] - pmv[0])
            w.se(mv[1] - pmv[1])
            ry, ru, rv = ref
            preds.append((mc_luma(ry, x0, y0, 16, 16, mv[0], mv[1]),
                          mc_chroma(ru, cx0, cy0, 8, 8, mv[0], mv[1]),
                          mc_chroma(rv, cx0, cy0, 8, 8, mv[0],
                                    mv[1])))
            mvg = f.mv if lst == 0 else f.mv1
            refg = f.ref if lst == 0 else f.ref1
            mvg[gy0:gy0 + 4, gx0:gx0 + 4] = mv
            refg[gy0:gy0 + 4, gx0:gx0 + 4] = 0
        if len(preds) == 2:
            pred_y, pred_u, pred_v = (
                (a + b + 1) >> 1 for a, b in zip(preds[0], preds[1]))
        else:
            pred_y, pred_u, pred_v = preds[0]
        f.blk_decoded[gy0:gy0 + 4, gx0:gx0 + 4] = True
        # residual (same machinery as P)
        resid = py[y0:y0 + 16, x0:x0 + 16].astype(np.int64) - pred_y
        zs = [None] * 16
        for i in range(16):
            bx4, by4 = _BLK4[i]
            zs[i] = _quant4(forward_core4(
                resid[by4 * 4:by4 * 4 + 4, bx4 * 4:bx4 * 4 + 4]),
                qp, skip_dc=False)
        cbp_luma = 0
        for i in range(16):
            if np.any(zs[i]):
                cbp_luma |= 1 << (i >> 2)
        cqp = chroma_qp(qp)
        comps = []
        any_dc = any_ac = False
        from tika_spark.analysis.h264 import _quant_dc
        for plane_src, pred_c in ((pu, pred_u), (pv, pred_v)):
            rc = plane_src[cy0:cy0 + 8, cx0:cx0 + 8].astype(np.int64) \
                - pred_c
            dc_raw = np.zeros((2, 2), dtype=np.int64)
            acs = []
            for i in range(4):
                bx4, by4 = i & 1, i >> 1
                wm = forward_core4(rc[by4 * 4:by4 * 4 + 4,
                                      bx4 * 4:bx4 * 4 + 4])
                dc_raw[by4, bx4] = wm[0, 0]
                acs.append(_quant4(wm, cqp, skip_dc=True))
            h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
            zdc = _quant_dc(h2 @ dc_raw @ h2, cqp)
            any_dc |= bool(np.any(zdc))
            any_ac |= any(bool(np.any(a)) for a in acs)
            comps.append((zdc, acs, pred_c))
        cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
        cbp = cbp_luma | (cbp_chroma << 4)
        w.ue(_CBP_INTER_INV[cbp])
        if cbp:
            w.se(0)
        for i in range(16):
            bx4, by4 = _BLK4[i]
            gx, gy = gx0 + bx4, gy0 + by4
            if cbp_luma & (1 << (i >> 2)):
                nc = _nc(f.tc_y, gx, gy)
                tc = write_residual_block(w, _mat_to_zz(zs[i], False),
                                          nc, 16)
            else:
                tc = 0
            f.tc_y[gy, gx] = tc
        if cbp_chroma:
            for zdc, _acs, _p in comps:
                write_residual_block(
                    w, np.array([zdc[0, 0], zdc[0, 1], zdc[1, 0],
                                 zdc[1, 1]], dtype=np.int64), -1, 4)
        for ci, (plane_tc, comp) in enumerate(
                ((f.tc_u, comps[0]), (f.tc_v, comps[1]))):
            zdc, acs, _p = comp
            for i in range(4):
                bx4, by4 = i & 1, i >> 1
                gx, gy = mbx * 2 + bx4, mby * 2 + by4
                if cbp_chroma == 2:
                    nc = _nc(plane_tc, gx, gy)
                    tc = write_residual_block(
                        w, _mat_to_zz(acs[i], True), nc, 15)
                else:
                    tc = 0
                plane_tc[gy, gx] = tc
        f.mb_decoded[mby, mbx] = True


def encode_h264b(frames: list, width: int, height: int,
                 qp: int = 28, mv_fwd: tuple = (0, 0),
                 mv_bwd: tuple = (0, 0)) -> bytes:
    """Display-order (y, u, v) planes -> Annex-B IBP stream:
    I(F0) P(F2) B(F1) P(F4) B(F3) …, one trailing P if the count is
    even.  B macroblocks cycle L0/L1/Bi."""
    from tika_spark.analysis.h264 import _nal
    enc = H264BiEncoder(width, height, qp)
    out = bytearray()
    out += b"\x00\x00\x00\x01" + _nal(7, enc.sps_rbsp())
    out += b"\x00\x00\x00\x01" + _nal(8, enc.pps_rbsp())

    def planes(k):
        y, u, v = frames[k]
        return (np.asarray(y, dtype=np.uint8),
                np.asarray(u, dtype=np.uint8),
                np.asarray(v, dtype=np.uint8))

    enc._poc_lsb = 0
    y, u, v = planes(0)
    out += b"\x00\x00\x00\x01" + _nal(5, enc.encode_frame(y, u, v,
                                                          "i16dc"))
    lf = enc._last_f
    past = (lf.y.copy(), lf.u.copy(), lf.v.copy())
    fnum = 1
    k = 1
    while k < len(frames):
        if k + 1 < len(frames):
            # P for F[k+1]
            enc._poc_lsb = 2 * (k + 1)
            y, u, v = planes(k + 1)
            out += b"\x00\x00\x00\x01" + _nal(
                1, enc.encode_p_frame(y, u, v, past, enc._last_f,
                                      fnum, "pan16", (0, 0)), ref=2)
            lf = enc._last_f
            fut = (lf.y.copy(), lf.u.copy(), lf.v.copy())
            fnum += 1
            # B for F[k], non-reference
            enc._poc_lsb = 2 * k
            y, u, v = planes(k)
            out += b"\x00\x00\x00\x01" + _nal(
                1, enc.encode_b_frame(y, u, v, past, fut, fnum,
                                      mv_fwd, mv_bwd), ref=0)
            past = fut
            k += 2
        else:
            enc._poc_lsb = 2 * k
            y, u, v = planes(k)
            out += b"\x00\x00\x00\x01" + _nal(
                1, enc.encode_p_frame(y, u, v, past, enc._last_f,
                                      fnum, "pan16", (0, 0)), ref=2)
            lf = enc._last_f
            past = (lf.y.copy(), lf.u.copy(), lf.v.copy())
            fnum += 1
            k += 1
    return bytes(out)
