"""H.264/AVC P and B fixture encoders — pure Python + numpy.

The decoder for every slice type is :class:`tika_spark.analysis.h264.
H264Decoder` (one slice-header parser, one macroblock dispatch, one
display-order sort); this module holds the encoders that exercise its
inter paths.

IPPP streams (:class:`H264InterEncoder`, :func:`encode_h264p`): an
IDR keyframe followed by P frames whose macroblocks carry explicit
MVs, exercise skip runs when the residual vanishes and the MV
matches the P_Skip prediction, and optionally split into
16x8/8x16/8x8 partitions or embed intra macroblocks.  IBP streams
(:class:`H264BiEncoder`, :func:`encode_h264b`): decode order I P B,
non-reference B frames cycling B_L0 / B_L1 / B_Bi 16x16
macroblocks, POC type 0 carrying display order.  Reconstruction
reuses the decoder's motion compensation, MV prediction and inverse
transforms, so prediction chains stay bit-true.  Same epistemic
status as the intra module: encoder and decoder share every table,
round-trip-verified; no third-party conformance stream exists in
this container (SURVEY §7.4).
"""

from __future__ import annotations

import numpy as np

from tika_spark.analysis.h264 import (BitWriter, H264Encoder, _BLK4,
                                      _CBP_INTER, _Frame, _nc,
                                      _mat_to_zz, _clip8, _quant4,
                                      chroma_qp, dequant_ac,
                                      forward_core4, inverse_core4,
                                      mc_chroma, mc_luma, mv_pred,
                                      skip_mv, write_residual_block)

_CBP_INTER_INV = {v: i for i, v in enumerate(_CBP_INTER)}


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
