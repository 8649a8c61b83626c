"""H.264 CABAC P-slice essence codec — pure numpy + stdlib.

Closes the CABAC half of the inter refusal: P slices now decode and
encode under arithmetic entropy too, composing the clause-9.3 engine
(h264_cabac.py) with the motion machinery (h264_inter.MotionMixin):

- **mb_skip_flag** (9.3.3.1.1.1): context from the two neighbor
  macroblocks' skip flags (unavailable or skipped neighbors
  contribute 0), coded per macroblock — CABAC has no mb_skip_run;
- **P mb_type binarization** (Table 9-34): prefix bin 0 splits
  inter/intra; '000' = P_L0_16x16; '011' / '010' = the 16x8 / 8x16
  partitions (REAL since r5 s9 — per-partition mvd with block-grid
  context increments, directional predictors, assembled prediction);
  '001' = P_8x8 (four Table 9-38 sub_mb_type codes); prefix
  '1' hands the macroblock to the existing I-slice CABAC dispatcher
  (intra-in-P, including I_PCM through the pcm_flag
  terminate/flush/reinit lane);
- **mvd_l0 UEG3** (9.3.2.3, Table 9-34): truncated-unary prefix with
  cMax 9 whose bin-0 context derives from the neighbor |mvd| sum
  (<3 / 3..32 / >32) and whose later bins walk the spec's 3/4/5/6
  context ladder, a k=3 Exp-Golomb bypass suffix, and a bypass sign;
- **inter residuals**: the same ctxBlockCat machinery as the intra
  lane (coded_block_flag neighbor grids, significance/last maps,
  UEG0 levels) over the motion-compensated prediction, CBP-gated;
- **end_of_slice_flag** terminates after every macroblock, skipped
  ones included (7.3.4).

Context numbering note: this engine's documented deviation #2
(equiprobable context init — see h264_cabac.py) extends here: the
intra-in-P suffix reuses the I-slice mb_type context set rather than
the spec's separate suffix offsets, and P-prefix bin 2 uses one of
two dedicated slots keyed on bin 1.  Grammar, binarization shapes,
neighbor-increment rules and the arithmetic engine follow clause 9.3;
encoder and decoder share every context table, so the pair is
self-consistent by construction.

The full Table 7-17 / 9-38 sub-8x8 P family decodes; P slices
predict from one reference picture, so no ref_idx_l0 bins are coded.

Codec-lane status: per-asset decode inside ``mapInPandas``
(multimodal.py), NOT a Spark hot path — the same boundary as the
rest of this codec family.

Reference parity note: rmlint hashes media as opaque bytes
(lib/checksum.c); this module serves the training-data multimodal
lane (cross-container / cross-entropy-mode frame dedup).
"""

from __future__ import annotations

import numpy as np

from rmlint_spark.operators.flac import _BitReader, _BitWriter
from rmlint_spark.operators.h264_cabac import (
    CabacDecoder,
    CabacEncoder,
    CabacPicture,
    _dec_residual,
    _enc_residual,
)
from rmlint_spark.operators.h264_cavlc import (
    _BLK_GROUP,
    _BLK_XY,
    _pred16x16,
    _recon4,
    _scan_coeffs,
    _unscan_coeffs,
)
from rmlint_spark.operators.h264_inter import MotionMixin

_UCOFF_MVD = 9                         # UEG3 prefix cutoff (9.3.2.3)


# ------------------------------------------------ UEGk bypass suffix

def _enc_egk(enc: CabacEncoder, v: int, k: int) -> None:
    while v >= (1 << k):
        enc.bypass(1)
        v -= 1 << k
        k += 1
    enc.bypass(0)
    for i in range(k - 1, -1, -1):
        enc.bypass((v >> i) & 1)


def _dec_egk(dec: CabacDecoder, k: int) -> int:
    v = 0
    while dec.bypass():
        v += 1 << k
        k += 1
        if k > 32:
            raise ValueError("CABAC UEGk suffix overruns (corrupt mvd)")
    out = 0
    for _ in range(k):
        out = (out << 1) | dec.bypass()
    return v + out


# ------------------------------------------------------ picture state

class CabacInterPicture(MotionMixin, CabacPicture):
    """CabacPicture plus MotionMixin: the CABAC-entropy P lane.
    Intra macroblocks inside a P slice reuse the inherited I-slice
    CABAC paths; extra grids back the mb_skip_flag and mvd context
    increments."""

    def __init__(self, y, u, v, mb_w: int, mb_h: int,
                 ref: tuple[np.ndarray, np.ndarray, np.ndarray]) -> None:
        CabacPicture.__init__(self, y, u, v, mb_w, mb_h)
        self._init_motion(ref)
        # -1 undecoded, 0 coded, 1 skipped
        self.skipped = np.full((mb_h, mb_w), -1, dtype=np.int64)
        # |mvd| per 4x4 block and component (dx, dy) — partition
        # granularity since the 16x8/8x16 lanes (r5 s9)
        self.mvd4 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int64)

    def note_intra(self, addr: int) -> None:
        super().note_intra(addr)
        my, mx = divmod(addr, self.mb_w)
        self.skipped[my, mx] = 0
        self.mvd4[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = 0

    # ---- context increments ----

    def _skip_inc(self, my: int, mx: int) -> int:
        """9.3.3.1.1.1: an available NON-skipped neighbor adds 1."""
        a = int(self.skipped[my, mx - 1]) if mx > 0 else -1
        b = int(self.skipped[my - 1, mx]) if my > 0 else -1
        return (1 if a == 0 else 0) + (1 if b == 0 else 0)

    def _mvd_inc(self, by: int, bx: int, comp: int) -> int:
        """bin-0 ctxIdxInc from the neighbor |mvd| sum (9.3.3.1.1.7)
        at 4x4-block (partition) granularity: unavailable / intra /
        skipped neighbors contribute 0."""
        a = abs(int(self.mvd4[by, bx - 1, comp])) if bx > 0 else 0
        b = abs(int(self.mvd4[by - 1, bx, comp])) if by > 0 else 0
        s = a + b
        return 0 if s < 3 else (1 if s <= 32 else 2)

    # ---- mvd UEG3 ----

    def _enc_mvd(self, enc: CabacEncoder, comp: int, by: int, bx: int,
                 v: int) -> None:
        cx = self.cab.mvd[comp]
        a = abs(v)
        prefix = min(a, _UCOFF_MVD)
        if prefix == 0:
            enc.decision(cx[self._mvd_inc(by, bx, comp)], 0)
        else:
            enc.decision(cx[self._mvd_inc(by, bx, comp)], 1)
            for k in range(1, prefix):
                enc.decision(cx[3 + min(k - 1, 3)], 1)
            if prefix < _UCOFF_MVD:
                enc.decision(cx[3 + min(prefix - 1, 3)], 0)
        if a >= _UCOFF_MVD:
            _enc_egk(enc, a - _UCOFF_MVD, 3)
        if a:
            enc.bypass(1 if v < 0 else 0)

    def _dec_mvd(self, dec: CabacDecoder, comp: int, by: int,
                 bx: int) -> int:
        cx = self.cab.mvd[comp]
        if not dec.decision(cx[self._mvd_inc(by, bx, comp)]):
            return 0
        a = 1
        while a < _UCOFF_MVD and dec.decision(cx[3 + min(a - 1, 3)]):
            a += 1
        if a == _UCOFF_MVD:
            a += _dec_egk(dec, 3)
        return -a if dec.bypass() else a

    # ---- grid bookkeeping shared by skip / inter paths ----

    def _note_skip(self, addr: int) -> None:
        my, mx = divmod(addr, self.mb_w)
        self.skipped[my, mx] = 1
        self.mvd4[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = 0
        self.mbt[my, mx] = 3                 # non-I_NxN for mb_type inc
        self.dc_cbf[my, mx] = 0
        self.cdc_u[my, mx] = 0
        self.cdc_v[my, mx] = 0
        self.cbp8[my * 2:my * 2 + 2, mx * 2:mx * 2 + 2] = 0
        self.cbp_c[my, mx] = 0

    def _note_mvd(self, by: int, bx: int, w4: int, h4: int,
                  mvd: tuple[int, int]) -> None:
        self.mvd4[by:by + h4, bx:bx + w4] = mvd

    def _note_inter(self, addr: int, mvd: tuple[int, int] | None,
                    cbp: int) -> None:
        my, mx = divmod(addr, self.mb_w)
        self.skipped[my, mx] = 0
        if mvd is not None:                  # 16x16: one mvd for the MB
            self._note_mvd(my * 4, mx * 4, 4, 4, mvd)
        self.mbt[my, mx] = 3
        self.dc_cbf[my, mx] = 0              # no luma-DC block in P_16x16

    # ---- CBP (FL-4 luma bins + TU chroma, shared shape with I_NxN) ----

    def _dec_cbp(self, dec: CabacDecoder, my: int, mx: int) -> int:
        cx = self.cab
        cbp = 0
        for g in range(4):
            gy, gx = my * 2 + g // 2, mx * 2 + g % 2
            inc = self._cbp8_inc(gy, gx, self.cbp8)
            bit = dec.decision(cx.cbp_luma[inc])
            self.cbp8[gy, gx] = bit
            cbp |= bit << g
        inc = self._cbp_chroma_inc(my, mx, 0)
        if dec.decision(cx.cbp_chroma[inc]):
            inc = self._cbp_chroma_inc(my, mx, 1)
            cbp_chroma = 2 if dec.decision(cx.cbp_chroma[inc]) else 1
        else:
            cbp_chroma = 0
        self.cbp_c[my, mx] = cbp_chroma
        return cbp | (cbp_chroma << 4)

    def _enc_cbp(self, enc: CabacEncoder, my: int, mx: int,
                 cbp: int) -> None:
        cx = self.cab
        for g in range(4):
            gy, gx = my * 2 + g // 2, mx * 2 + g % 2
            inc = self._cbp8_inc(gy, gx, self.cbp8)
            bit = (cbp >> g) & 1
            enc.decision(cx.cbp_luma[inc], bit)
            self.cbp8[gy, gx] = bit
        cbp_chroma = cbp >> 4
        inc = self._cbp_chroma_inc(my, mx, 0)
        enc.decision(cx.cbp_chroma[inc], 1 if cbp_chroma else 0)
        if cbp_chroma:
            inc = self._cbp_chroma_inc(my, mx, 1)
            enc.decision(cx.cbp_chroma[inc], 1 if cbp_chroma == 2 else 0)
        self.cbp_c[my, mx] = cbp_chroma

    # ---- decode side ----

    def _read_inter_residual_cabac2(self, dec: CabacDecoder,
                                    addr: int, pred_y, pred_u,
                                    pred_v) -> None:
        """CBP + CABAC residual + reconstruction over an inter
        prediction — the shared tail of the 16x16 and partition
        paths."""
        cx = self.cab
        my, mx = divmod(addr, self.mb_w)
        cbp = self._dec_cbp(dec, my, mx)
        if cbp:
            self.qp += self._dec_qp_delta(dec)
            if not 0 <= self.qp <= 51:
                raise ValueError("CABAC mb_qp_delta drives QP out of range")
        for blk in range(16):
            bx, by = _BLK_XY[blk]
            gy, gx = my * 4 + by, mx * 4 + bx
            if cbp & (1 << _BLK_GROUP[blk]):
                inc = self._nc_inc(self.nc_y, gy, gx)
                vals = _dec_residual(dec, cx, 2, 16, inc)
                self.nc_y[gy, gx] = sum(1 for v in vals if v)
                q = _unscan_coeffs(vals)
            else:
                self.nc_y[gy, gx] = 0
                q = np.zeros((4, 4), dtype=np.int64)
            self.y[gy * 4:gy * 4 + 4, gx * 4:gx * 4 + 4] = _recon4(
                pred_y[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4], q, self.qp)
        dc_q, ac_q = self._chroma_read_cabac(dec, cbp >> 4, my, mx)
        self._mc_chroma = {"u": pred_u, "v": pred_v}
        try:
            self._chroma_recon(my, mx, dc_q, ac_q)
        finally:
            self._mc_chroma = None

    def _decode_p_mb(self, dec: CabacDecoder, addr: int) -> None:
        cx = self.cab
        my, mx = divmod(addr, self.mb_w)
        if dec.decision(cx.p_pre[0]):        # intra-in-P suffix
            self.decode_mb_cabac(dec, addr)
            self.note_intra(addr)
            return
        b1 = dec.decision(cx.p_pre[1])
        b2 = dec.decision(cx.p_pre[3 if b1 else 2])
        # Table 9-34 P prefix: '000' 16x16, '011' 16x8, '010' 8x16,
        # '001' P_8x8
        if b1 or b2:
            from rmlint_spark.operators.h264_inter import (
                _P_8x8,
                _P_L0_L0_8x16,
                _P_L0_L0_16x8,
                _p_parts,
                _sub_split_parts,
            )

            subs = None
            if b1:
                t = _P_L0_L0_16x8 if b2 else _P_L0_L0_8x16
            else:
                t = _P_8x8
                # four sub_mb_type codes (Table 9-38 binarization:
                # '1' 8x8, '00' 8x4, '011' 4x8, '010' 4x4)
                subs = []
                for _ in range(4):
                    if dec.decision(cx.p_sub[0]):
                        subs.append(0)
                    elif not dec.decision(cx.p_sub[1]):
                        subs.append(1)
                    else:
                        subs.append(2 if dec.decision(cx.p_sub[2])
                                    else 3)
            parts = (_p_parts(t, my, mx) if subs is None
                     else _sub_split_parts(subs, my, mx))
            mvs = []
            for by, bx, w4, h4, shape, _, _ in parts:
                mvd_x = self._dec_mvd(dec, 0, by, bx)
                mvd_y = self._dec_mvd(dec, 1, by, bx)
                p = self._mv_pred_part(by, bx, w4, h4, shape)
                pmv = (p[0] + mvd_y, p[1] + mvd_x)
                self._commit_part(by, bx, w4, h4, pmv)
                self._note_mvd(by, bx, w4, h4, (mvd_x, mvd_y))
                mvs.append(pmv)
            pred_y, pred_u, pred_v = self._mc_pred_split(
                my, mx, t, mvs, parts=parts)
            self._read_inter_residual_cabac2(dec, addr, pred_y,
                                             pred_u, pred_v)
            self._note_inter(addr, None, 0)
            self._finish_inter_mb(addr)
            return
        mvd_x = self._dec_mvd(dec, 0, my * 4, mx * 4)
        mvd_y = self._dec_mvd(dec, 1, my * 4, mx * 4)
        mvp = self._mv_pred(my, mx)
        mv = (mvp[0] + mvd_y, mvp[1] + mvd_x)
        pred_y, pred_u, pred_v = self._mc_pred(my, mx, mv)
        self._read_inter_residual_cabac2(dec, addr, pred_y, pred_u,
                                         pred_v)
        self._note_inter(addr, (mvd_x, mvd_y), 0)
        self._commit_inter(addr, mv)

    def decode_slice_p(self, r: _BitReader, first_mb: int,
                       covered: np.ndarray) -> None:
        """slice_data() for a CABAC P slice (7.3.4): alignment, engine
        init, then mb_skip_flag + macroblock_layer + end_of_slice_flag
        per macroblock."""
        while r.bitpos:
            if not r.read(1):
                raise ValueError("cabac_alignment_one_bit must be 1")
        self.new_slice()
        dec = CabacDecoder(r)
        addr = first_mb
        total = self.mb_w * self.mb_h
        while True:
            if addr >= total:
                raise ValueError("H.264 CABAC P slice overruns the picture")
            my, mx = divmod(addr, self.mb_w)
            if dec.decision(self.cab.mb_skip[self._skip_inc(my, mx)]):
                self._decode_skip(addr)
                self._note_skip(addr)
            else:
                self._decode_p_mb(dec, addr)
            covered[addr] = True
            addr += 1
            if dec.terminate():              # end_of_slice_flag
                break

    # ---- encode side ----

    def encode_mb_p(self, enc: CabacEncoder, addr: int,
                    y_src: np.ndarray, u_src: np.ndarray,
                    v_src: np.ndarray, search: int,
                    partitions: bool = False) -> None:
        cx = self.cab
        my, mx = divmod(addr, self.mb_w)
        py, px = my * 16, mx * 16
        src = y_src[py:py + 16, px:px + 16].astype(np.int64)
        mv, inter_cost = self._motion_search(src, my, mx, search)
        split_best = None
        if partitions:
            from rmlint_spark.operators.h264_inter import (
                _P_8x8,
                _P_L0_L0_8x16,
                _P_L0_L0_16x8,
                _p_parts,
            )

            for t in (_P_L0_L0_16x8, _P_L0_L0_8x16):
                mvs, mvps, cost = self._search_split(y_src, my, mx,
                                                     t, search)
                cost += 96              # bit-cost bias: extra mvd pair
                if split_best is None or cost < split_best[0]:
                    split_best = (cost, t, mvs, mvps, None, None)
            # P_8x8 with per-block sub_mb_type competition — the SAME
            # shared search (and biases) as the CAVLC lane, so mode
            # decisions and pixels stay identical across entropy modes
            subs, sparts, mvs, mvps, cost = self._search_sub_split(
                y_src, my, mx, search)
            cost += 320                 # four sub codes + mvd baseline
            if cost < split_best[0]:
                split_best = (cost, _P_8x8, mvs, mvps, subs, sparts)
        if split_best is not None and split_best[0] < inter_cost:
            cost, t, mvs, mvps, subs, sparts = split_best
            enc.decision(cx.mb_skip[self._skip_inc(my, mx)], 0)
            enc.decision(cx.p_pre[0], 0)
            if t == _P_8x8:
                enc.decision(cx.p_pre[1], 0)
                enc.decision(cx.p_pre[2], 1)    # '001' (Table 9-34)
                for st in subs:                 # Table 9-38 codes
                    enc.decision(cx.p_sub[0], 1 if st == 0 else 0)
                    if st != 0:
                        enc.decision(cx.p_sub[1], 0 if st == 1 else 1)
                        if st != 1:
                            enc.decision(cx.p_sub[2],
                                         1 if st == 2 else 0)
            else:
                enc.decision(cx.p_pre[1], 1)
                # '011' = 16x8, '010' = 8x16 (Table 9-34)
                enc.decision(cx.p_pre[3],
                             1 if t == _P_L0_L0_16x8 else 0)
            parts = sparts if t == _P_8x8 else _p_parts(t, my, mx)
            for (by, bx, w4, h4, _, _, _), pmv, pmvp in zip(
                    parts, mvs, mvps):
                mvd = (pmv[1] - pmvp[1], pmv[0] - pmvp[0])
                self._enc_mvd(enc, 0, by, bx, mvd[0])
                self._enc_mvd(enc, 1, by, bx, mvd[1])
                self._commit_part(by, bx, w4, h4, pmv)
                self._note_mvd(by, bx, w4, h4, mvd)
            preds = self._mc_pred_split(my, mx, t, mvs, parts=parts)
            (pred_y, pred_u, pred_v, luma_q, dc_q, ac_q,
             cbp) = self._quantize_inter(addr, mvs[0], y_src, u_src,
                                         v_src, preds=preds)
            self._write_inter_residual_cabac2(
                enc, addr, pred_y, pred_u, pred_v, luma_q, dc_q,
                ac_q, cbp)
            self._note_inter(addr, None, cbp)
            self._finish_inter_mb(addr)
            return
        intra_best = None
        for mode in (0, 1, 2, 3):
            if (mode == 0 and my == 0) or (mode == 1 and mx == 0):
                continue
            if mode == 3 and (my == 0 or mx == 0):
                continue
            pred = _pred16x16(self.y, py, px, mode,
                              has_top=my > 0, has_left=mx > 0)
            sad = int(np.abs(src - pred).sum())
            if intra_best is None or sad < intra_best:
                intra_best = sad
        if intra_best is not None and inter_cost > 2 * intra_best + 512:
            enc.decision(cx.mb_skip[self._skip_inc(my, mx)], 0)
            enc.decision(cx.p_pre[0], 1)     # intra prefix
            self.encode_mb(enc, addr, y_src, u_src, v_src)
            self.note_intra(addr)
            return
        (pred_y, pred_u, pred_v, luma_q, dc_q, ac_q,
         cbp) = self._quantize_inter(addr, mv, y_src, u_src, v_src)
        if cbp == 0 and mv == self._skip_mv(my, mx):
            enc.decision(cx.mb_skip[self._skip_inc(my, mx)], 1)
            self._decode_skip(addr)          # recon == decoder's skip
            self._note_skip(addr)
            return
        enc.decision(cx.mb_skip[self._skip_inc(my, mx)], 0)
        enc.decision(cx.p_pre[0], 0)
        enc.decision(cx.p_pre[1], 0)
        enc.decision(cx.p_pre[2], 0)         # '000' = P_L0_16x16
        mvp = self._mv_pred(my, mx)
        mvd = (mv[1] - mvp[1], mv[0] - mvp[0])
        self._enc_mvd(enc, 0, my * 4, mx * 4, mvd[0])
        self._enc_mvd(enc, 1, my * 4, mx * 4, mvd[1])
        self._write_inter_residual_cabac2(enc, addr, pred_y, pred_u,
                                          pred_v, luma_q, dc_q, ac_q,
                                          cbp)
        self._note_inter(addr, mvd, cbp)
        self._commit_inter(addr, mv)

    def _write_inter_residual_cabac2(self, enc: CabacEncoder,
                                     addr: int, pred_y, pred_u,
                                     pred_v, luma_q, dc_q, ac_q,
                                     cbp) -> None:
        """CBP + CABAC residual entropy + in-loop reconstruction —
        the write-side twin of _read_inter_residual_cabac2."""
        cx = self.cab
        my, mx = divmod(addr, self.mb_w)
        self._enc_cbp(enc, my, mx, cbp)
        if cbp:
            self._enc_qp_delta(enc, 0)
        for blk in range(16):
            bx, by = _BLK_XY[blk]
            gy, gx = my * 4 + by, mx * 4 + bx
            if cbp & (1 << _BLK_GROUP[blk]):
                inc = self._nc_inc(self.nc_y, gy, gx)
                self.nc_y[gy, gx] = _enc_residual(
                    enc, cx, 2, _scan_coeffs(luma_q[blk]), inc)
            else:
                self.nc_y[gy, gx] = 0
        self._chroma_write_cabac(enc, dc_q, ac_q, cbp >> 4, my, mx)
        self._recon_inter(addr, pred_y, pred_u, pred_v,
                          luma_q, dc_q, ac_q, cbp)


# --------------------------------------------------------- top level

def encode_h264_cabac_p(frames: list[np.ndarray],
                        fps: tuple[int, int] = (25, 1),
                        qp: int = 20,
                        gop: int = 8,
                        search: int = 4,
                        partitions: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB frames -> Annex-B H.264 with IDR+P GOPs
    under CABAC entropy, each P picture predicting from the one before
    it.  Lossy at ``qp``; self-consistent with
    :func:`rmlint_spark.operators.h264.decode_h264` (the CABAC
    deviations of h264_cabac.py apply)."""
    from rmlint_spark.operators.h264 import (
        _START4,
        _encode_pps,
        _encode_sps,
        _escape_rbsp,
        _pad_to_mb,
        _rgb_to_yuv420,
        _write_se,
        _write_ue,
    )
    if not frames:
        raise ValueError("need at least one frame")
    if not 0 <= qp <= 29:
        raise ValueError("qp outside the implemented 0..29 subset")
    if gop < 1:
        raise ValueError("gop must be >= 1")
    h, w_px = np.asarray(frames[0]).shape[:2]
    mb_w, mb_h = -(-w_px // 16), -(-h // 16)
    out = bytearray()
    out += _START4 + b"\x67" + _escape_rbsp(
        _encode_sps(mb_w, mb_h, w_px, h, fps, num_ref_frames=1))
    out += _START4 + b"\x68" + _escape_rbsp(_encode_pps(entropy_coding=1))
    prev: tuple | None = None               # reconstructed reference
    for i, fr in enumerate(frames):
        fr = np.asarray(fr, dtype=np.uint8)
        if fr.shape[:2] != (h, w_px):
            raise ValueError("all frames must share dimensions")
        y, u, v = _rgb_to_yuv420(fr)
        y, u, v = _pad_to_mb(y, 16), _pad_to_mb(u, 8), _pad_to_mb(v, 8)
        is_idr = i % gop == 0 or prev is None
        pic = CabacInterPicture(
            np.zeros_like(y), np.zeros_like(u), np.zeros_like(v),
            mb_w, mb_h,
            prev or (np.zeros_like(y), np.zeros_like(u), np.zeros_like(v)))
        pic.qp = qp
        bw = _BitWriter()
        _write_ue(bw, 0)                    # first_mb_in_slice
        _write_ue(bw, 7 if is_idr else 5)   # slice_type: I / P (all)
        _write_ue(bw, 0)                    # pic_parameter_set_id
        bw.write(i % gop % 16, 4)           # frame_num
        if is_idr:
            _write_ue(bw, i % 2)            # idr_pic_id
            bw.write(0, 1)                  # no_output_of_prior_pics
            bw.write(0, 1)                  # long_term_reference_flag
        else:
            bw.write(0, 1)                  # num_ref_idx_active_override
            bw.write(0, 1)                  # ref_pic_list_modification_l0
            bw.write(0, 1)                  # adaptive_ref_pic_marking
            _write_ue(bw, 0)                # cabac_init_idc
        _write_se(bw, qp - 26)              # slice_qp_delta
        _write_ue(bw, 1)                    # disable_deblocking_filter_idc: off
        while bw.nbits % 8:                 # cabac_alignment_one_bit
            bw.write(1, 1)
        enc = CabacEncoder(bw)
        n_mbs = mb_w * mb_h
        for addr in range(n_mbs):
            if is_idr:
                pic.encode_mb(enc, addr, y, u, v)
                pic.note_intra(addr)
            else:
                pic.encode_mb_p(enc, addr, y, u, v, search,
                                partitions=partitions)
            enc.terminate(1 if addr == n_mbs - 1 else 0)
        bw.pad_to_byte()
        out += _START4 + (b"\x65" if is_idr else b"\x41") + \
            _escape_rbsp(bw.bytes())
        prev = (pic.y, pic.u, pic.v)
    return bytes(out)


__all__ = ["CabacInterPicture", "encode_h264_cabac_p"]
