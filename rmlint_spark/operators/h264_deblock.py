"""H.264 in-loop deblocking filter (clause 8.7, frame macroblocks).

The last coding tool the decoder was missing: a PPS without
deblocking_filter_control_present makes disable_deblocking_filter_idc
INFERRED 0 (7.4.3) — the filter is mandatory — so the pre-s18 layout
(control 0, no filter anywhere) was self-consistent but not
conforming.  Since r5 s18 every encoder signals the idc explicitly
(h264._write_deblock), and when a stream says the filter is ON this
module applies the normative process:

- boundary strength (8.7.2.1): 4 on macroblock edges with an intra
  neighbour, 3 on intra internal edges, 2 when either 4x4 block
  carries residual levels, 1 on motion discontinuities (different
  reference pictures, a |mv| component delta >= 4 quarter-pel, or a
  different prediction-flow count — with the both-assignment rule
  when a bi-predicted pair uses one picture twice), else 0;
- filtering order (8.7): macroblocks in raster order, each one's four
  vertical luma edges left to right, then the four horizontal edges
  top to bottom (chroma: the two edges at offsets 0 and 8), so the
  sample dependency chain matches real decoders exactly;
- the sample filters (8.7.2.3-8.7.2.4): normal (tc-clipped delta on
  p0/q0 with the ap/aq side taps on p1/q1) and strong (bS 4) modes
  for luma, the two-tap chroma variants, alpha/beta thresholds from
  Table 8-16 with the slice header's FilterOffsetA/B, tc0 from Table
  8-17, and qPav from the per-macroblock QP_Y recorded during decode
  (I_PCM macroblocks filter with qP 0 per 8.7.2).

The tables below are the normative Table 8-16 / 8-17 / 8-15 contents
(identical in every public implementation — JM, x264, openh264;
spot-pinned in tests/test_h264_deblock.py).

Intra prediction correctness note: 8.3.1 predicts from samples
"prior to the deblocking filter process", which is why the layout
decoder runs this as a whole-picture post-pass — mutating the
reconstruction planes in place, so the DPB reference and the output
frame are the filtered picture (in-loop, not a display-only pass).

Same codec-lane status as the rest of the H.264 family: runs
per-asset inside ``mapInPandas`` (multimodal.py), explicitly NOT a
Spark hot path.
"""

from __future__ import annotations

import numpy as np

# Table 8-16 (alpha / beta by index 0..51)
ALPHA = np.array(
    [0] * 16
    + [4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28, 32,
       36, 40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144, 162,
       182, 203, 226, 255, 255],
    dtype=np.int64)
BETA = np.array(
    [0] * 16
    + [2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8, 9, 9, 10, 10,
       11, 11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16, 17, 17, 18,
       18],
    dtype=np.int64)
# Table 8-17 (tc0 by [bS - 1][index])
TC0 = np.array([
    [0] * 16 + [0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2,
                2, 2, 2, 3, 3, 3, 4, 4, 4, 5, 6, 6, 7, 8, 9, 10, 11,
                13],
    [0] * 16 + [0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2,
                2, 3, 3, 3, 4, 4, 5, 5, 6, 7, 8, 8, 10, 11, 12, 13,
                15, 17],
    [0] * 16 + [0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 4,
                4, 4, 5, 6, 6, 7, 8, 9, 10, 11, 13, 14, 16, 18, 20,
                23, 25, 27],
], dtype=np.int64)
# Table 8-15 (QPc from qPi; identity below 30)
CHROMA_QP = np.array(
    list(range(30))
    + [29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37, 37,
       38, 38, 38, 39, 39, 39, 39],
    dtype=np.int64)


class _State:
    """Per-picture deblocking inputs, unified across the I/P picture
    classes (both entropy lanes share those classes, so one
    extraction covers all four codec lanes).  ``kind`` "B" (two
    flows per block: ``uid4``/``mv4`` gain a list axis and ``use4``
    flags the active lists) keeps the 8.7.2.1 bi-prediction bS
    rules; no decoder lane builds it since B slices are refused."""

    __slots__ = ("mb_w", "mb_h", "intra4", "nz4", "kind", "uid4",
                 "mv4", "use4", "qpg")


def extract_state(pic, mb_w: int, mb_h: int):
    """Build the filter's view of a decoded picture.  ``None`` for a
    pure-I_PCM picture (no residual picture object exists): every
    macroblock then has qP 0 (8.7.2), alpha stays 0 even at the
    maximal +12 offset, and the filter is the identity — skipping is
    exact, not an approximation."""
    if pic is None:
        return None
    st = _State()
    st.mb_w, st.mb_h = mb_w, mb_h
    st.nz4 = pic.nc_y > 0
    qpg = pic.qpg.copy()
    qpg[qpg < 0] = pic.qp       # encoder recon path: constant slice QP
    qpg[pic.ipcm] = 0           # 8.7.2: I_PCM filters with qP = 0
    st.qpg = qpg
    if hasattr(pic, "dec4"):    # P picture
        st.kind = "P"
        st.intra4 = pic.dec4 == 1
        refmap = np.array([id(t[0]) for t in pic.refs] or [0],
                          dtype=np.int64)
        st.uid4 = refmap[
            np.clip(pic.ref4, 0, max(len(pic.refs) - 1, 0))]
        st.mv4 = pic.mv4
        st.use4 = None
    else:                       # I picture
        st.kind = "I"
        st.intra4 = np.ones((mb_h * 4, mb_w * 4), dtype=bool)
        st.uid4 = st.mv4 = st.use4 = None
    return st


def _flows(st: _State, by: int, bx: int):
    """(uid, mvy, mvx) per prediction flow of an inter 4x4 block."""
    if st.kind == "P":
        return [(int(st.uid4[by, bx]), int(st.mv4[by, bx, 0]),
                 int(st.mv4[by, bx, 1]))]
    out = []
    for lst in (0, 1):
        if st.use4[by, bx, lst]:
            out.append((int(st.uid4[by, bx, lst]),
                        int(st.mv4[by, bx, lst, 0]),
                        int(st.mv4[by, bx, lst, 1])))
    return out


def _mv_far(a, b) -> bool:
    """|delta| >= 4 quarter-pel (one luma sample) in either component."""
    return abs(a[1] - b[1]) >= 4 or abs(a[2] - b[2]) >= 4


def _bs(st: _State, pby: int, pbx: int, qby: int, qbx: int,
        mb_edge: bool) -> int:
    """Boundary strength (8.7.2.1) between the p-side block and the
    q-side block."""
    if st.intra4[pby, pbx] or st.intra4[qby, qbx]:
        return 4 if mb_edge else 3
    if st.nz4[pby, pbx] or st.nz4[qby, qbx]:
        return 2
    if st.kind == "I":
        return 0                # unreachable: I blocks are intra
    fp, fq = _flows(st, pby, pbx), _flows(st, qby, qbx)
    if len(fp) != len(fq):
        return 1
    if sorted(f[0] for f in fp) != sorted(f[0] for f in fq):
        return 1                # different reference pictures
    if len(fp) == 1:
        return 1 if _mv_far(fp[0], fq[0]) else 0
    # bi-predicted pair over the same two references
    if fp[0][0] != fp[1][0]:
        # distinct pictures: flows pair up by reference identity
        q_by_uid = {f[0]: f for f in fq}
        for f in fp:
            if _mv_far(f, q_by_uid[f[0]]):
                return 1
        return 0
    # the same picture used twice: bS is 0 only if SOME assignment
    # of the two flow pairs keeps every component delta below 4
    for qa, qb in ((fq[0], fq[1]), (fq[1], fq[0])):
        if not _mv_far(fp[0], qa) and not _mv_far(fp[1], qb):
            return 0
    return 1


def _filter_luma(seg: np.ndarray, bs: int, alpha: int, beta: int,
                 tc0: int) -> np.ndarray:
    """8.7.2.3 (bS < 4) / 8.7.2.4 (bS 4) on an (n, 8) segment laid
    out p3 p2 p1 p0 | q0 q1 q2 q3 per row."""
    p3, p2, p1, p0 = (seg[:, i] for i in range(4))
    q0, q1, q2, q3 = (seg[:, i] for i in range(4, 8))
    fs = ((np.abs(p0 - q0) < alpha) & (np.abs(p1 - p0) < beta)
          & (np.abs(q1 - q0) < beta))
    ap = np.abs(p2 - p0) < beta
    aq = np.abs(q2 - q0) < beta
    out = seg.copy()
    if bs < 4:
        tc = tc0 + ap.astype(np.int64) + aq.astype(np.int64)
        delta = np.clip(((q0 - p0) * 4 + (p1 - q1) + 4) >> 3, -tc, tc)
        out[:, 3] = np.where(fs, np.clip(p0 + delta, 0, 255), p0)
        out[:, 4] = np.where(fs, np.clip(q0 - delta, 0, 255), q0)
        mid = (p0 + q0 + 1) >> 1
        out[:, 2] = np.where(
            fs & ap, p1 + np.clip((p2 + mid - 2 * p1) >> 1, -tc0, tc0),
            p1)
        out[:, 5] = np.where(
            fs & aq, q1 + np.clip((q2 + mid - 2 * q1) >> 1, -tc0, tc0),
            q1)
        return out
    small = np.abs(p0 - q0) < ((alpha >> 2) + 2)
    sp = fs & ap & small
    sq = fs & aq & small
    out[:, 3] = np.where(
        sp, (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3,
        np.where(fs, (2 * p1 + p0 + q1 + 2) >> 2, p0))
    out[:, 2] = np.where(sp, (p2 + p1 + p0 + q0 + 2) >> 2, p1)
    out[:, 1] = np.where(
        sp, (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3, p2)
    out[:, 4] = np.where(
        sq, (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3,
        np.where(fs, (2 * q1 + q0 + p1 + 2) >> 2, q0))
    out[:, 5] = np.where(sq, (q2 + q1 + q0 + p0 + 2) >> 2, q1)
    out[:, 6] = np.where(
        sq, (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3, q2)
    return out


def _filter_chroma(seg: np.ndarray, bs: int, alpha: int, beta: int,
                   tc0: int) -> np.ndarray:
    """8.7.2.3/8.7.2.4 chroma variants on an (n, 4) segment laid out
    p1 p0 | q0 q1 per row (only p0/q0 are ever modified)."""
    p1, p0, q0, q1 = (seg[:, i] for i in range(4))
    fs = ((np.abs(p0 - q0) < alpha) & (np.abs(p1 - p0) < beta)
          & (np.abs(q1 - q0) < beta))
    out = seg.copy()
    if bs < 4:
        tc = tc0 + 1
        delta = np.clip(((q0 - p0) * 4 + (p1 - q1) + 4) >> 3, -tc, tc)
        out[:, 1] = np.where(fs, np.clip(p0 + delta, 0, 255), p0)
        out[:, 2] = np.where(fs, np.clip(q0 - delta, 0, 255), q0)
    else:
        out[:, 1] = np.where(fs, (2 * p1 + p0 + q1 + 2) >> 2, p0)
        out[:, 2] = np.where(fs, (2 * q1 + q0 + p1 + 2) >> 2, q0)
    return out


def deblock_picture(y: np.ndarray, u: np.ndarray, v: np.ndarray,
                    st: _State, a_off: int = 0, b_off: int = 0
                    ) -> None:
    """Apply 8.7 to the reconstruction planes IN PLACE.  ``a_off`` /
    ``b_off`` are FilterOffsetA/B (the slice header's div2 values
    already doubled).  Macroblocks run in raster order, vertical
    edges before horizontal within each — the spec's sample
    dependency order."""
    yw = y.astype(np.int64)
    uw = u.astype(np.int64)
    vw = v.astype(np.int64)
    for my in range(st.mb_h):
        for mx in range(st.mb_w):
            for vertical in (True, False):
                _deblock_mb(yw, uw, vw, st, my, mx, vertical,
                            a_off, b_off)
    np.copyto(y, yw.astype(y.dtype))
    np.copyto(u, uw.astype(u.dtype))
    np.copyto(v, vw.astype(v.dtype))


def _deblock_mb(yw, uw, vw, st: _State, my: int, mx: int,
                vertical: bool, a_off: int, b_off: int) -> None:
    qpg = st.qpg
    for e in range(4):
        if e == 0 and (mx == 0 if vertical else my == 0):
            continue            # picture boundary (8.7: not filtered)
        mb_edge = e == 0
        if vertical:
            qp_p = qpg[my, mx - 1] if mb_edge else qpg[my, mx]
        else:
            qp_p = qpg[my - 1, mx] if mb_edge else qpg[my, mx]
        qp_q = qpg[my, mx]
        qpav = (int(qp_p) + int(qp_q) + 1) >> 1
        idx_a = min(max(qpav + a_off, 0), 51)
        idx_b = min(max(qpav + b_off, 0), 51)
        alpha, beta = int(ALPHA[idx_a]), int(BETA[idx_b])
        c_qpav = (int(CHROMA_QP[qp_p]) + int(CHROMA_QP[qp_q]) + 1) >> 1
        c_idx_a = min(max(c_qpav + a_off, 0), 51)
        c_idx_b = min(max(c_qpav + b_off, 0), 51)
        c_alpha, c_beta = int(ALPHA[c_idx_a]), int(BETA[c_idx_b])
        for g in range(4):      # 4-row (luma) block-pair segments
            if vertical:
                qby, qbx = my * 4 + g, mx * 4 + e
                pby, pbx = qby, qbx - 1
            else:
                qby, qbx = my * 4 + e, mx * 4 + g
                pby, pbx = qby - 1, qbx
            bs = _bs(st, pby, pbx, qby, qbx, mb_edge)
            if bs == 0:
                continue
            if alpha > 0:
                tc0 = int(TC0[bs - 1, idx_a]) if bs < 4 else 0
                if vertical:
                    x = qbx * 4
                    rows = slice(qby * 4, qby * 4 + 4)
                    seg = yw[rows, x - 4:x + 4]
                    yw[rows, x - 4:x + 4] = _filter_luma(
                        seg, bs, alpha, beta, tc0)
                else:
                    yb = qby * 4
                    cols = slice(qbx * 4, qbx * 4 + 4)
                    seg = yw[yb - 4:yb + 4, cols].T
                    yw[yb - 4:yb + 4, cols] = _filter_luma(
                        seg, bs, alpha, beta, tc0).T
            # chroma: edges 0 and 2 only (8 luma samples = 4 chroma),
            # two chroma rows per luma block-pair segment
            if e % 2 == 0 and c_alpha > 0:
                tc0 = int(TC0[bs - 1, c_idx_a]) if bs < 4 else 0
                for pl in (uw, vw):
                    if vertical:
                        cx = (mx * 8) + (e // 2) * 4
                        rows = slice((my * 8) + g * 2,
                                     (my * 8) + g * 2 + 2)
                        seg = pl[rows, cx - 2:cx + 2]
                        pl[rows, cx - 2:cx + 2] = _filter_chroma(
                            seg, bs, c_alpha, c_beta, tc0)
                    else:
                        cy = (my * 8) + (e // 2) * 4
                        cols = slice((mx * 8) + g * 2,
                                     (mx * 8) + g * 2 + 2)
                        seg = pl[cy - 2:cy + 2, cols].T
                        pl[cy - 2:cy + 2, cols] = _filter_chroma(
                            seg, bs, c_alpha, c_beta, tc0).T
