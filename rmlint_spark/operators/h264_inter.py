"""H.264 P-slice (inter) essence codec — pure numpy + stdlib.

Closes the inter half of the last video refusal ("inter P/B slices
only", VERDICT r4): P slices with P_Skip and P_L0_16x16 macroblocks
now encode and decode FOR REAL in the CAVLC lane —

- **quarter-pel luma motion compensation** (clause 8.4.2.2.1): the
  (1,-5,20,20,-5,1)/32 six-tap half-sample filter, the center
  position j computed from unrounded intermediate sums with the
  (x+512)>>10 second stage, and the Table 8-12 quarter-sample
  averages, with edge-replicated out-of-frame reference access
  (the spec's coordinate clipping);
- **eighth-pel chroma MC** (8.4.2.2.2): the normative bilinear
  ((8-dx)(8-dy)A + ...+32)>>6 kernel on the half-resolution planes;
- **motion-vector median prediction** (8.4.1.3): neighbor partitions
  A/B/C (D fallback when C is unavailable), the single-matching-
  reference shortcut, and the B-and-C-unavailable A-copy rule;
- **P_Skip reconstruction** (8.4.1.1): predicted-MV copy with the
  zero-MV override when a boundary or a stationary neighbor says so,
  and CAVLC ``mb_skip_run`` runs in slice_data (7.3.4);
- **inter residuals**: the same 4x4 integer transform, normative
  dequant and CAVLC nC-context residual coding the intra lane uses,
  on top of the motion-compensated prediction, CBP-gated per 8x8
  group (the coded_block_pattern me(v) mapping reuses this codec
  family's documented substitute ordering — see h264_cavlc.py
  deviation #1);
- **intra-in-P fallback**: mb_type >= 5 renames the whole I-slice
  macroblock table (Table 7-13), so scene cuts inside a P slice code
  as Intra_4x4 / Intra_16x16 / I_PCM through the existing intra
  paths.

The encoder (``encode_h264_p``) emits IDR/P GOPs with a
center-biased integer full search plus half- then quarter-pel
refinement, converts zero-residual predicted-MV macroblocks into
skips, falls back to intra on motion-search failure, and — like
every codec in this family — reconstructs in-loop through the SAME
dequant/IDCT/MC path the decoder runs, so encoder/decoder drift is
structurally impossible.

Since r5 s9 the 16x8 / 8x16 P partitions (mb_type 1/2) AND P_8x8
(mb_type 3/4) encode and decode too — since r5 s17 with the FULL
Table 7-17 sub_mb_type family (8x8 / 8x4 / 4x8 / 4x4 per 8x8
sub-macroblock): motion state lives on the spec's 4x4-block grid,
the two-partition shapes get the 8.4.1.3.2 directional predictor
(top->B, bottom->A, left->A, right->C) with the median fallback,
each (sub-)partition predicts from the previously committed ones,
and the encoder lets all splits compete with the whole-MB mode by
SAD + mvd-bits cost (opt-in ``partitions=`` flag; per-8x8-block
greedy sub_mb_type competition in :meth:`_search_sub_split`).
P slices predict from one reference picture (num_ref_idx_l0_active
1, so no ref_idx syntax is coded).  CABAC-coded P slices decode too,
via h264_cabac_p.py composing this module's MotionMixin with the
arithmetic engine.

Codec-lane status: per-asset decode inside ``mapInPandas``
(multimodal.py), NOT a Spark hot path — the same boundary as
jpeg.py / mpeg_audio.py / h264_cavlc.py.

Reference parity note: rmlint hashes media as opaque bytes
(lib/checksum.c); this module serves the training-data multimodal
lane: the same frames stored as an all-intra stream and as an
IDR+P GOP decode to identical pixels, so cross-container frame
dedup spans temporally-compressed video too.
"""

from __future__ import annotations

import numpy as np

from rmlint_spark.operators.flac import _BitReader, _BitWriter
from rmlint_spark.operators.h264_cavlc import (
    _BLK_GROUP,
    _BLK_XY,
    _CBP_FROM_CODE,
    _CBP_TO_CODE,
    CavlcPicture,
    _fdct4,
    _nc_for,
    _pred16x16,
    _quant4,
    _read_residual,
    _recon4,
    _scan_coeffs,
    _unscan_coeffs,
    _write_residual,
)

# P-slice mb_type table (7-13): 0 = P_L0_16x16; 1..4 are the smaller
# partitions (all decode); >= 5 renames the intra table.
_P_L0_16x16 = 0
_P_L0_L0_16x8 = 1
_P_L0_L0_8x16 = 2
_P_8x8 = 3
_P_8x8REF0 = 4          # identical to P_8x8 with one reference (7.4.5)
_P_SUB_L0_8x8 = 0       # sub_mb_type (Table 7-17); 0..3 all decode
_P_INTRA_OFFSET = 5

# encoder bit-cost biases (SAD-scale heuristics, shared by BOTH
# entropy lanes so mode decisions — and pixels — match across them):
# per-sub_mb_type extra cost over plain 8x8 (extra mvd pairs + the
# longer sub_mb_type code), tried in this order
_SUB_BIAS = ((0, 0), (1, 110), (2, 110), (3, 330))


def _p_parts(mb_type: int, my: int, mx: int):
    """Partition geometry for the two-partition P macroblock types:
    (block-grid top-left by/bx, w4, h4, the 8.4.1.3.2 directional
    shape, luma rect (py, px, bh, bw), chroma rect (cy, cx, ch, cw))
    per partition, in coding order."""
    by, bx = my * 4, mx * 4
    py, px, cy, cx = my * 16, mx * 16, my * 8, mx * 8
    if mb_type == _P_L0_L0_16x8:
        return [
            (by, bx, 4, 2, "16x8_top",
             (py, px, 8, 16), (cy, cx, 4, 8)),
            (by + 2, bx, 4, 2, "16x8_bottom",
             (py + 8, px, 8, 16), (cy + 4, cx, 4, 8)),
        ]
    if mb_type in (_P_8x8, _P_8x8REF0):
        # four 8x8 sub-macroblocks, raster order; the plain median
        # predictor applies (no 8.4.1.3.2 directional shortcut)
        return [
            (by + 2 * (i // 2), bx + 2 * (i % 2), 2, 2, None,
             (py + 8 * (i // 2), px + 8 * (i % 2), 8, 8),
             (cy + 4 * (i // 2), cx + 4 * (i % 2), 4, 4))
            for i in range(4)
        ]
    return [
        (by, bx, 2, 4, "8x16_left",
         (py, px, 16, 8), (cy, cx, 8, 4)),
        (by, bx + 2, 2, 4, "8x16_right",
         (py, px + 8, 16, 8), (cy, cx + 4, 8, 4)),
    ]


# sub_mb_type (Table 7-17) -> list of (dy, dx, bh, bw) luma rects
# inside one 8x8 sub-macroblock, in sub-partition coding order
_SUB_RECTS = {
    0: ((0, 0, 8, 8),),                                  # P_L0_8x8
    1: ((0, 0, 4, 8), (4, 0, 4, 8)),                     # P_L0_8x4
    2: ((0, 0, 8, 4), (0, 4, 8, 4)),                     # P_L0_4x8
    3: ((0, 0, 4, 4), (0, 4, 4, 4),
        (4, 0, 4, 4), (4, 4, 4, 4)),                     # P_L0_4x4
}


def _sub_parts(i: int, sub_type: int, my: int, mx: int):
    """Sub-partition geometry (Table 7-17) for 8x8 sub-macroblock
    ``i`` (raster order) of MB (my, mx) under ``sub_type``
    (0 = 8x8, 1 = 8x4, 2 = 4x8, 3 = 4x4), same tuple layout as
    :func:`_p_parts`.  Sub-partitions use the plain median predictor
    (8.4.1.3 — the 8.4.1.3.2 directional shortcuts apply only to
    16x8/8x16 macroblock partitions, so shape is None)."""
    if sub_type not in _SUB_RECTS:
        raise ValueError(f"invalid P sub_mb_type {sub_type}")
    oy, ox = 8 * (i // 2), 8 * (i % 2)
    py0, px0 = my * 16 + oy, mx * 16 + ox
    by0, bx0 = my * 4 + oy // 4, mx * 4 + ox // 4
    cy0, cx0 = my * 8 + oy // 2, mx * 8 + ox // 2
    return [
        (by0 + dy // 4, bx0 + dx // 4, bw // 4, bh // 4, None,
         (py0 + dy, px0 + dx, bh, bw),
         (cy0 + dy // 2, cx0 + dx // 2, bh // 2, bw // 2))
        for dy, dx, bh, bw in _SUB_RECTS[sub_type]
    ]


def _sub_split_parts(subs: list[int], my: int, mx: int):
    """Flattened sub-partitions of a P_8x8 macroblock whose four 8x8
    sub-macroblocks carry ``subs`` sub_mb_types."""
    return [p for i, s in enumerate(subs) for p in _sub_parts(i, s, my, mx)]


# motion vectors are bounded so a crafted stream cannot demand an
# absurd interpolation window (level limits bound real streams too)
_MV_LIMIT = 1 << 14


# ------------------------------------------------ sub-pel interpolation

def _filt6(a: np.ndarray, axis: int) -> np.ndarray:
    """Unrounded 6-tap (1,-5,20,20,-5,1) along ``axis``; output loses
    5 samples on that axis."""
    if axis == 1:
        return (a[:, :-5] - 5 * a[:, 1:-4] + 20 * a[:, 2:-3]
                + 20 * a[:, 3:-2] - 5 * a[:, 4:-1] + a[:, 5:])
    return (a[:-5] - 5 * a[1:-4] + 20 * a[2:-3]
            + 20 * a[3:-2] - 5 * a[4:-1] + a[5:])


def _interp_luma(ref: np.ndarray, py: int, px: int, bh: int, bw: int,
                 mvy: int, mvx: int) -> np.ndarray:
    """Quarter-pel luma prediction block (clause 8.4.2.2.1): returns
    an int64 (bh, bw) block already clipped to 0..255.  Out-of-frame
    integer coordinates clip to the frame edge (the spec's
    Clip3-on-coordinates rule, i.e. edge replication)."""
    if not (-_MV_LIMIT <= mvy <= _MV_LIMIT and -_MV_LIMIT <= mvx <= _MV_LIMIT):
        raise ValueError("H.264 motion vector exceeds decoder bound")
    h, w = ref.shape
    iy, fy = py + (mvy >> 2), mvy & 3
    ix, fx = px + (mvx >> 2), mvx & 3
    # window with the 6-tap apron plus one extra row/col so shifted
    # (next-integer / next-half) samples exist for quarter averages
    rows = np.clip(np.arange(iy - 2, iy + bh + 4), 0, h - 1)
    cols = np.clip(np.arange(ix - 2, ix + bw + 4), 0, w - 1)
    win = ref[np.ix_(rows, cols)].astype(np.int64)        # (bh+6, bw+6)
    g = win[2:3 + bh, 2:3 + bw]                           # (bh+1, bw+1)
    if fy == 0 and fx == 0:
        return g[:bh, :bw]
    # half-pel b (horizontal) and h (vertical) on the extended grid
    tb = _filt6(win, 1)                                   # (bh+6, bw+1)
    b = np.clip((tb[2:3 + bh] + 16) >> 5, 0, 255)         # (bh+1, bw+1)
    tv = _filt6(win, 0)                                   # (bh+1, bw+6)
    hh = np.clip((tv[:, 2:3 + bw] + 16) >> 5, 0, 255)     # (bh+1, bw+1)
    # center j from UNROUNDED vertical sums, second-stage >> 10
    j = np.clip((_filt6(tv, 1) + 512) >> 10, 0, 255)      # (bh+1, bw+1)
    g0, b0, h0, j0 = g[:bh, :bw], b[:bh, :bw], hh[:bh, :bw], j[:bh, :bw]
    gr, gd = g[:bh, 1:1 + bw], g[1:1 + bh, :bw]           # next int right/down
    m0 = hh[:bh, 1:1 + bw]                                # h shifted right
    s0 = b[1:1 + bh, :bw]                                 # b shifted down
    table = {
        (0, 1): (g0, b0), (0, 2): (b0, None), (0, 3): (b0, gr),
        (1, 0): (g0, h0), (2, 0): (h0, None), (3, 0): (h0, gd),
        (2, 2): (j0, None),
        (1, 2): (b0, j0), (2, 1): (h0, j0),
        (2, 3): (j0, m0), (3, 2): (j0, s0),
        (1, 1): (b0, h0), (1, 3): (b0, m0),
        (3, 1): (h0, s0), (3, 3): (m0, s0),
    }
    x, y2 = table[(fy, fx)]
    return x if y2 is None else (x + y2 + 1) >> 1


def _interp_chroma(ref: np.ndarray, py: int, px: int, bh: int, bw: int,
                   mvy: int, mvx: int) -> np.ndarray:
    """Eighth-pel bilinear chroma prediction (8.4.2.2.2) on the
    half-resolution plane; ``mv`` stays in luma quarter units, which
    ARE chroma eighth units."""
    h, w = ref.shape
    iy, dy = py + (mvy >> 3), mvy & 7
    ix, dx = px + (mvx >> 3), mvx & 7
    rows = np.clip(np.arange(iy, iy + bh + 1), 0, h - 1)
    cols = np.clip(np.arange(ix, ix + bw + 1), 0, w - 1)
    win = ref[np.ix_(rows, cols)].astype(np.int64)
    a = win[:bh, :bw]
    b = win[:bh, 1:]
    c = win[1:, :bw]
    d = win[1:, 1:]
    return ((8 - dx) * (8 - dy) * a + dx * (8 - dy) * b
            + (8 - dx) * dy * c + dx * dy * d + 32) >> 6


# ------------------------------------------------------ picture state

class MotionMixin:
    """The entropy-independent inter machinery a P picture needs:
    reference planes, a per-macroblock motion-vector grid, the
    decoded/intra/inter state grid that drives MV-prediction
    availability, motion compensation / search, and residual
    quantization + reconstruction.  The CAVLC lane (InterPicture
    below) and the CABAC lane (h264_cabac_p.CabacInterPicture) both
    mix this in over their entropy-layer picture class."""

    def _init_motion(
            self, ref: tuple[np.ndarray, np.ndarray, np.ndarray]) -> None:
        # the one reference picture (refIdx 0)
        self.ref_y, self.ref_u, self.ref_v = ref
        mb_h, mb_w = self.mb_h, self.mb_w
        # motion state lives at the spec's 4x4-block granularity since
        # the 16x8/8x16 partition lanes (r5 s9): mv4 holds (mvy, mvx)
        # per block, dec4 is 0 = not yet decoded, 1 = intra / I_PCM,
        # 2 = inter; mb_state keeps the per-MB view
        self.mv4 = np.zeros((mb_h * 4, mb_w * 4, 2), dtype=np.int64)
        self.dec4 = np.zeros((mb_h * 4, mb_w * 4), dtype=np.int64)
        self.mb_state = np.zeros((mb_h, mb_w), dtype=np.int64)
        self._mc_chroma: dict[str, np.ndarray] | None = None

    # CavlcPicture hook: while an inter MB is being coded, chroma
    # prediction is the motion-compensated block, not intra DC
    def _chroma_pred(self, key: str, plane: np.ndarray, my: int,
                     mx: int) -> np.ndarray:
        if self._mc_chroma is not None:
            return self._mc_chroma[key]
        return super()._chroma_pred(key, plane, my, mx)

    def note_intra(self, addr: int) -> None:
        my, mx = divmod(addr, self.mb_w)
        self.mb_state[my, mx] = 1
        self.dec4[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = 1
        self.mv4[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = 0

    # ---- motion-vector prediction (8.4.1.3) ----

    def _nb4(self, by: int, bx: int):
        """(available, is_inter, mv) of 4x4 block (by, bx)."""
        if not (0 <= by < self.mb_h * 4 and 0 <= bx < self.mb_w * 4):
            return False, False, (0, 0)
        st = int(self.dec4[by, bx])
        if st == 0:
            return False, False, (0, 0)
        return True, st == 2, (int(self.mv4[by, bx, 0]),
                               int(self.mv4[by, bx, 1]))

    def _mv_pred_part(self, by: int, bx: int, w4: int, h4: int,
                      shape: str | None = None) -> tuple[int, int]:
        """Median MV predictor (8.4.1.3) for the partition whose
        top-left 4x4 block is (by, bx) spanning w4 x h4 blocks.
        ``shape`` selects the 8.4.1.3.2 directional shortcuts:
        '16x8_top' -> B, '16x8_bottom' -> A, '8x16_left' -> A,
        '8x16_right' -> C — applied when that neighbor predicts from
        the same reference, else the median rule runs.  With one
        reference, "same refIdx" means "inter": intra and unavailable
        neighbors carry refIdx -1, so the exactly-one-match shortcut
        of 8.4.1.3.1 still fires when one neighbor is inter."""
        a = self._nb4(by, bx - 1)
        b = self._nb4(by - 1, bx)
        c = self._nb4(by - 1, bx + w4)
        if not c[0]:
            c = self._nb4(by - 1, bx - 1)            # D fallback
        directional = {"16x8_top": b, "16x8_bottom": a,
                       "8x16_left": a, "8x16_right": c}.get(shape)
        if directional is not None and directional[1]:
            return directional[2]
        if a[0] and not b[0] and not c[0]:
            return a[2]                              # 8.4.1.3.1 rule 1
        matches = [n for n in (a, b, c) if n[1]]
        if len(matches) == 1:
            return matches[0][2]
        mvy = sorted(n[2][0] if n[1] else 0 for n in (a, b, c))[1]
        mvx = sorted(n[2][1] if n[1] else 0 for n in (a, b, c))[1]
        return mvy, mvx

    def _mv_pred(self, my: int, mx: int) -> tuple[int, int]:
        return self._mv_pred_part(my * 4, mx * 4, 4, 4)

    def _skip_mv(self, my: int, mx: int) -> tuple[int, int]:
        """P_Skip motion (8.4.1.1): zero when a slice/picture boundary
        or a stationary inter neighbor says so, else the median
        predictor."""
        a = self._nb4(my * 4, mx * 4 - 1)
        b = self._nb4(my * 4 - 1, mx * 4)
        if not a[0] or not b[0]:
            return 0, 0
        if (a[1] and a[2] == (0, 0)) or (b[1] and b[2] == (0, 0)):
            return 0, 0
        return self._mv_pred(my, mx)

    def _mc_pred(self, my: int, mx: int, mv: tuple[int, int]):
        mvy, mvx = mv
        pred_y = _interp_luma(self.ref_y, my * 16, mx * 16, 16, 16,
                              mvy, mvx)
        pred_u = _interp_chroma(self.ref_u, my * 8, mx * 8, 8, 8,
                                mvy, mvx)
        pred_v = _interp_chroma(self.ref_v, my * 8, mx * 8, 8, 8,
                                mvy, mvx)
        return pred_y, pred_u, pred_v

    def _commit_part(self, by: int, bx: int, w4: int, h4: int,
                     mv: tuple[int, int]) -> None:
        """Record one partition's motion at block granularity (the
        second partition of an MB predicts from the first, so this
        runs per partition, before the MB-level commit)."""
        self.mv4[by:by + h4, bx:bx + w4] = mv
        self.dec4[by:by + h4, bx:bx + w4] = 2

    def _finish_inter_mb(self, addr: int) -> None:
        my, mx = divmod(addr, self.mb_w)
        self.mb_state[my, mx] = 2
        # later intra MBs predict mode DC from inter neighbors (8.3.1)
        self.modes[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = 2

    def _commit_inter(self, addr: int, mv: tuple[int, int]) -> None:
        my, mx = divmod(addr, self.mb_w)
        self._commit_part(my * 4, mx * 4, 4, 4, mv)
        self._finish_inter_mb(addr)

    def _mc_pred_split(self, my: int, mx: int, mb_type: int, mvs,
                       parts=None):
        """Assembled MB prediction from per-partition MVs.  ``parts``
        overrides the :func:`_p_parts` geometry for sub-8x8 split
        macroblocks."""
        pred_y = np.zeros((16, 16), dtype=np.int64)
        pred_u = np.zeros((8, 8), dtype=np.int64)
        pred_v = np.zeros((8, 8), dtype=np.int64)
        if parts is None:
            parts = _p_parts(mb_type, my, mx)
        for part, mv in zip(parts, mvs):
            _, _, _, _, _, (py, px, bh, bw), (cy, cx, ch, cw) = part
            oy, ox = py - my * 16, px - mx * 16
            pred_y[oy:oy + bh, ox:ox + bw] = _interp_luma(
                self.ref_y, py, px, bh, bw, mv[0], mv[1])
            ou, ov = cy - my * 8, cx - mx * 8
            pred_u[ou:ou + ch, ov:ov + cw] = _interp_chroma(
                self.ref_u, cy, cx, ch, cw, mv[0], mv[1])
            pred_v[ou:ou + ch, ov:ov + cw] = _interp_chroma(
                self.ref_v, cy, cx, ch, cw, mv[0], mv[1])
        return pred_y, pred_u, pred_v

    # ---- decode side ----

    def _decode_skip(self, addr: int) -> None:
        my, mx = divmod(addr, self.mb_w)
        mv = self._skip_mv(my, mx)
        pred_y, pred_u, pred_v = self._mc_pred(my, mx, mv)
        self.y[my * 16:(my + 1) * 16, mx * 16:(mx + 1) * 16] = \
            pred_y.astype(np.uint8)
        self.u[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8] = \
            pred_u.astype(np.uint8)
        self.v[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8] = \
            pred_v.astype(np.uint8)
        self.nc_y[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = 0
        self.nc_u[my * 2:(my + 1) * 2, mx * 2:(mx + 1) * 2] = 0
        self.nc_v[my * 2:(my + 1) * 2, mx * 2:(mx + 1) * 2] = 0
        self._commit_inter(addr, mv)

    def _search_rect(self, src: np.ndarray, py: int, px: int,
                     bh: int, bw: int, rng: int,
                     ref_y: np.ndarray, mvp: tuple[int, int],
                     ) -> tuple[tuple[int, int], int]:
        """Center-biased integer full search over an arbitrary
        partition rectangle, then half- and quarter-pel refinement
        through the SAME interpolator the decoder runs.  Cost = SAD +
        a small mvd-bits bias so near-predictor vectors (and
        therefore skips) win ties."""
        cy, cx = mvp[0] >> 2, mvp[1] >> 2      # integer-pel center
        h, w = ref_y.shape
        best: tuple[int, tuple[int, int]] | None = None
        for dy in range(-rng, rng + 1):
            for dx in range(-rng, rng + 1):
                ivy, ivx = cy + dy, cx + dx
                rows = np.clip(np.arange(py + ivy, py + ivy + bh), 0, h - 1)
                cols = np.clip(np.arange(px + ivx, px + ivx + bw), 0, w - 1)
                cand = ref_y[np.ix_(rows, cols)].astype(np.int64)
                mv = (ivy * 4, ivx * 4)
                cost = int(np.abs(src - cand).sum()) + 2 * (
                    abs(mv[0] - mvp[0]) + abs(mv[1] - mvp[1]))
                if best is None or cost < best[0]:
                    best = (cost, mv)
        for step in (2, 1):                     # half then quarter
            base = best[1]
            for dy in (-step, 0, step):
                for dx in (-step, 0, step):
                    if dy == 0 and dx == 0:
                        continue
                    mv = (base[0] + dy, base[1] + dx)
                    cand = _interp_luma(ref_y, py, px, bh, bw,
                                        mv[0], mv[1])
                    cost = int(np.abs(src - cand).sum()) + 2 * (
                        abs(mv[0] - mvp[0]) + abs(mv[1] - mvp[1]))
                    if cost < best[0]:
                        best = (cost, mv)
        return best[1], best[0]

    def _motion_search(self, src: np.ndarray, my: int, mx: int,
                       rng: int) -> tuple[tuple[int, int], int]:
        """Whole-MB (16x16) search around the median predictor."""
        return self._search_rect(src, my * 16, mx * 16, 16, 16, rng,
                                 self.ref_y, self._mv_pred(my, mx))

    def _search_split(self, y_src: np.ndarray, my: int, mx: int,
                      mb_type: int, rng: int):
        """Search both partitions of a 16x8/8x16 split.  The second
        partition's predictor depends on the first's committed motion,
        so the first partition is committed tentatively to the block
        grids and rolled back.  Returns (mvs, mvps, total_cost)."""
        parts = _p_parts(mb_type, my, mx)
        saved = []
        mvs, mvps, total = [], [], 0
        try:
            for by, bx, w4, h4, shape, (py, px, bh, bw), _ in parts:
                src = y_src[py:py + bh, px:px + bw].astype(np.int64)
                mvp = self._mv_pred_part(by, bx, w4, h4, shape)
                mv, cost = self._search_rect(src, py, px, bh, bw,
                                             rng, self.ref_y, mvp)
                saved.append((by, bx, w4, h4,
                              self.mv4[by:by + h4, bx:bx + w4].copy(),
                              self.dec4[by:by + h4, bx:bx + w4].copy()))
                self._commit_part(by, bx, w4, h4, mv)
                mvs.append(mv)
                mvps.append(mvp)
                total += cost
        finally:
            for by, bx, w4, h4, mv4s, dec4s in reversed(saved):
                self.mv4[by:by + h4, bx:bx + w4] = mv4s
                self.dec4[by:by + h4, bx:bx + w4] = dec4s
        return mvs, mvps, total

    def _search_sub_split(self, y_src: np.ndarray, my: int, mx: int,
                          rng: int):
        """Greedy per-8x8-block sub_mb_type competition for P_8x8:
        each 8x8 sub-macroblock tries all of Table 7-17 (8x8 / 8x4 /
        4x8 / 4x4), sub-MVs searched in coding order with tentative
        commits so later predictors see earlier motion; the
        SAD+bit-bias winner is committed and the next block searched
        against it.  Both entropy lanes call this, so mode decisions
        (and therefore pixels) stay identical across CAVLC/CABAC.
        Returns (subs, parts, mvs, mvps, cost); every tentative
        commit is rolled back before returning."""
        saved_all = []
        subs: list[int] = []
        parts_all, mvs_all, mvps_all = [], [], []
        total = 0
        ref_y = self.ref_y
        try:
            for i in range(4):
                best = None
                for st, bias in _SUB_BIAS:
                    ps = _sub_parts(i, st, my, mx)
                    saved, mvs, mvps, cost = [], [], [], bias
                    for by, bx, w4, h4, shape, (py, px, bh, bw), _ in ps:
                        src = y_src[py:py + bh,
                                    px:px + bw].astype(np.int64)
                        mvp = self._mv_pred_part(by, bx, w4, h4, shape)
                        mv, c = self._search_rect(src, py, px, bh, bw,
                                                  rng, ref_y, mvp)
                        saved.append((
                            by, bx, w4, h4,
                            self.mv4[by:by + h4, bx:bx + w4].copy(),
                            self.dec4[by:by + h4, bx:bx + w4].copy()))
                        self._commit_part(by, bx, w4, h4, mv)
                        mvs.append(mv)
                        mvps.append(mvp)
                        cost += c
                    for by, bx, w4, h4, m4, d4 in reversed(saved):
                        self.mv4[by:by + h4, bx:bx + w4] = m4
                        self.dec4[by:by + h4, bx:bx + w4] = d4
                    if best is None or cost < best[0]:
                        best = (cost, st, ps, mvs, mvps)
                cost, st, ps, mvs, mvps = best
                # commit the winner (from the same base state the
                # candidate was searched in, so its mvps stay valid)
                for (by, bx, w4, h4, _, _, _), mv in zip(ps, mvs):
                    saved_all.append((
                        by, bx, w4, h4,
                        self.mv4[by:by + h4, bx:bx + w4].copy(),
                        self.dec4[by:by + h4, bx:bx + w4].copy()))
                    self._commit_part(by, bx, w4, h4, mv)
                subs.append(st)
                parts_all.extend(ps)
                mvs_all.extend(mvs)
                mvps_all.extend(mvps)
                total += cost
        finally:
            for by, bx, w4, h4, m4, d4 in reversed(saved_all):
                self.mv4[by:by + h4, bx:bx + w4] = m4
                self.dec4[by:by + h4, bx:bx + w4] = d4
        return subs, parts_all, mvs_all, mvps_all, total

    def _quantize_inter(self, addr: int, mv: tuple[int, int],
                        y_src: np.ndarray, u_src: np.ndarray,
                        v_src: np.ndarray, preds=None):
        """Transform+quantize the MC residual; returns everything the
        writer and the reconstructor need.  ``preds`` overrides the
        whole-MB motion compensation (partitioned macroblocks pass
        their assembled prediction)."""
        my, mx = divmod(addr, self.mb_w)
        pred_y, pred_u, pred_v = (preds if preds is not None
                                  else self._mc_pred(my, mx, mv))
        src = y_src[my * 16:(my + 1) * 16,
                    mx * 16:(mx + 1) * 16].astype(np.int64)
        resid = src - pred_y
        luma_q = []
        cbp = 0
        for blk in range(16):
            bx, by = _BLK_XY[blk]
            q = _quant4(_fdct4(resid[by * 4:by * 4 + 4,
                                     bx * 4:bx * 4 + 4]), self.qp)
            if q.any():
                cbp |= 1 << _BLK_GROUP[blk]
            luma_q.append(q)
        self._mc_chroma = {"u": pred_u, "v": pred_v}
        try:
            dc_q, ac_q, cbp_chroma = self._chroma_quantize(
                my, mx, u_src, v_src)
        finally:
            self._mc_chroma = None
        cbp |= cbp_chroma << 4
        return pred_y, pred_u, pred_v, luma_q, dc_q, ac_q, cbp

    def _recon_inter(self, addr: int, pred_y, pred_u, pred_v,
                     luma_q, dc_q, ac_q, cbp) -> None:
        my, mx = divmod(addr, self.mb_w)
        for blk in range(16):
            bx, by = _BLK_XY[blk]
            gy, gx = my * 4 + by, mx * 4 + bx
            q = (luma_q[blk] if cbp & (1 << _BLK_GROUP[blk])
                 else np.zeros((4, 4), dtype=np.int64))
            self.y[gy * 4:gy * 4 + 4, gx * 4:gx * 4 + 4] = _recon4(
                pred_y[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4], q, self.qp)
        dc_eff, ac_eff = self._chroma_effective(dc_q, ac_q, cbp >> 4)
        self._mc_chroma = {"u": pred_u, "v": pred_v}
        try:
            self._chroma_recon(my, mx, dc_eff, ac_eff)
        finally:
            self._mc_chroma = None

    def _read_inter_residual(self, r: _BitReader, addr: int,
                             pred_y, pred_u, pred_v) -> None:
        """coded_block_pattern + residual decode + reconstruction
        over a motion-compensated prediction — the entropy tail every
        non-skip inter macroblock shares."""
        from rmlint_spark.operators.h264 import _read_se, _read_ue

        my, mx = divmod(addr, self.mb_w)
        cbp_code = _read_ue(r)
        if cbp_code > 47:
            raise ValueError("H.264 coded_block_pattern out of range")
        cbp = _CBP_FROM_CODE[cbp_code]
        if cbp:
            self.qp += _read_se(r)
            if not 0 <= self.qp <= 51:
                raise ValueError("H.264 mb_qp_delta drives QP out of range")
        for blk in range(16):
            bx, by = _BLK_XY[blk]
            gy, gx = my * 4 + by, mx * 4 + bx
            if cbp & (1 << _BLK_GROUP[blk]):
                nc = _nc_for(self.nc_y, gy, gx)
                vals = _read_residual(r, nc, 16)
                self.nc_y[gy, gx] = sum(1 for vv in vals if vv)
                q = _unscan_coeffs(vals)
            else:
                self.nc_y[gy, gx] = 0
                q = np.zeros((4, 4), dtype=np.int64)
            self.y[gy * 4:gy * 4 + 4, gx * 4:gx * 4 + 4] = _recon4(
                pred_y[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4], q, self.qp)
        dc_q, ac_q = self._chroma_read(r, cbp >> 4, my, mx)
        self._mc_chroma = {"u": pred_u, "v": pred_v}
        try:
            self._chroma_recon(my, mx, dc_q, ac_q)
        finally:
            self._mc_chroma = None

    def _write_inter_residual(self, w: _BitWriter, addr: int,
                              pred_y, pred_u, pred_v,
                              luma_q, dc_q, ac_q, cbp) -> None:
        """The write-side twin of :meth:`_read_inter_residual`:
        CBP, luma/chroma residual entropy, in-loop reconstruction."""
        from rmlint_spark.operators.h264 import _write_se, _write_ue

        my, mx = divmod(addr, self.mb_w)
        _write_ue(w, _CBP_TO_CODE[cbp])
        if cbp:
            _write_se(w, 0)                 # mb_qp_delta
        for blk in range(16):
            bx, by = _BLK_XY[blk]
            gy, gx = my * 4 + by, mx * 4 + bx
            if cbp & (1 << _BLK_GROUP[blk]):
                nc = _nc_for(self.nc_y, gy, gx)
                self.nc_y[gy, gx] = _write_residual(
                    w, _scan_coeffs(luma_q[blk]), nc)
            else:
                self.nc_y[gy, gx] = 0
        self._mc_chroma = {"u": pred_u, "v": pred_v}
        try:
            self._chroma_write(w, dc_q, ac_q, cbp >> 4, my, mx)
        finally:
            self._mc_chroma = None
        self._recon_inter(addr, pred_y, pred_u, pred_v,
                          luma_q, dc_q, ac_q, cbp)


class InterPicture(MotionMixin, CavlcPicture):
    """CavlcPicture plus MotionMixin: the CAVLC-entropy P lane.
    I-slice macroblocks inside the same picture run through the
    inherited intra paths."""

    def __init__(self, y: np.ndarray, u: np.ndarray, v: np.ndarray,
                 mb_w: int, mb_h: int,
                 ref: tuple[np.ndarray, np.ndarray, np.ndarray]) -> None:
        CavlcPicture.__init__(self, y, u, v, mb_w, mb_h)
        self._init_motion(ref)

    def decode_ipcm(self, r: _BitReader, addr: int) -> None:
        """I_PCM raw samples (also reachable from P slices as
        mb_type 30); mirrors the I-slice inline path in h264.py."""
        while r.bitpos:
            if r.read(1):
                raise ValueError("nonzero pcm_alignment bit")
        if r.bytepos + 384 > len(r.data):
            raise ValueError("truncated I_PCM macroblock")
        my, mx = divmod(addr, self.mb_w)
        raw = np.frombuffer(r.data, dtype=np.uint8, count=384,
                            offset=r.bytepos)
        r.bytepos += 384
        self.y[my * 16:(my + 1) * 16, mx * 16:(mx + 1) * 16] = \
            raw[:256].reshape(16, 16)
        self.u[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8] = \
            raw[256:320].reshape(8, 8)
        self.v[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8] = \
            raw[320:].reshape(8, 8)
        self.mark_ipcm(addr)

    def decode_slice_p(self, r: _BitReader, first_mb: int,
                       covered: np.ndarray) -> None:
        """slice_data() for a CAVLC P slice (7.3.4): alternating
        mb_skip_run / macroblock_layer until the rbsp stop bit."""
        from rmlint_spark.operators.h264 import (_more_rbsp_data,
                                                 _read_ue)

        total = self.mb_w * self.mb_h
        addr = first_mb
        while _more_rbsp_data(r):
            skip_run = _read_ue(r)
            for _ in range(skip_run):
                if addr >= total:
                    raise ValueError("H.264 mb_skip_run overruns "
                                     "the picture")
                self._decode_skip(addr)
                covered[addr] = True
                addr += 1
            if not _more_rbsp_data(r):
                break
            if addr >= total:
                raise ValueError("H.264 slice data overruns the picture")
            mb_type = _read_ue(r)
            my, mx = divmod(addr, self.mb_w)
            if mb_type == _P_L0_16x16:
                self.decode_mb_p16(r, addr)
            elif mb_type in (_P_L0_L0_16x8, _P_L0_L0_8x16):
                self.decode_mb_p2(r, addr, mb_type)
            elif mb_type in (_P_8x8, _P_8x8REF0):
                self.decode_mb_p8x8(r, addr, mb_type)
            else:
                it = mb_type - _P_INTRA_OFFSET
                if it == 25:
                    self.decode_ipcm(r, addr)
                elif it == 0:
                    self.decode_mb(r, addr)
                elif it <= 24:
                    self.decode_mb16(r, addr, it)
                else:
                    raise ValueError(f"invalid P-slice mb_type {mb_type}")
                # intra MBs are AVAILABLE-but-not-inter to later MV
                # prediction (8.4.1.3: mvLXN = 0, refIdxLXN = -1) —
                # the same semantics the CABAC lane records, so both
                # entropy lanes derive identical predictors
                self.note_intra(addr)
            covered[addr] = True
            addr += 1

    def decode_mb_p16(self, r: _BitReader, addr: int) -> None:
        """P_L0_16x16: mvd pair, CBP, residual over the MC block."""
        from rmlint_spark.operators.h264 import _read_se

        my, mx = divmod(addr, self.mb_w)
        mvd_x = _read_se(r)                 # compIdx 0 = horizontal
        mvd_y = _read_se(r)
        mvp = self._mv_pred(my, mx)
        mv = (mvp[0] + mvd_y, mvp[1] + mvd_x)
        pred_y, pred_u, pred_v = self._mc_pred(my, mx, mv)
        self._read_inter_residual(r, addr, pred_y, pred_u, pred_v)
        self._commit_inter(addr, mv)

    def decode_mb_p2(self, r: _BitReader, addr: int,
                     mb_type: int) -> None:
        """P_L0_L0_16x8 / P_L0_L0_8x16: two mvd pairs in partition
        order (the second partition's predictor sees the first's
        committed motion), then one CBP + residual over the assembled
        prediction."""
        from rmlint_spark.operators.h264 import _read_se

        my, mx = divmod(addr, self.mb_w)
        mvs = []
        for by, bx, w4, h4, shape, _, _ in _p_parts(mb_type, my, mx):
            mvd_x = _read_se(r)             # compIdx 0 = horizontal
            mvd_y = _read_se(r)
            p = self._mv_pred_part(by, bx, w4, h4, shape)
            mv = (p[0] + mvd_y, p[1] + mvd_x)
            self._commit_part(by, bx, w4, h4, mv)
            mvs.append(mv)
        pred_y, pred_u, pred_v = self._mc_pred_split(my, mx, mb_type,
                                                     mvs)
        self._read_inter_residual(r, addr, pred_y, pred_u, pred_v)
        self._finish_inter_mb(addr)

    def decode_mb_p8x8(self, r: _BitReader, addr: int,
                       mb_type: int) -> None:
        """P_8x8 / P_8x8ref0 (7.3.5.2): four sub_mb_type codes — ALL
        of Table 7-17 decodes (8x8, 8x4, 4x8, 4x4) — then one mvd
        pair per sub-partition in coding order (each predicting from
        the already committed ones), then one CBP + residual."""
        from rmlint_spark.operators.h264 import _read_se, _read_ue

        my, mx = divmod(addr, self.mb_w)
        parts = _sub_split_parts([_read_ue(r) for _ in range(4)], my, mx)
        mvs = []
        for by, bx, w4, h4, shape, _, _ in parts:
            mvd_x = _read_se(r)
            mvd_y = _read_se(r)
            p = self._mv_pred_part(by, bx, w4, h4, shape)
            mv = (p[0] + mvd_y, p[1] + mvd_x)
            self._commit_part(by, bx, w4, h4, mv)
            mvs.append(mv)
        pred_y, pred_u, pred_v = self._mc_pred_split(my, mx, mb_type,
                                                     mvs, parts=parts)
        self._read_inter_residual(r, addr, pred_y, pred_u, pred_v)
        self._finish_inter_mb(addr)

    # ---- encode side ----

    def encode_mb_p(self, w: _BitWriter, addr: int, y_src: np.ndarray,
                    u_src: np.ndarray, v_src: np.ndarray,
                    search: int, partitions: bool = False) -> bool:
        """Encode one P-slice macroblock; returns True when the MB
        became a P_Skip (the caller then folds it into mb_skip_run
        instead of emitting a layer).  With ``partitions`` the
        16x8/8x16 splits compete with the whole-MB mode by SAD +
        mvd-bits cost."""
        from rmlint_spark.operators.h264 import _write_se, _write_ue

        my, mx = divmod(addr, self.mb_w)
        py, px = my * 16, mx * 16
        src = y_src[py:py + 16, px:px + 16].astype(np.int64)
        mv, inter_cost = self._motion_search(src, my, mx, search)
        split_best = None
        if partitions:
            for t in (_P_L0_L0_16x8, _P_L0_L0_8x16):
                mvs, mvps, cost = self._search_split(y_src, my, mx,
                                                     t, search)
                cost += 96              # bit-cost bias: extra mvd pair
                if split_best is None or cost < split_best[0]:
                    split_best = (cost, t, mvs, mvps, None, None)
            # P_8x8 with per-block sub_mb_type competition (the
            # all-8x8 pattern degenerates to the former plain-P_8x8
            # candidate at the same cost)
            subs, sparts, mvs, mvps, cost = self._search_sub_split(
                y_src, my, mx, search)
            cost += 320                 # four sub codes + mvd baseline
            if cost < split_best[0]:
                split_best = (cost, _P_8x8, mvs, mvps, subs, sparts)
        if split_best is not None and split_best[0] < inter_cost:
            cost, t, mvs, mvps, subs, sparts = split_best
            _write_ue(w, t)
            parts = sparts if t == _P_8x8 else _p_parts(t, my, mx)
            if t == _P_8x8:
                for st in subs:
                    _write_ue(w, st)
            for (by, bx, w4, h4, _, _, _), pmv, pmvp in zip(
                    parts, mvs, mvps):
                _write_se(w, pmv[1] - pmvp[1])
                _write_se(w, pmv[0] - pmvp[0])
                self._commit_part(by, bx, w4, h4, pmv)
            preds = self._mc_pred_split(my, mx, t, mvs, parts=parts)
            (pred_y, pred_u, pred_v, luma_q, dc_q, ac_q,
             cbp) = self._quantize_inter(addr, mvs[0], y_src, u_src,
                                         v_src, preds=preds)
            self._write_inter_residual(w, addr, pred_y, pred_u,
                                       pred_v, luma_q, dc_q, ac_q,
                                       cbp)
            self._finish_inter_mb(addr)
            return False
        # intra fallback when motion search fails badly (scene cut):
        # estimate via the best whole-MB intra prediction
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
            self.mb_type_offset = _P_INTRA_OFFSET
            try:
                self.encode_mb(w, addr, y_src, u_src, v_src)
            finally:
                self.mb_type_offset = 0
            self.note_intra(addr)       # available-not-inter (8.4.1.3)
            return False
        (pred_y, pred_u, pred_v, luma_q, dc_q, ac_q,
         cbp) = self._quantize_inter(addr, mv, y_src, u_src, v_src)
        if cbp == 0 and mv == self._skip_mv(my, mx):
            self._decode_skip(addr)             # recon == decoder's skip
            return True
        mvp = self._mv_pred(my, mx)
        _write_ue(w, _P_L0_16x16)
        _write_se(w, mv[1] - mvp[1])            # mvd horizontal first
        _write_se(w, mv[0] - mvp[0])
        self._write_inter_residual(w, addr, pred_y, pred_u, pred_v,
                                   luma_q, dc_q, ac_q, cbp)
        self._commit_inter(addr, mv)
        return False


# --------------------------------------------------------- top level

def encode_h264_p(frames: list[np.ndarray],
                  fps: tuple[int, int] = (25, 1),
                  qp: int = 20,
                  gop: int = 8,
                  search: int = 4,
                  partitions: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB frames -> Annex-B H.264 with IDR+P GOPs
    (IPPP..., a new IDR every ``gop`` frames) and CAVLC entropy.
    Each P picture predicts from the one before it.  Lossy at ``qp``;
    self-consistent with :func:`rmlint_spark.operators.h264.decode_h264`
    (the documented VLC-table deviations of h264_cavlc.py apply here
    too)."""
    from rmlint_spark.operators.h264 import (
        _START4,
        _encode_pps,
        _encode_sps,
        _escape_rbsp,
        _pad_to_mb,
        _rgb_to_yuv420,
        _trailing_bits,
        _write_se,
        _write_ue,
    )
    if not frames:
        raise ValueError("need at least one frame")
    if not 0 <= qp <= 29:
        raise ValueError("qp outside the implemented 0..29 subset")
    if gop < 1:
        raise ValueError("gop must be >= 1")
    h, w = np.asarray(frames[0]).shape[:2]
    mb_w, mb_h = -(-w // 16), -(-h // 16)
    out = bytearray()
    out += _START4 + b"\x67" + _escape_rbsp(
        _encode_sps(mb_w, mb_h, w, h, fps, num_ref_frames=1))
    out += _START4 + b"\x68" + _escape_rbsp(_encode_pps())
    prev: tuple | None = None               # reconstructed reference
    for i, fr in enumerate(frames):
        fr = np.asarray(fr, dtype=np.uint8)
        if fr.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        y, u, v = _rgb_to_yuv420(fr)
        y, u, v = _pad_to_mb(y, 16), _pad_to_mb(u, 8), _pad_to_mb(v, 8)
        is_idr = i % gop == 0 or prev is None
        pic = InterPicture(
            np.zeros_like(y), np.zeros_like(u), np.zeros_like(v),
            mb_w, mb_h,
            prev or (np.zeros_like(y), np.zeros_like(u), np.zeros_like(v)))
        pic.qp = qp
        bw = _BitWriter()
        _write_ue(bw, 0)                    # first_mb_in_slice
        _write_ue(bw, 7 if is_idr else 5)   # slice_type: I / P (all)
        _write_ue(bw, 0)                    # pic_parameter_set_id
        bw.write(i % gop % 16, 4)           # frame_num (0 at each IDR)
        if is_idr:
            _write_ue(bw, i % 2)            # idr_pic_id
            bw.write(0, 1)                  # no_output_of_prior_pics
            bw.write(0, 1)                  # long_term_reference_flag
        else:
            bw.write(0, 1)                  # num_ref_idx_active_override
            bw.write(0, 1)                  # ref_pic_list_modification_l0
            bw.write(0, 1)                  # adaptive_ref_pic_marking
        _write_se(bw, qp - 26)              # slice_qp_delta
        _write_ue(bw, 1)                    # disable_deblocking_filter_idc: off
        if is_idr:
            for addr in range(mb_w * mb_h):
                pic.encode_mb(bw, addr, y, u, v)
                pic.note_intra(addr)
        else:
            skip_run = 0
            for addr in range(mb_w * mb_h):
                probe = _BitWriter()
                if pic.encode_mb_p(probe, addr, y, u, v, search,
                                   partitions=partitions):
                    skip_run += 1
                    continue
                _write_ue(bw, skip_run)
                skip_run = 0
                bw.write(int.from_bytes(probe.buf, "big")
                         if probe.buf else 0, 8 * len(probe.buf))
                if probe.nbits:
                    bw.write(probe.acc, probe.nbits)
            if skip_run:
                _write_ue(bw, skip_run)
        _trailing_bits(bw)
        out += _START4 + (b"\x65" if is_idr else b"\x41") + \
            _escape_rbsp(bw.bytes())
        prev = (pic.y, pic.u, pic.v)
    return bytes(out)


__all__ = ["InterPicture", "encode_h264_p"]
