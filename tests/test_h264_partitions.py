"""H.264 16x8 / 8x16 / P_8x8 P partitions (r5 s9) and the Table
7-17 sub-8x8 family (r5 s17): directional MV predictor rules,
split-motion compression wins under both entropy modes, and
cross-entropy reconstruction identity."""

from __future__ import annotations

import numpy as np
import pytest

from rmlint_spark.operators.h264 import decode_h264
from rmlint_spark.operators.h264_cabac_p import encode_h264_cabac_p
from rmlint_spark.operators.h264_inter import (
    InterPicture,
    _P_L0_L0_8x16,
    _P_L0_L0_16x8,
    encode_h264_p,
)


def _pic(mb_w=4, mb_h=4):
    z = np.zeros
    return InterPicture(z((mb_h * 16, mb_w * 16), np.uint8),
                        z((mb_h * 8, mb_w * 8), np.uint8),
                        z((mb_h * 8, mb_w * 8), np.uint8),
                        mb_w, mb_h,
                        (z((mb_h * 16, mb_w * 16), np.uint8),
                         z((mb_h * 8, mb_w * 8), np.uint8),
                         z((mb_h * 8, mb_w * 8), np.uint8)))


def _set_blocks(pic, by, bx, h4, w4, state, mv=(0, 0)):
    pic.dec4[by:by + h4, bx:bx + w4] = state
    pic.mv4[by:by + h4, bx:bx + w4] = mv


def _split_motion_frames(n=4, h=48, w=64, step=4):
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack([(yy * 3 + xx * 2) % 256, (yy + xx * 4) % 256,
                     (yy * 2 + xx) % 256], -1).astype(np.uint8)
    frames = []
    for i in range(n):
        fr = base.copy()
        fr[h // 2:, :, :] = np.roll(base[h // 2:, :, :],
                                    shift=i * step, axis=1)
        frames.append(fr)
    return frames


def _psnr(a, b):
    la = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    lb = 0.299 * b[..., 0] + 0.587 * b[..., 1] + 0.114 * b[..., 2]
    mse = float(np.mean((la - lb) ** 2))
    return 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


# ----------------------------------------- directional predictors

def test_16x8_top_takes_b_neighbor():
    pic = _pic()
    # MB (1,1): B neighbor (above MB) inter with a distinctive mv;
    # A neighbor inter with a different mv
    _set_blocks(pic, 0, 4, 4, 4, 2, (20, -8))   # above
    _set_blocks(pic, 4, 0, 4, 4, 2, (-40, 12))  # left
    # top 16x8 partition of MB (1,1): blocks (4..5, 4..7)
    assert pic._mv_pred_part(4, 4, 4, 2, "16x8_top") == (20, -8)
    # bottom 16x8: directional neighbor is A (left)
    assert pic._mv_pred_part(6, 4, 4, 2, "16x8_bottom") == (-40, 12)


def test_8x16_left_right_directional():
    pic = _pic()
    _set_blocks(pic, 4, 0, 4, 4, 2, (8, 8))     # A (left MB)
    _set_blocks(pic, 0, 4, 4, 4, 2, (0, 4))     # B (above)
    _set_blocks(pic, 0, 8, 4, 4, 2, (-4, 16))   # above-right MB
    assert pic._mv_pred_part(4, 4, 2, 4, "8x16_left") == (8, 8)
    # right 8x16 partition starts at bx=6; its C neighbor is block
    # (3, 8) — the above-right macroblock
    assert pic._mv_pred_part(4, 6, 2, 4, "8x16_right") == (-4, 16)


def test_directional_falls_back_to_median_on_intra():
    pic = _pic()
    _set_blocks(pic, 0, 4, 4, 4, 1)             # B intra: no shortcut
    _set_blocks(pic, 4, 0, 4, 4, 2, (12, 4))    # A inter
    # single matching neighbor -> its mv via the median machinery
    assert pic._mv_pred_part(4, 4, 4, 2, "16x8_top") == (12, 4)


def test_second_partition_predicts_from_first():
    pic = _pic()
    # decode the top 16x8 of MB (1,1) with mv (16,0): the bottom
    # partition's median fallback must see it as its B neighbor
    _set_blocks(pic, 4, 4, 2, 4, 2, (16, 0))
    a = pic._nb4(6, 3)       # left still undecoded
    assert not a[0]
    # bottom 16x8 directional neighbor A unavailable -> median path;
    # B (the just-decoded top partition) is the only inter neighbor
    assert pic._mv_pred_part(6, 4, 4, 2, "16x8_bottom") == (16, 0)


# ----------------------------------------- end-to-end round trips

def test_partition_split_motion_compression_cavlc():
    frames = _split_motion_frames()
    plain = encode_h264_p(frames, qp=16, gop=8, search=6)
    parts = encode_h264_p(frames, qp=16, gop=8, search=6,
                          partitions=True)
    assert len(parts) < len(plain)      # split motion is the use case
    _, dec = decode_h264(parts)
    for src, out in zip(frames, dec):
        assert _psnr(src, out) > 40.0


def test_partition_split_motion_compression_cabac():
    frames = _split_motion_frames()
    plain = encode_h264_cabac_p(frames, qp=16, gop=8, search=6)
    parts = encode_h264_cabac_p(frames, qp=16, gop=8, search=6,
                                partitions=True)
    assert len(parts) < len(plain)
    _, dec = decode_h264(parts)
    for src, out in zip(frames, dec):
        assert _psnr(src, out) > 40.0


def test_partitions_cross_entropy_pixel_identical():
    """Both entropy lanes share search/mode decision/quantization, so
    partitioned streams decode PIXEL-IDENTICAL across CAVLC/CABAC —
    the family's cross-entropy dedup invariant extends to
    partitions."""
    frames = _split_motion_frames()
    _, a = decode_h264(encode_h264_p(frames, qp=14, gop=8, search=6,
                                     partitions=True))
    _, b = decode_h264(encode_h264_cabac_p(frames, qp=14, gop=8,
                                           search=6, partitions=True))
    for x, y in zip(a, b):
        assert np.array_equal(x, y)


def test_sub8x8_strip_motion_roundtrip_both_lanes():
    """Counter-moving full-width 4-row strips put two opposite 8x4
    translations inside every 8x8 block — only the Table 7-17
    sub-splits (r5 s17) can model it.  Both lanes must beat the
    pre-sub-split mode set on size, decode above 40 dB, stay
    pixel-identical to each other, and the decoder must actually
    walk a non-8x8 sub_mb_type."""
    from rmlint_spark.operators import h264_inter as hi
    from rmlint_spark.operators.h264 import decode_h264 as _dec

    yy, xx = np.mgrid[0:32, 0:64]
    base = np.stack([(yy * 5 + xx * 3) % 256, (yy + xx * 7) % 256,
                     (yy * 2 + xx) % 256], -1).astype(np.uint8)
    frames = [base]
    for i in range(1, 4):
        fr = base.copy()
        for r in range(0, 32, 4):
            s = i * 2 if (r // 4) % 2 == 0 else -i * 2
            fr[r:r + 4] = np.roll(base[r:r + 4], s, axis=1)
        frames.append(fr)
    plain = encode_h264_p(frames, qp=14, gop=8, search=6)
    parts = encode_h264_p(frames, qp=14, gop=8, search=6,
                          partitions=True)
    assert len(parts) < len(plain)

    seen: list[int] = []
    real = hi._sub_split_parts

    def spy(subs, refs8, my, mx):
        seen.extend(subs)
        return real(subs, refs8, my, mx)

    hi._sub_split_parts = spy
    try:
        _, dec = _dec(parts)
    finally:
        hi._sub_split_parts = real
    assert any(s != 0 for s in seen)
    for src, out in zip(frames, dec):
        assert _psnr(src, out) > 40.0
    _, dec_cab = decode_h264(encode_h264_cabac_p(
        frames, qp=14, gop=8, search=6, partitions=True))
    for a, b in zip(dec, dec_cab):
        assert np.array_equal(a, b)


def test_p8x8_quadrant_motion_roundtrip_both_lanes():
    """Four-quadrant motion (each 8x8 region of a 16x16 MB moving
    differently) is P_8x8's use case: with partitions on, both
    entropy lanes must encode it smaller than whole-MB mode, decode
    it back above 40 dB, and stay pixel-identical to each other."""
    yy, xx = np.mgrid[0:32, 0:32]
    base = np.stack([(yy * 5 + xx * 3) % 256, (yy + xx * 7) % 256,
                     (yy * 2 + xx) % 256], -1).astype(np.uint8)
    frames = [base]
    for i in range(1, 4):
        fr = base.copy()
        # alternate the motion per 8x8 TILE so every 16x16 MB holds
        # four different motions — the P_8x8 shape, unreachable by
        # 16x16/16x8/8x16 modes
        for r in range(0, 32, 8):
            for c in range(0, 32, 8):
                s = i * 2 if ((r + c) // 8) % 2 == 0 else -i * 2
                ax = 1 if (r // 8) % 2 == 0 else 0
                fr[r:r + 8, c:c + 8] = np.roll(
                    base[r:r + 8, c:c + 8], s, axis=ax)
        frames.append(fr)
    plain = encode_h264_p(frames, qp=14, gop=8, search=6)
    parts = encode_h264_p(frames, qp=14, gop=8, search=6,
                          partitions=True)
    assert len(parts) < len(plain)
    _, dec = decode_h264(parts)
    for src, out in zip(frames, dec):
        assert _psnr(src, out) > 38.0
    _, dec_cab = decode_h264(encode_h264_cabac_p(
        frames, qp=14, gop=8, search=6, partitions=True))
    for a, b in zip(dec, dec_cab):
        assert np.array_equal(a, b)
