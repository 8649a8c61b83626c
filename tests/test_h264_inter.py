"""H.264 P-slice (inter) codec tests: sub-pel interpolation against
an independent scalar reference, MV-prediction rules, skip
convergence, GOP random access, scene-cut intra fallback, the MP4
bridge, refusal surfaces, and the bounded-failure fuzz lane."""

import numpy as np
import pytest

from rmlint_spark.operators.flac import _BitReader, _BitWriter
from rmlint_spark.operators.h264 import _H264Layout, decode_h264
from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc
from rmlint_spark.operators.h264_inter import (
    InterPicture,
    _interp_chroma,
    _interp_luma,
    encode_h264_p,
)


def _pan_frames(n=4, h=48, w=64, step=3):
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack([(yy * 3 + xx * 2) % 256,
                     (yy + xx * 4) % 256,
                     (yy * 2 + xx) % 256], axis=-1).astype(np.uint8)
    return [np.roll(base, shift=i * step, axis=1) for i in range(n)]


def _smooth(h=48, w=64, seed=0):
    yy, xx = np.mgrid[0:h, 0:w]
    s = np.stack([(yy * 2 + xx + seed * 17) % 200 + 20,
                  (xx * 2 + seed * 5) % 180 + 30,
                  (yy * 3 + seed * 11) % 150 + 50], -1)
    return s.astype(np.uint8)


# ------------------------------------------- sub-pel interpolation

def _ref_luma_scalar(ref, y, x4, y4):
    """Independent clause-8.4.2.2.1 scalar reference for ONE luma
    sample at quarter position (y4, x4) measured in quarter pels
    from the plane origin."""
    h, w = ref.shape

    def px(yy, xx):
        return int(ref[min(max(yy, 0), h - 1), min(max(xx, 0), w - 1)])

    iy, fy = y4 >> 2, y4 & 3
    ix, fx = x4 >> 2, x4 & 3

    def half_h(yy, xx):                 # b at integer row yy
        t = (px(yy, xx - 2) - 5 * px(yy, xx - 1) + 20 * px(yy, xx)
             + 20 * px(yy, xx + 1) - 5 * px(yy, xx + 2) + px(yy, xx + 3))
        return min(max((t + 16) >> 5, 0), 255)

    def half_v(yy, xx):                 # h at integer col xx
        t = (px(yy - 2, xx) - 5 * px(yy - 1, xx) + 20 * px(yy, xx)
             + 20 * px(yy + 1, xx) - 5 * px(yy + 2, xx) + px(yy + 3, xx))
        return min(max((t + 16) >> 5, 0), 255)

    def center_j(yy, xx):
        def vraw(y2, x2):
            return (px(y2 - 2, x2) - 5 * px(y2 - 1, x2) + 20 * px(y2, x2)
                    + 20 * px(y2 + 1, x2) - 5 * px(y2 + 2, x2)
                    + px(y2 + 3, x2))
        t = (vraw(yy, xx - 2) - 5 * vraw(yy, xx - 1) + 20 * vraw(yy, xx)
             + 20 * vraw(yy, xx + 1) - 5 * vraw(yy, xx + 2)
             + vraw(yy, xx + 3))
        return min(max((t + 512) >> 10, 0), 255)

    g = px(iy, ix)
    b = half_h(iy, ix)
    hh = half_v(iy, ix)
    j = center_j(iy, ix)
    gr, gd = px(iy, ix + 1), px(iy + 1, ix)
    m = half_v(iy, ix + 1)
    s = half_h(iy + 1, ix)
    table = {
        (0, 0): g, (0, 2): b, (2, 0): hh, (2, 2): j,
        (0, 1): (g + b + 1) >> 1, (0, 3): (b + gr + 1) >> 1,
        (1, 0): (g + hh + 1) >> 1, (3, 0): (hh + gd + 1) >> 1,
        (1, 2): (b + j + 1) >> 1, (2, 1): (hh + j + 1) >> 1,
        (2, 3): (j + m + 1) >> 1, (3, 2): (j + s + 1) >> 1,
        (1, 1): (b + hh + 1) >> 1, (1, 3): (b + m + 1) >> 1,
        (3, 1): (hh + s + 1) >> 1, (3, 3): (m + s + 1) >> 1,
    }
    return table[(fy, fx)]


def test_interp_luma_matches_scalar_reference_all_16_positions():
    rng = np.random.RandomState(3)
    ref = rng.randint(0, 256, (24, 28)).astype(np.uint8)
    for fy in range(4):
        for fx in range(4):
            mvy, mvx = -7 * 4 + fy, 5 * 4 + fx  # off-block ints + frac
            blk = _interp_luma(ref, 8, 4, 4, 4, mvy, mvx)
            for by in range(4):
                for bx in range(4):
                    want = _ref_luma_scalar(
                        ref, 0, (4 + bx) * 4 + mvx, (8 + by) * 4 + mvy)
                    assert blk[by, bx] == want, (fy, fx, by, bx)


def test_interp_luma_edge_replication():
    ref = np.arange(64, dtype=np.uint8).reshape(8, 8)
    # an MV pointing far outside must clamp to the edge, not wrap/crash
    blk = _interp_luma(ref, 0, 0, 4, 4, -400, -400)
    assert (blk == ref[0, 0]).all()
    blk = _interp_luma(ref, 4, 4, 4, 4, 400, 400)
    assert (blk == ref[7, 7]).all()


def test_interp_luma_mv_bound():
    ref = np.zeros((16, 16), dtype=np.uint8)
    with pytest.raises(ValueError, match="motion vector"):
        _interp_luma(ref, 0, 0, 4, 4, 1 << 20, 0)


def test_interp_chroma_matches_bilinear_formula():
    rng = np.random.RandomState(4)
    ref = rng.randint(0, 256, (12, 12)).astype(np.uint8)
    for dy in (0, 3, 7):
        for dx in (0, 1, 5):
            mvy, mvx = 2 * 8 + dy, -8 + dx
            blk = _interp_chroma(ref, 4, 4, 4, 4, mvy, mvx)
            for by in range(2):
                for bx in range(2):
                    iy, ix = 4 + by + (mvy >> 3), 4 + bx + (mvx >> 3)

                    def p(yy, xx):
                        return int(ref[min(max(yy, 0), 11),
                                       min(max(xx, 0), 11)])
                    want = ((8 - dx) * (8 - dy) * p(iy, ix)
                            + dx * (8 - dy) * p(iy, ix + 1)
                            + (8 - dx) * dy * p(iy + 1, ix)
                            + dx * dy * p(iy + 1, ix + 1) + 32) >> 6
                    assert blk[by, bx] == want


# ------------------------------------------------- MV prediction

def _pic(mb_w=4, mb_h=4):
    z = np.zeros
    return InterPicture(z((mb_h * 16, mb_w * 16), np.uint8),
                        z((mb_h * 8, mb_w * 8), np.uint8),
                        z((mb_h * 8, mb_w * 8), np.uint8),
                        mb_w, mb_h,
                        (z((mb_h * 16, mb_w * 16), np.uint8),
                         z((mb_h * 8, mb_w * 8), np.uint8),
                         z((mb_h * 8, mb_w * 8), np.uint8)))


def _set_mb(pic, my, mx, state, mv=(0, 0)):
    """Plant motion state at MB granularity over the 4x4 grids."""
    pic.mb_state[my, mx] = state
    pic.dec4[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = state
    pic.mv4[my * 4:(my + 1) * 4, mx * 4:(mx + 1) * 4] = mv


def test_mv_pred_median_and_single_match():
    pic = _pic()
    # decode order: rows 0 fully, then (1,0) — predicting (1,1)
    for mx in range(4):
        _set_mb(pic, 0, mx, 2, (4 * mx, 8))
    _set_mb(pic, 1, 0, 2, (100, -4))
    # A=(1,0) mv(100,-4); B=(0,1) mv(4,8); C=(0,2) mv(8,8) -> median
    assert pic._mv_pred(1, 1) == (8, 8)
    # only one inter neighbor -> copy it exactly
    pic2 = _pic()
    _set_mb(pic2, 0, 1, 2, (12, -16))
    _set_mb(pic2, 0, 2, 1)           # intra: available, not matching
    _set_mb(pic2, 1, 0, 1)
    assert pic2._mv_pred(1, 1) == (12, -16)


def test_mv_pred_row0_copies_left():
    pic = _pic()
    _set_mb(pic, 0, 0, 2, (-8, 20))
    # B and C unavailable (picture edge), A available -> mvA verbatim
    assert pic._mv_pred(0, 1) == (-8, 20)


def test_skip_mv_zero_rules():
    pic = _pic()
    # picture corner: A/B unavailable -> zero
    assert pic._skip_mv(0, 0) == (0, 0)
    # stationary left neighbor forces zero even with a moving top
    for mx in range(4):
        _set_mb(pic, 0, mx, 2, (8, 8))
    _set_mb(pic, 1, 0, 2, (0, 0))
    assert pic._skip_mv(1, 1) == (0, 0)
    # both neighbors moving -> falls through to the median predictor
    _set_mb(pic, 1, 0, 2, (8, 8))
    assert pic._skip_mv(1, 1) == pic._mv_pred(1, 1)


# ------------------------------------------------ GOP round trips

def test_p_gop_roundtrip_and_compression():
    frames = _pan_frames()
    enc_p = encode_h264_p(frames, qp=16, gop=8, search=4)
    enc_i = encode_h264_cavlc(frames, qp=16)
    assert len(enc_p) < 0.7 * len(enc_i)   # motion removed the pan
    fps, dec = decode_h264(enc_p)
    assert len(dec) == len(frames)
    for f, d in zip(frames, dec):
        assert d.shape == f.shape
        assert np.abs(f.astype(int) - d.astype(int)).mean() < 6.0


def test_static_scene_converges_to_exact_skip_frames():
    frames = [_smooth()] * 5
    _, dec = decode_h264(encode_h264_p(frames, qp=14, gop=8))
    # residual re-quantization converges; the tail is all-skip and
    # therefore EXACTLY the previous decoded frame (frame dedup works
    # on temporally compressed video)
    assert np.array_equal(dec[3], dec[2])
    assert np.array_equal(dec[4], dec[3])


def test_random_access_decodes_gop_prefix():
    frames = _pan_frames(n=5)
    enc = encode_h264_p(frames, qp=16, gop=8, search=4)
    _, dec = decode_h264(enc)
    lay = _H264Layout(enc)               # fresh layout, cold cache
    assert np.array_equal(lay.frame_at(3), dec[3])
    assert np.array_equal(lay.frame_at(1), dec[1])


def test_gop_boundary_restarts_with_idr():
    frames = _pan_frames(n=5)
    enc = encode_h264_p(frames, qp=16, gop=2, search=4)
    # pictures 0, 2, 4 are IDR NALs (type 5), 1 and 3 are non-IDR
    types = [nal_type for nal_type, _, _ in _iter_slice_nals(enc)]
    assert types == [5, 1, 5, 1, 5]
    _, dec = decode_h264(enc)
    for f, d in zip(frames, dec):
        assert np.abs(f.astype(int) - d.astype(int)).mean() < 6.0


def _iter_slice_nals(payload):
    from rmlint_spark.operators.h264 import _iter_nals
    for typ, ref_idc, rbsp in _iter_nals(payload):
        if typ in (1, 5):
            yield typ, ref_idc, rbsp


def test_scene_cut_uses_intra_fallback_and_roundtrips():
    a, b = _smooth(seed=0), _smooth(seed=9)[::-1, ::-1]
    frames = [a, a, b, b]
    enc = encode_h264_p(frames, qp=14, gop=8)
    _, dec = decode_h264(enc)
    for f, d in zip(frames, dec):
        assert np.abs(f.astype(int) - d.astype(int)).mean() < 6.0
    # the cut picture carries intra-in-P macroblocks (mb_type >= 5):
    # cheap structural check — it is a non-IDR NAL yet much larger
    # than the preceding all-skip-ish P frame
    sizes = [len(r) for t, _, r in _iter_slice_nals(enc)]
    assert sizes[2] > 4 * sizes[1]


def test_mp4_p_lane_roundtrips_with_sync_table():
    from rmlint_spark.operators.mp4 import (encode_mp4_avc,
                                            mp4_extract_avc)

    frames = _pan_frames(n=4)
    mp4 = encode_mp4_avc(frames, fps=(25, 1), codec="p", qp=16)
    annexb = mp4_extract_avc(mp4)
    _, dec = decode_h264(annexb)
    assert len(dec) == 4
    for f, d in zip(frames, dec):
        assert np.abs(f.astype(int) - d.astype(int)).mean() < 6.0
    # stss lists exactly the one IDR sample
    i = mp4.find(b"stss")
    assert i > 0
    n_sync = int.from_bytes(mp4[i + 8:i + 12], "big")
    first = int.from_bytes(mp4[i + 12:i + 16], "big")
    assert (n_sync, first) == (1, 1)


# ------------------------------------------------------ refusals

def test_p_sub_mb_type_invalid_refused():
    # the full Table 7-17 family (0..3) decodes since r5 s17; the
    # refusal boundary narrowed to out-of-table sub_mb_type codes
    pic = _pic(mb_w=1, mb_h=1)
    w = _BitWriter()
    from rmlint_spark.operators.h264 import _trailing_bits, _write_ue
    _write_ue(w, 0)          # mb_skip_run
    _write_ue(w, 3)          # P_8x8
    for s in (4, 0, 0, 0):   # sub_mb_type 4 is outside Table 7-17
        _write_ue(w, s)
    _trailing_bits(w)
    covered = np.zeros(1, dtype=bool)
    with pytest.raises(ValueError, match="invalid P sub_mb_type"):
        pic.decode_slice_p(_BitReader(w.bytes()), 0, covered)


def test_p_sub_split_crafted_stream_decodes():
    """A hand-written P_8x8 macroblock mixing all four Table 7-17
    sub_mb_types (8x4 / 4x8 / 4x4 / 8x8 -> 2+2+4+1 = 9 mvd pairs in
    coding order), zero motion, CBP 0: decodes clean against the
    zero reference and covers the MB."""
    pic = _pic(mb_w=1, mb_h=1)
    w = _BitWriter()
    from rmlint_spark.operators.h264 import (_trailing_bits, _write_se,
                                             _write_ue)
    _write_ue(w, 0)          # mb_skip_run
    _write_ue(w, 3)          # P_8x8 (one active ref: no te(v) bits)
    for s in (1, 2, 3, 0):   # 8x4, 4x8, 4x4, 8x8
        _write_ue(w, s)
    for _ in range(9):       # one mvd pair per sub-partition
        _write_se(w, 0)
        _write_se(w, 0)
    _write_ue(w, 1)          # cbp 0 (deviation-#1 ordering: code 1)
    _trailing_bits(w)
    covered = np.zeros(1, dtype=bool)
    pic.decode_slice_p(_BitReader(w.bytes()), 0, covered)
    assert covered[0]
    # zero mvd over the zero-mv predictor on a zero reference: the
    # whole reconstruction is the reference plane
    assert not pic.y.any()
    assert (pic.mv4 == 0).all()


def test_skip_run_overrun_refused():
    pic = _pic(mb_w=1, mb_h=1)
    w = _BitWriter()
    from rmlint_spark.operators.h264 import _trailing_bits, _write_ue
    _write_ue(w, 9)          # skip run larger than the picture
    _write_ue(w, 0)
    _trailing_bits(w)
    with pytest.raises(ValueError, match="overruns"):
        pic.decode_slice_p(_BitReader(w.bytes()), 0,
                           np.zeros(1, dtype=bool))


def test_p_picture_without_reference_refused():
    frames = _pan_frames(n=3)
    enc = encode_h264_p(frames, qp=16, gop=8)
    # strip the IDR picture: keep SPS/PPS, drop the type-5 NAL
    start = b"\x00\x00\x00\x01"
    parts = enc.split(start)
    kept = [p for p in parts if p and (p[0] & 0x1F) != 5]
    stripped = b"".join(start + p for p in kept)
    with pytest.raises(ValueError, match="without a decoded reference"):
        decode_h264(stripped)


def test_truncated_reference_b_slice_refused():
    # B slices are outside the implemented subset: a reference-B NAL
    # whose slice body stops mid-grammar must raise the bounded
    # ValueError, never decode garbage
    from rmlint_spark.operators.h264 import (_encode_pps, _encode_sps,
                                             _escape_rbsp)
    w = _BitWriter()
    from rmlint_spark.operators.h264 import _trailing_bits, _write_ue
    _write_ue(w, 0)          # first_mb
    _write_ue(w, 6)          # slice_type: B
    _write_ue(w, 0)          # pps id
    _trailing_bits(w)
    payload = (b"\x00\x00\x00\x01\x67"
               + _escape_rbsp(_encode_sps(4, 4, 64, 64, (25, 1)))
               + b"\x00\x00\x00\x01\x68" + _escape_rbsp(_encode_pps())
               + b"\x00\x00\x00\x01\x41" + _escape_rbsp(w.bytes()))
    with pytest.raises(ValueError):
        decode_h264(payload)


def test_truncated_cabac_p_header_refused():
    # a CABAC P slice whose header stops mid-grammar must raise the
    # documented ValueError, never decode garbage (CABAC-P itself is
    # implemented — see test_h264_cabac_p.py)
    from rmlint_spark.operators.h264 import (_encode_pps, _encode_sps,
                                             _escape_rbsp,
                                             _trailing_bits, _write_ue)
    w = _BitWriter()
    _write_ue(w, 0)
    _write_ue(w, 5)          # slice_type: P
    _write_ue(w, 0)
    _trailing_bits(w)
    payload = (b"\x00\x00\x00\x01\x67"
               + _escape_rbsp(_encode_sps(4, 4, 64, 64, (25, 1)))
               + b"\x00\x00\x00\x01\x68"
               + _escape_rbsp(_encode_pps(entropy_coding=1))
               + b"\x00\x00\x00\x01\x41" + _escape_rbsp(w.bytes()))
    with pytest.raises(ValueError):
        decode_h264(payload)


def test_p_stream_fuzz_fails_bounded():
    """Bit flips / truncations of a P stream must only ever produce a
    clean decode, ValueError, or NotImplementedError — never hangs,
    wrong exception types, or unbounded allocation."""
    rng = np.random.RandomState(11)
    payload = bytearray(encode_h264_p(_pan_frames(n=3), qp=16, gop=8))
    for _ in range(50):
        b = bytearray(payload)
        for _k in range(rng.randint(1, 6)):
            b[rng.randint(0, len(b))] ^= 1 << rng.randint(0, 8)
        if rng.randint(0, 2):
            b = b[:rng.randint(30, len(b))]
        try:
            decode_h264(bytes(b))
        except (ValueError, NotImplementedError):
            pass
