"""CABAC P-slice codec tests: GOP roundtrip, entropy-efficiency vs
the CAVLC-P lane, skip convergence, mvd UEG3, intra-in-P under
arithmetic entropy, refusal surface, fuzz lane."""

import numpy as np
import pytest

from rmlint_spark.operators.flac import _BitReader, _BitWriter
from rmlint_spark.operators.h264 import _H264Layout, decode_h264
from rmlint_spark.operators.h264_cabac import CabacDecoder, CabacEncoder
from rmlint_spark.operators.h264_cabac_p import (
    CabacInterPicture,
    encode_h264_cabac_p,
)
from rmlint_spark.operators.h264_inter import encode_h264_p


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


def _pic(mb_w=2, mb_h=2):
    z = np.zeros
    return CabacInterPicture(
        z((mb_h * 16, mb_w * 16), np.uint8),
        z((mb_h * 8, mb_w * 8), np.uint8),
        z((mb_h * 8, mb_w * 8), np.uint8),
        mb_w, mb_h,
        (z((mb_h * 16, mb_w * 16), np.uint8),
         z((mb_h * 8, mb_w * 8), np.uint8),
         z((mb_h * 8, mb_w * 8), np.uint8)))


def test_cabac_p_roundtrip_and_beats_cavlc_p():
    frames = _pan_frames()
    encc = encode_h264_cabac_p(frames, qp=16, gop=8, search=4)
    encv = encode_h264_p(frames, qp=16, gop=8, search=4)
    assert len(encc) < len(encv)         # arithmetic entropy wins
    _, dec = decode_h264(encc)
    assert len(dec) == len(frames)
    for f, d in zip(frames, dec):
        assert np.abs(f.astype(int) - d.astype(int)).mean() < 6.0


def test_cabac_p_static_scene_converges_to_exact_skips():
    _, dec = decode_h264(encode_h264_cabac_p([_smooth()] * 5,
                                             qp=14, gop=8))
    assert np.array_equal(dec[3], dec[2])
    assert np.array_equal(dec[4], dec[3])


def test_cabac_p_random_access():
    frames = _pan_frames(n=5)
    enc = encode_h264_cabac_p(frames, qp=16, gop=2, search=4)
    _, dec = decode_h264(enc)
    lay = _H264Layout(enc)
    assert np.array_equal(lay.frame_at(3), dec[3])
    assert np.array_equal(lay.frame_at(1), dec[1])


def test_cabac_p_scene_cut_intra_fallback():
    a, b = _smooth(seed=0), _smooth(seed=9)[::-1, ::-1]
    frames = [a, a, b, b]
    _, dec = decode_h264(encode_h264_cabac_p(frames, qp=14, gop=8))
    for f, d in zip(frames, dec):
        assert np.abs(f.astype(int) - d.astype(int)).mean() < 6.0


def test_mvd_ueg3_roundtrip_all_ranges():
    """mvd binarization self-consistency across the TU prefix, the
    k=3 Exp-Golomb escape and the sign, with live context adaptation
    between values."""
    values = [0, 1, -1, 2, -3, 5, 8, -8, 9, -9, 10, 17, -33, 64,
              -200, 1000, -4095]
    pic = _pic()
    w = _BitWriter()
    enc = CabacEncoder(w)
    for i, v in enumerate(values):
        pic._enc_mvd(enc, i % 2, 1, 1, v)
    enc.terminate(1)
    w.pad_to_byte()
    pic2 = _pic()
    pic2.cab = type(pic2.cab)()          # fresh contexts, same init
    dec = CabacDecoder(_BitReader(w.bytes()))
    got = [pic2._dec_mvd(dec, i % 2, 1, 1) for i in range(len(values))]
    assert got == values


def test_mvd_context_tracks_neighbor_magnitudes():
    # |mvd| context state lives on the 4x4 block grid since the
    # partition lanes; plant neighbors of block (1, 1)
    pic = _pic()
    assert pic._mvd_inc(1, 1, 0) == 0
    pic.mvd4[1, 0] = (2, 0)
    pic.mvd4[0, 1] = (4, 0)
    assert pic._mvd_inc(1, 1, 0) == 1    # 2 + 4 in [3, 32]
    pic.mvd4[0, 1] = (40, 0)
    assert pic._mvd_inc(1, 1, 0) == 2    # > 32


def test_skip_context_counts_non_skipped_neighbors():
    pic = _pic()
    assert pic._skip_inc(0, 0) == 0      # nothing decoded
    pic.skipped[0, 0] = 0                # coded MB at (0,0)
    assert pic._skip_inc(0, 1) == 1
    pic.skipped[0, 1] = 1                # skipped MB
    assert pic._skip_inc(1, 1) == 0 + (1 if pic.skipped[1, 0] == 0 else 0)


def test_sub8x8_split_decodes_through_cabac(monkeypatch):
    """The full Table 9-38 sub_mb_type binarization ('1' 8x8,
    '00' 8x4, '011' 4x8, '010' 4x4) decodes since r5 s17 — the
    binarization is prefix-complete, so no refusal remains in the
    family.  Per-4x4-tile alternating motion forces the encoder's
    greedy sub-split competition below 8x8; a spy on the shared
    geometry helper records the sub_mb_types the DECODER actually
    walked."""
    from rmlint_spark.operators import h264_inter as hi
    from rmlint_spark.operators.h264 import decode_h264

    yy, xx = np.mgrid[0:32, 0:64]
    base = np.stack([(yy * 5 + xx * 3) % 256, (yy + xx * 7) % 256,
                     (yy * 2 + xx) % 256], -1).astype(np.uint8)
    frames = [base]
    for i in range(1, 4):
        fr = base.copy()
        # full-width 4-row strips in counter-motion: every 8x8 block
        # holds two opposite 8x4 translations — the 8x4 sub-split's
        # shape, unreachable by 16x16 / 16x8 / 8x16 / plain 8x8
        for r in range(0, 32, 4):
            s = i * 2 if (r // 4) % 2 == 0 else -i * 2
            fr[r:r + 4] = np.roll(base[r:r + 4], s, axis=1)
        frames.append(fr)
    enc = encode_h264_cabac_p(frames, qp=14, gop=8, search=6,
                              partitions=True)

    seen: list[int] = []
    real = hi._sub_split_parts

    def spy(subs, my, mx):
        seen.extend(subs)
        return real(subs, my, mx)

    monkeypatch.setattr(hi, "_sub_split_parts", spy)
    _, dec = decode_h264(enc)
    assert any(s != 0 for s in seen)    # a true sub-8x8 split decoded
    for f, d in zip(frames, dec):
        assert np.abs(f.astype(int) - d.astype(int)).mean() < 8.0


def test_cross_entropy_mode_pixel_identical_dedup():
    """The CAVLC-P and CABAC-P encoders share motion search, mode
    decisions, quantization and in-loop reconstruction — only the
    entropy layer differs — so the SAME frames encoded through both
    lanes decode to PIXEL-IDENTICAL output: lossy temporally-
    compressed video dedups across entropy modes by decoded content,
    exactly like the lossless cross-container lanes."""
    frames = _pan_frames(n=4)
    _, dec_v = decode_h264(encode_h264_p(frames, qp=16, gop=8, search=4))
    _, dec_c = decode_h264(encode_h264_cabac_p(frames, qp=16, gop=8,
                                               search=4))
    for a, b in zip(dec_v, dec_c):
        assert np.array_equal(a, b)


def test_cabac_p_fuzz_fails_bounded():
    rng = np.random.RandomState(13)
    payload = bytearray(encode_h264_cabac_p(_pan_frames(n=3),
                                            qp=16, gop=8))
    for _ in range(40):
        b = bytearray(payload)
        for _k in range(rng.randint(1, 6)):
            b[rng.randint(0, len(b))] ^= 1 << rng.randint(0, 8)
        if rng.randint(0, 2):
            b = b[:rng.randint(30, len(b))]
        try:
            decode_h264(bytes(b))
        except (ValueError, NotImplementedError):
            pass
