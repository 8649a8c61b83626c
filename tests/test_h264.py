"""H.264 Annex-B I_PCM essence codec: Exp-Golomb + RBSP escaping
grammar, conforming-stream round-trip, cross-container frame-dedup
invariant (Y4M == GIF == H.264 decoded RGB), random-access picture
decode, SPS/VUI probe parity, and malformed/entropy-coded inputs.
(Reference hashes media as opaque bytes — lib/checksum.c; this family
serves the training-data multimodal lane, like the JPEG/FLAC suites.)"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from rmlint_spark.operators.flac import _BitReader, _BitWriter
from rmlint_spark.operators.h264 import (
    _encode_pps,
    _encode_sps,
    _escape_rbsp,
    _H264Layout,
    _read_se,
    _read_ue,
    _trailing_bits,
    _unescape_rbsp,
    _write_se,
    _write_ue,
    decode_h264,
    encode_h264_ipcm,
    is_h264,
    parse_h264,
)


def _gray_frames(n=4, h=6, w=8, seed=42):
    rng = np.random.RandomState(seed)
    return [
        np.repeat(rng.randint(0, 256, size=(h, w), dtype=np.uint8)[:, :, None], 3, axis=2)
        for _ in range(n)
    ]


# ------------------------------------------------------------ grammar


def test_exp_golomb_round_trip():
    w = _BitWriter()
    vals = [0, 1, 2, 3, 7, 8, 254, 255, 256, 65534, 2**20]
    for v in vals:
        _write_ue(w, v)
    svals = [0, 1, -1, 2, -2, 127, -128, 4000, -4000]
    for v in svals:
        _write_se(w, v)
    w.write(1, 1)
    w.pad_to_byte()
    r = _BitReader(w.bytes())
    assert [_read_ue(r) for _ in vals] == vals
    assert [_read_se(r) for _ in svals] == svals


def test_exp_golomb_rejects_malformed():
    with pytest.raises(ValueError):
        _write_ue(_BitWriter(), -1)
    # 40 zero bits: > 32 leading zeros must raise, not spin
    with pytest.raises(ValueError):
        _read_ue(_BitReader(b"\x00" * 5 + b"\xff"))


def test_rbsp_escaping_round_trip():
    # every <=3 byte after 00 00 needs the 03 splice (clause 7.4.1.1)
    for tail in (b"\x00", b"\x01", b"\x02", b"\x03"):
        raw = b"\xab\x00\x00" + tail + b"\x00\x00\x00\x01\xff"
        esc = _escape_rbsp(raw)
        assert b"\x00\x00\x00" not in esc
        assert b"\x00\x00\x01" not in esc
        assert b"\x00\x00\x02" not in esc
        assert _unescape_rbsp(esc) == raw


def test_escaping_handles_long_zero_runs():
    raw = b"\x00" * 64
    esc = _escape_rbsp(raw)
    assert b"\x00\x00\x00" not in esc
    assert _unescape_rbsp(esc) == raw


# -------------------------------------------------------- round-trip


def test_grayscale_round_trip_exact():
    frames = _gray_frames()
    payload = encode_h264_ipcm(frames, fps=(5, 2))
    assert is_h264(payload)
    fps, dec = decode_h264(payload)
    assert fps == (5, 2)
    assert len(dec) == 4
    for got, want in zip(dec, frames):
        assert np.array_equal(got, want)


def test_uniform_chroma_round_trip_within_one():
    rng = np.random.RandomState(7)
    small = rng.randint(0, 256, size=(3, 4, 3), dtype=np.uint8)
    uni = np.repeat(np.repeat(small, 2, axis=0), 2, axis=1)
    _, dec = decode_h264(encode_h264_ipcm([uni]))
    assert int(np.abs(dec[0].astype(int) - uni.astype(int)).max()) <= 1


def test_macroblock_multiple_no_crop():
    rng = np.random.RandomState(3)
    fr = np.repeat(rng.randint(0, 256, size=(16, 32), dtype=np.uint8)[:, :, None], 3, axis=2)
    payload = encode_h264_ipcm([fr])
    meta = parse_h264(payload)
    assert (meta["width"], meta["height"]) == (32, 16)
    _, dec = decode_h264(payload)
    assert np.array_equal(dec[0], fr)


def test_odd_dimensions_rejected():
    fr = np.zeros((5, 8, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        encode_h264_ipcm([fr])


def test_encoder_input_validation():
    with pytest.raises(ValueError):
        encode_h264_ipcm([])
    with pytest.raises(ValueError):
        encode_h264_ipcm(_gray_frames(1), fps=(0, 1))
    fr = _gray_frames(2)
    fr[1] = np.zeros((8, 8, 3), dtype=np.uint8)  # mismatched dims
    with pytest.raises(ValueError):
        encode_h264_ipcm(fr)


# ------------------------------------------------- layout / sampling


def test_random_access_frame_at_matches_full_decode():
    frames = _gray_frames(6)
    payload = encode_h264_ipcm(frames)
    lay = _H264Layout(payload)
    assert lay.n_frames == 6
    _, full = decode_h264(payload)
    # decode out of order — pictures are independent
    for idx in (5, 0, 3):
        assert np.array_equal(lay.frame_at(idx), full[idx])


def test_probe_metadata():
    payload = encode_h264_ipcm(_gray_frames(4), fps=(30000, 1001))
    meta = parse_h264(payload)
    assert meta == {
        "width": 8, "height": 6, "profile_idc": 66, "level_idc": 10,
        "n_frames": 4, "fps": (30000, 1001),
        "duration_ms": 4 * 1000 * 1001 // 30000,
    }


def test_three_byte_start_codes_accepted():
    payload = encode_h264_ipcm(_gray_frames(2))
    # rewrite 4-byte start codes as 3-byte ones (equally legal Annex B)
    three = payload.replace(b"\x00\x00\x00\x01", b"\x00\x00\x01")
    assert is_h264(three)
    _, a = decode_h264(payload)
    _, b = decode_h264(three)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))


# ----------------------------------------------- malformed / entropy


def test_malformed_streams_raise_value_error():
    good = encode_h264_ipcm(_gray_frames(1))
    for bad in (
        b"",                      # no start code
        b"\x00\x00\x01",          # empty stream
        b"\x00\x00\x01\x80",      # forbidden_zero_bit set
        good[:40],                # truncated I_PCM macroblock
        b"\x00\x00\x01\x65\x88",  # slice before SPS/PPS
    ):
        with pytest.raises(ValueError):
            decode_h264(bad)
    # P and B slices are outside the implemented subset, so no MP4
    # lane encodes them
    from rmlint_spark.operators.mp4 import encode_mp4_avc

    for codec in ("p", "cabac_p", "b", "cabac_b"):
        with pytest.raises(ValueError, match="essence codec"):
            encode_mp4_avc(_gray_frames(2), codec=codec)


def test_oversized_dimensions_rejected():
    # SPS claiming a frame beyond the decoder bound must raise at
    # parse time, before any allocation
    from rmlint_spark.operators import h264 as m

    w = _BitWriter()
    w.write(66, 8)
    w.write(0b11000000, 8)
    w.write(51, 8)
    _write_ue(w, 0)
    _write_ue(w, 0)
    _write_ue(w, 2)
    _write_ue(w, 0)
    w.write(0, 1)
    _write_ue(w, 4096 - 1)   # 65536 px wide
    _write_ue(w, 4096 - 1)   # 65536 px tall -> 4G pixels
    w.write(1, 1)
    w.write(1, 1)
    w.write(0, 1)
    w.write(0, 1)
    w.write(1, 1)
    w.pad_to_byte()
    payload = m._START4 + b"\x67" + _escape_rbsp(w.bytes())
    with pytest.raises(ValueError, match="exceed decoder bound"):
        _H264Layout(payload + m._START4 + b"\x68" + _escape_rbsp(b"\x80"))


def test_cabac_pps_with_cavlc_slice_body_fails_bounded():
    # a PPS that claims CABAC paired with a CAVLC-coded slice body is
    # a MALFORMED stream: since r5 s5 the CABAC engine decodes it and
    # must fail with a bounded ValueError (real CABAC round-trips live
    # in tests/test_h264_cabac.py)
    from rmlint_spark.operators.h264 import _encode_pps, _encode_sps, _START4

    sps = _START4 + b"\x67" + _escape_rbsp(_encode_sps(1, 1, 16, 16, (25, 1)))
    w = _BitWriter()
    _write_ue(w, 0)
    _write_ue(w, 0)
    w.write(1, 1)  # entropy_coding_mode_flag = CABAC
    w.write(0, 1)
    _write_ue(w, 0)
    _write_ue(w, 0)
    _write_ue(w, 0)
    w.write(0, 1)
    w.write(0, 2)
    _write_se(w, 0)
    _write_se(w, 0)
    _write_se(w, 0)
    w.write(0, 3)
    w.write(1, 1)
    w.pad_to_byte()
    pps = _START4 + b"\x68" + _escape_rbsp(w.bytes())
    body = encode_h264_ipcm([_gray_frames(1)[0]])
    slice_nal = body[body.index(b"\x00\x00\x00\x01\x65"):]
    with pytest.raises(ValueError):
        decode_h264(sps + pps + slice_nal)


def test_out_of_range_mb_type_raises_value_error():
    # mb_types 0..24 (Intra_4x4 / Intra_16x16 CAVLC) decode since
    # r5 s4 and 25 is I_PCM; anything above is malformed, not a stub
    payload = encode_h264_ipcm(_gray_frames(1))
    lay = _H264Layout(payload)
    typ, ref, rbsp = lay.pictures[0][0]
    r = _BitReader(rbsp)
    lay._parse_slice_header(r, typ, ref, lay.sps, lay.pps)
    w = _BitWriter()
    head_bits = r.bytepos * 8 + r.bitpos
    rr = _BitReader(rbsp)
    for _ in range(head_bits):
        w.write(rr.read(1), 1)
    _write_ue(w, 26)  # invalid I-slice mb_type
    w.write(1, 1)
    w.pad_to_byte()
    from rmlint_spark.operators.h264 import _START4

    hacked = payload[: payload.index(b"\x00\x00\x00\x01\x65")] + \
        _START4 + b"\x65" + _escape_rbsp(w.bytes())
    with pytest.raises(ValueError, match="mb_type"):
        decode_h264(hacked)


# ------------------------------------------- multimodal integration


def test_cross_container_identical_rgb():
    """The frame-dedup invariant: the same grayscale frame pool
    encoded as Y4M Cmono, GIF and H.264 I_PCM decodes to bit-identical
    RGB, so frame hashes collide purely on pixel content."""
    from rmlint_spark.operators.gif import decode_gif, encode_gif
    from rmlint_spark.operators.multimodal import decode_y4m, encode_y4m

    frames = _gray_frames(4)
    _, via_h264 = decode_h264(encode_h264_ipcm(frames, fps=(5, 2)))
    _, via_y4m = decode_y4m(encode_y4m(frames, fps=(5, 2), colorspace="Cmono"))
    via_gif = decode_gif(encode_gif(frames, delays_ms=[400] * 4))[1]
    for a, b, c in zip(via_h264, via_y4m, via_gif):
        assert np.array_equal(a, b)
        assert np.array_equal(a, c)


def test_detect_format_and_features():
    from rmlint_spark.operators.multimodal import _features_for, detect_format

    payload = encode_h264_ipcm(_gray_frames(4))
    assert detect_format(payload) == "h264"
    v = _features_for(payload)
    assert v.shape == (16,)
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5
    # real decode path: same pixels in a Y4M container give the SAME
    # features; the hash-seeded stub could not do that
    from rmlint_spark.operators.multimodal import encode_y4m

    y4m = encode_y4m(_gray_frames(4), fps=(5, 2), colorspace="Cmono")
    assert np.allclose(v, _features_for(y4m), atol=1e-6)


def test_sample_frames_and_probe_h264(spark):
    from pyspark.sql import functions as F

    from rmlint_spark.operators.multimodal import (
        probe_videos,
        sample_frames,
        synthetic_video_assets,
    )

    assets = synthetic_video_assets(spark, n=16)
    probe = {r["asset_id"]: r for r in probe_videos(assets).collect()}
    assert probe[2]["container"] == "h264"
    assert probe[2]["codec"] == "avc-L10"
    assert (probe[2]["width"], probe[2]["height"]) == (8, 6)
    assert probe[2]["n_frames"] == 4
    assert probe[2]["duration_ms"] == 1600
    assert probe[3]["container"].startswith("mp4/")
    assert probe[3]["codec"] == "avc1"
    assert probe[3]["n_frames"] == 4
    assert probe[3]["duration_ms"] == 1600
    # asset 4: CABAC-entropy Annex-B (r5 s5) probes like any H.264
    assert probe[4]["container"] == "h264"
    assert probe[4]["n_frames"] == 4
    assert probe[4]["duration_ms"] == 1600

    fr = sample_frames(assets, every_ms=250)
    per_sha = (
        fr.join(assets.select("asset_id"), "asset_id")
        .withColumn("c", F.pmod("asset_id", F.lit(5)))
        .groupBy("frame_sha")
        .agg(F.countDistinct("c").alias("nc"))
    )
    rows = per_sha.collect()
    assert len(rows) == 8  # the 8-frame pool
    assert all(r["nc"] == 5 for r in rows)  # every frame in all 5 containers


def test_frame_sha_is_decoded_pixels():
    # the sampler's sha must equal sha256 of the decoded RGB bytes —
    # payload-derived hashes would silently break cross-container dedup
    frames = _gray_frames(1)
    payload = encode_h264_ipcm(frames, fps=(5, 2))
    lay = _H264Layout(payload)
    assert hashlib.sha256(lay.frame_at(0).tobytes()).hexdigest() == \
        hashlib.sha256(frames[0].tobytes()).hexdigest()


# -------------------------------------------- MP4 avc1 essence bridge


def test_mp4_avc_round_trip_exact():
    from rmlint_spark.operators.mp4 import encode_mp4_avc, mp4_extract_avc, parse_mp4

    frames = _gray_frames(4)
    p = encode_mp4_avc(frames, fps=(5, 2))
    meta = parse_mp4(p)
    tr = meta["tracks"][0]
    assert (tr["kind"], tr["codec"], tr["n_samples"]) == ("video", "avc1", 4)
    assert meta["duration_ms"] == 1600
    fps, dec = decode_h264(mp4_extract_avc(p))
    assert fps == (5, 2)
    for got, want in zip(dec, frames):
        assert np.array_equal(got, want)


def test_mp4_extract_degrades_on_stripped_or_malformed():
    from rmlint_spark.operators.mp4 import (
        encode_mp4_avc,
        encode_mp4_skeleton,
        mp4_extract_avc,
    )

    # metadata-only skeleton: no avcC / no mdat
    with pytest.raises(ValueError):
        mp4_extract_avc(encode_mp4_skeleton())
    # truncated mdat: a sample overruns the file
    p = encode_mp4_avc(_gray_frames(2))
    with pytest.raises(ValueError, match="overruns"):
        mp4_extract_avc(p[:-100])
    # corrupt AVCC length prefix inside a sample
    mdat_at = p.index(b"mdat") + 4
    bad = p[:mdat_at] + b"\xff\xff\xff\xff" + p[mdat_at + 4:]
    with pytest.raises(ValueError):
        mp4_extract_avc(bad)


def test_mp4_frame_sha_matches_other_containers(spark):
    """The same pixels behind FOUR containers — Y4M, GIF, raw Annex-B
    H.264 and avc1-in-MP4 — produce the same decoded-pixel frame sha
    in the sampler (the synthetic corpus covers this at n=16; this is
    the minimal directed pair)."""
    import hashlib

    from rmlint_spark.operators.mp4 import encode_mp4_avc
    from rmlint_spark.operators.multimodal import sample_frames

    frames = _gray_frames(2)
    vid_annexb = encode_h264_ipcm(frames, fps=(5, 2))
    vid_mp4 = encode_mp4_avc(frames, fps=(5, 2))
    assets = spark.createDataFrame(
        [(1, "video", bytearray(vid_annexb), None, None, None, None),
         (2, "video", bytearray(vid_mp4), None, None, None, None)],
        "asset_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long",
    )
    rows = sample_frames(assets, every_ms=400).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], {})[r["t_ms"]] = r["frame_sha"]
    assert by_asset[1] == by_asset[2]
    assert by_asset[1][0] == hashlib.sha256(frames[0].tobytes()).hexdigest()


def test_mp4_features_match_raw_h264():
    from rmlint_spark.operators.mp4 import encode_mp4_avc
    from rmlint_spark.operators.multimodal import _features_for

    frames = _gray_frames(4)
    a = _features_for(encode_h264_ipcm(frames, fps=(5, 2)))
    b = _features_for(encode_mp4_avc(frames, fps=(5, 2)))
    assert np.allclose(a, b, atol=1e-6)


# ----------------------------------------------- CAVLC residual lane


def _texture_frame(h=32, w=48, seed=11):
    rng = np.random.RandomState(seed)
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    base = ((xx * 4 + yy * 6) % 256).astype(np.int64)
    tex = np.clip(base + rng.randint(-20, 20, size=(h, w)), 0, 255)
    return np.repeat(tex.astype(np.uint8)[:, :, None], 3, axis=2)


def _psnr(a, b):
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    return 10 * np.log10(255.0 ** 2 / max(mse, 1e-12))


def test_cavlc_rate_distortion_monotone_and_compresses():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

    f = _texture_frame()
    sizes, psnrs = [], []
    for qp in (4, 16, 28):
        b = encode_h264_cavlc([f], qp=qp)
        _, frames = decode_h264(b)
        sizes.append(len(b))
        psnrs.append(_psnr(frames[0], f))
    assert psnrs == sorted(psnrs, reverse=True), psnrs
    assert sizes == sorted(sizes, reverse=True), sizes
    assert psnrs[0] > 45.0 and psnrs[-1] > 28.0
    # residual coding genuinely compresses vs raw I_PCM
    assert sizes[1] < len(encode_h264_ipcm([f]))


def test_cavlc_flat_frame_codes_to_skipped_blocks():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

    flat = np.full((32, 32, 3), 77, np.uint8)
    b = encode_h264_cavlc([flat], qp=20)
    assert len(b) < 100          # cbp=0 everywhere: a few bits per MB
    _, frames = decode_h264(b)
    assert int(np.abs(frames[0].astype(int) - flat.astype(int)).max()) <= 1


def test_cavlc_crop_and_determinism():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

    f = _texture_frame(h=22, w=14)
    b = encode_h264_cavlc([f, f], qp=8)
    assert encode_h264_cavlc([f, f], qp=8) == b
    _, frames = decode_h264(b)
    assert frames[0].shape == (22, 14, 3)
    assert np.array_equal(frames[0], frames[1])     # same input, IDR each
    assert _psnr(frames[0], f) > 35.0


def test_cavlc_vlc_tables_prefix_free_and_complete():
    from rmlint_spark.operators.h264_cavlc import _vlc

    names = (["ct0", "ct1", "ct2", "ct3", "ctc"]
             + [f"tz_16_{tc}" for tc in range(1, 16)]
             + [f"tz_15_{tc}" for tc in range(1, 15)]
             + [f"tz_4_{tc}" for tc in range(1, 4)]
             + [f"rb_{z}" for z in range(1, 8)])
    for name in names:
        enc, dec, ml, syms = _vlc(name)
        codes = list(enc)
        assert len(set(codes)) == len(codes), name
        by_len = sorted(codes, key=lambda x: x[1])
        for i, (c1, l1) in enumerate(by_len):
            for c2, l2 in by_len[i + 1:]:
                if l2 > l1:
                    assert (c2 >> (l2 - l1)) != c1, f"{name} not prefix-free"
        assert abs(sum(2.0 ** -ln for _, ln in codes) - 1.0) < 1e-12, name


def test_cavlc_residual_block_property_roundtrip():
    from rmlint_spark.operators.h264_cavlc import (
        _read_residual,
        _write_residual,
    )

    rng = np.random.RandomState(0)
    cases = []
    for maxc in (16, 15, 4):
        cases.append(([0] * maxc, 0))                       # empty
        cases.append(([1] + [0] * (maxc - 1), 3))           # single DC one
        full = rng.randint(-40, 40, size=maxc).tolist()
        cases.append(([v or 1 for v in full], 8))           # dense
        big = [0] * maxc
        big[0], big[maxc // 2] = 30000, -30000              # escape path
        cases.append((big, 1))
        for _ in range(30):                                 # sparse random
            c = [0] * maxc
            for _k in range(rng.randint(1, maxc)):
                c[rng.randint(maxc)] = int(rng.randint(-300, 300))
            cases.append((c, int(rng.randint(0, 17))))
    for coeffs, nc in cases:
        nc = -1 if len(coeffs) == 4 else nc
        w = _BitWriter()
        tc = _write_residual(w, coeffs, nc)
        w.write(1, 1)                                       # stop marker
        w.pad_to_byte()
        back = _read_residual(_BitReader(w.bytes()), nc, len(coeffs))
        assert back == coeffs, (coeffs, nc)
        assert tc == sum(1 for v in coeffs if v)


def test_cavlc_level_codec_escape_and_adaptation():
    from rmlint_spark.operators.h264_cavlc import _read_level, _write_level

    for first in (False, True):
        for levels in ([2, -2, 7, -31], [5000, -20000, 3], [2, 1, -1, 900]):
            if first:
                # the first level after <3 trailing ones has |v| >= 2
                levels = [v if abs(v) >= 2 else v * 2 for v in levels]
            w = _BitWriter()
            sl = 0
            for i, v in enumerate(levels):
                sl = _write_level(w, v, sl, first_escaped=(first and i == 0))
            w.write(1, 1)
            w.pad_to_byte()
            r = _BitReader(w.bytes())
            sl = 0
            out = []
            for i in range(len(levels)):
                v, sl = _read_level(r, sl, first_escaped=(first and i == 0))
                out.append(v)
            assert out == levels, (levels, first, out)


def test_cavlc_mixed_with_ipcm_pictures():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

    f = _texture_frame()
    bp = encode_h264_ipcm([f])
    bc = encode_h264_cavlc([f], qp=6)

    def nals(b):
        return [p for p in b.split(b"\x00\x00\x00\x01") if p]

    np_, nc_ = nals(bp), nals(bc)
    mixed = b"".join(b"\x00\x00\x00\x01" + x
                     for x in [np_[0], np_[1], np_[2], nc_[2]])
    _, frames = decode_h264(mixed)
    assert len(frames) == 2
    assert np.array_equal(frames[0], decode_h264(bp)[1][0])
    assert np.array_equal(frames[1], decode_h264(bc)[1][0])


def test_cavlc_mp4_bridge_roundtrip():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc
    from rmlint_spark.operators.mp4 import encode_mp4_avc, mp4_extract_avc

    f = _texture_frame()
    m = encode_mp4_avc([f, f], codec="cavlc", qp=6)
    _, direct = decode_h264(encode_h264_cavlc([f, f], qp=6))
    _, via_mp4 = decode_h264(mp4_extract_avc(m))
    assert all(np.array_equal(a, b) for a, b in zip(direct, via_mp4))
    with pytest.raises(ValueError, match="essence codec"):
        encode_mp4_avc([f], codec="hevc")


def test_cavlc_encoder_validation_and_truncation():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

    f = _texture_frame()
    with pytest.raises(ValueError, match="qp"):
        encode_h264_cavlc([f], qp=35)
    b = encode_h264_cavlc([f], qp=8)
    with pytest.raises(ValueError):
        decode_h264(b[: len(b) - len(b) // 3])


def test_cavlc_features_are_real_decoded_pixels():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc
    from rmlint_spark.operators.multimodal import (
        _fake_features,
        _features_for,
    )

    f = _texture_frame()
    payload = encode_h264_cavlc([f], qp=8)
    feats = _features_for(payload)
    assert not np.allclose(feats, _fake_features(payload))
    # the descriptor IS the decoded pixels' image features
    from rmlint_spark.operators.multimodal import _image_features

    _, frames = decode_h264(payload)
    v = _image_features(frames[0])
    v = v / np.linalg.norm(v)
    assert np.allclose(feats, v.astype(np.float32), atol=1e-6)


def test_i16x16_forced_roundtrip_and_smaller_on_smooth():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

    # smooth gradient: I_16x16 must round-trip well and code smaller
    # than forced I_4x4 (per-block pred-mode signaling overhead)
    xx, yy = np.meshgrid(np.arange(48), np.arange(32))
    f = np.stack([((xx * 2 + yy) % 256).astype(np.uint8)] * 3, axis=-1)
    b16 = encode_h264_cavlc([f], qp=10, mb_force="i16x16")
    b4 = encode_h264_cavlc([f], qp=10, mb_force="i4x4")
    _, fr16 = decode_h264(b16)
    _, fr4 = decode_h264(b4)
    assert _psnr(fr16[0], f) > 40.0
    assert _psnr(fr4[0], f) > 40.0
    assert len(b16) < len(b4)


def test_i16x16_auto_decision_uses_both_types(monkeypatch):
    from rmlint_spark.operators import h264_cavlc as m

    # left half flat (I_16x16 territory), right half a steep gradient
    # where per-4x4-block prediction genuinely wins (I_4x4 territory)
    xx, yy = np.meshgrid(np.arange(64), np.arange(32))
    tex = np.where(xx < 32, 100, (xx * 6 + yy * 5) % 256).astype(np.uint8)
    f = np.stack([tex] * 3, axis=-1)
    payload = m.encode_h264_cavlc([f], qp=16)
    calls = {"i4": 0, "i16": 0}
    orig4, orig16 = m.CavlcPicture.decode_mb, m.CavlcPicture.decode_mb16

    def spy4(self, r, addr):
        calls["i4"] += 1
        return orig4(self, r, addr)

    def spy16(self, r, addr, t):
        calls["i16"] += 1
        return orig16(self, r, addr, t)

    monkeypatch.setattr(m.CavlcPicture, "decode_mb", spy4)
    monkeypatch.setattr(m.CavlcPicture, "decode_mb16", spy16)
    _, frames = decode_h264(payload)
    assert calls["i4"] > 0 and calls["i16"] > 0, calls
    assert _psnr(frames[0], f) > 30.0


def test_i16x16_dc_hadamard_layer_roundtrip():
    from rmlint_spark.operators.h264_cavlc import (
        _dc_hadamard_dequant,
        _dc_hadamard_quant,
    )

    rng = np.random.RandomState(0)
    for qp in (0, 11, 23):
        w00 = rng.randint(-4000, 4000, size=(4, 4)).astype(np.int64)
        d = _dc_hadamard_dequant(_dc_hadamard_quant(w00, qp), qp)
        # decoded DC ~ 4x the original W00 (the AC dequant gain), with
        # quantization error bounded by the qp step
        step = 2.0 ** (qp / 6.0)
        assert np.abs(d / 4.0 - w00).max() < 40 * step + 4


def test_i16x16_vertical_horizontal_prediction_selected():
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

    # columns constant -> vertical prediction wins below the first MB
    # row; rows constant -> horizontal
    col = np.tile(np.arange(0, 256, 8, dtype=np.uint8), (64, 1))[:, :32]
    row = col.T.copy()
    for f in (col, row):
        fr3 = np.stack([f] * 3, axis=-1)
        b = encode_h264_cavlc([fr3], qp=8, mb_force="i16x16")
        _, dec = decode_h264(b)
        assert _psnr(dec[0], fr3) > 42.0


def test_new_codec_lanes_fail_bounded_under_fuzz():
    """Seeded bit-flip + truncation fuzz over the r5 entropy lanes
    (Layer III, CAVLC): decode either succeeds or raises ValueError /
    NotImplementedError — never an unexpected exception type (the
    crafted-header discipline the other codecs already pin)."""
    from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc
    from rmlint_spark.operators.mpeg_audio import (
        decode_mpeg_audio,
        encode_layer3,
    )

    from rmlint_spark.operators.h264_cabac import encode_h264_cabac

    rng = np.random.RandomState(0)
    g = rng.randint(0, 256, (32, 48)).astype(np.uint8)
    vid = bytearray(encode_h264_cavlc([np.stack([g] * 3, axis=-1)], qp=12))
    vidc = bytearray(encode_h264_cabac([np.stack([g] * 3, axis=-1)], qp=12))
    vidp = bytearray(_stream_with_deblock_tail(
        _filter_off, p_slice=_p_skip_slice(1)))
    sig = np.clip(0.3 * np.sin(2 * np.pi * 440 * np.arange(2304) / 44100.0)
                  + 0.05 * rng.randn(2304), -0.9, 0.9)
    aud = bytearray(encode_layer3(sig, 44100, 128))
    for payload, dec in ((vid, decode_h264), (vidc, decode_h264),
                         (vidp, decode_h264), (aud, decode_mpeg_audio)):
        for _ in range(60):
            b = bytearray(payload)
            for _k in range(rng.randint(1, 6)):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            try:
                dec(bytes(b))
            except (ValueError, NotImplementedError):
                pass
        for cut in range(1, len(payload), max(1, len(payload) // 23)):
            try:
                dec(bytes(payload[:cut]))
            except (ValueError, NotImplementedError):
                pass


def test_i16x16_plane_prediction_on_ramp(monkeypatch):
    from rmlint_spark.operators import h264_cavlc as m

    xx, yy = np.meshgrid(np.arange(64), np.arange(48))
    ramp = np.clip(40 + xx * 2 + yy, 0, 255).astype(np.uint8)
    f = np.stack([ramp] * 3, axis=-1)
    payload = m.encode_h264_cavlc([f], qp=10, mb_force="i16x16")
    seen = set()
    orig = m._pred16x16

    def spy(plane, py, px, mode, has_top, has_left):
        seen.add(mode)
        return orig(plane, py, px, mode, has_top, has_left)

    monkeypatch.setattr(m, "_pred16x16", spy)
    _, frames = decode_h264(payload)
    assert 3 in seen, f"plane mode never selected on a ramp: {seen}"
    assert _psnr(frames[0], f) > 50.0
    # plane soaks up the gradient: the whole 12-MB frame in <500 bytes
    assert len(payload) < 500


# ------------------------- header validation and subset refusals
#
# The decoder parses and range-checks the deblocking header fields,
# then refuses any value that would need the in-loop filter; it
# refuses P pictures before their slice header.  The streams are
# hand-built: no encoder here emits them.


def _pps_bits(deblocking_control: int) -> bytes:
    w = _BitWriter()
    _write_ue(w, 0)                 # pic_parameter_set_id
    _write_ue(w, 0)                 # seq_parameter_set_id
    w.write(0, 2)                   # CAVLC, no bottom_field_pic_order
    _write_ue(w, 0)                 # num_slice_groups_minus1
    _write_ue(w, 0)                 # num_ref_idx_l0_default_active_minus1
    _write_ue(w, 0)                 # num_ref_idx_l1_default_active_minus1
    w.write(0, 3)                   # weighted_pred / weighted_bipred_idc
    for _ in range(3):
        _write_se(w, 0)             # pic_init_qp / qs / chroma_qp offsets
    w.write(deblocking_control, 1)  # deblocking_filter_control_present
    w.write(0, 2)                   # constrained_intra / redundant_pic_cnt
    _trailing_bits(w)
    return w.bytes()


def _stream_with_deblock_tail(tail_bits, pps: bytes | None = None,
                              p_slice: bytes | None = None) -> bytes:
    """Minimal 16x16 I_PCM stream whose slice header ends with the
    caller-written deblocking fields, optionally followed by a
    hand-built P slice RBSP."""
    w = _BitWriter()
    _write_ue(w, 0)                 # first_mb
    _write_ue(w, 7)                 # slice_type I
    _write_ue(w, 0)                 # pps id
    w.write(0, 4)                   # frame_num
    _write_ue(w, 0)                 # idr_pic_id
    w.write(0, 2)                   # no_output / long_term
    _write_se(w, 0)                 # slice_qp_delta
    tail_bits(w)
    _write_ue(w, 25)                # I_PCM mb_type
    w.pad_to_byte()
    w.buf += bytes(384)
    _trailing_bits(w)
    out = (b"\x00\x00\x00\x01\x67"
           + _escape_rbsp(_encode_sps(1, 1, 16, 16, (25, 1),
                                      num_ref_frames=2))
           + b"\x00\x00\x00\x01\x68"
           + _escape_rbsp(_encode_pps() if pps is None else pps)
           + b"\x00\x00\x00\x01\x65" + _escape_rbsp(w.bytes()))
    if p_slice is not None:
        out += b"\x00\x00\x00\x01\x41" + _escape_rbsp(p_slice)
    return out


def _filter_off(w):
    _write_ue(w, 1)                 # disable_deblocking_filter_idc 1


def _p_skip_slice(frame_num: int) -> bytes:
    """One-macroblock CAVLC P slice coded as a single P_Skip."""
    w = _BitWriter()
    _write_ue(w, 0)                 # first_mb
    _write_ue(w, 5)                 # slice_type P
    _write_ue(w, 0)                 # pps id
    w.write(frame_num, 4)           # frame_num
    w.write(0, 1)                   # num_ref_idx_active_override
    w.write(0, 1)                   # ref_pic_list_modification_l0
    w.write(0, 1)                   # adaptive_ref_pic_marking
    _write_se(w, 0)                 # slice_qp_delta
    _write_ue(w, 1)                 # disable_deblocking_filter_idc 1
    _write_ue(w, 1)                 # mb_skip_run: the one macroblock
    _trailing_bits(w)
    return w.bytes()


def test_idc_out_of_range_refused():
    def tail(w):
        _write_ue(w, 3)             # idc 3: out of range
    with pytest.raises(ValueError, match="idc out of range"):
        decode_h264(_stream_with_deblock_tail(tail))


def test_offsets_out_of_range_refused():
    def tail(w):
        _write_ue(w, 0)             # idc 0
        _write_se(w, 7)             # alpha div2 7: outside [-6, 6]
        _write_se(w, 0)
    with pytest.raises(ValueError, match="offsets out of range"):
        decode_h264(_stream_with_deblock_tail(tail))


def _deblocking_on(w):
    _write_ue(w, 0)                 # idc 0: in-loop filter on
    _write_se(w, 0)                 # slice_alpha_c0_offset_div2
    _write_se(w, 0)                 # slice_beta_offset_div2


def test_deblocking_idc0_slice_refused():
    with pytest.raises(ValueError, match="implemented subset"):
        decode_h264(_stream_with_deblock_tail(_deblocking_on))


def test_pps_without_deblocking_control_refused():
    # no per-slice control: the decoder infers idc 0 (7.4.3)
    payload = _stream_with_deblock_tail(
        lambda w: None, pps=_pps_bits(deblocking_control=0))
    assert parse_h264(payload)["n_frames"] == 1
    with pytest.raises(ValueError, match="implemented subset"):
        decode_h264(payload)


def test_p_slice_refused():
    # a P picture after the I_PCM IDR, under either entropy mode: the
    # header walk counts it, the decoder refuses it, and the IDR
    # prefix alone decodes
    from rmlint_spark.operators.h264_cabac import encode_h264_cabac

    p_nal = b"\x00\x00\x00\x01\x41" + _escape_rbsp(_p_skip_slice(1))
    cavlc = _stream_with_deblock_tail(_filter_off)
    cabac = encode_h264_cabac([np.zeros((16, 16, 3), np.uint8)],
                              mb_force="ipcm")
    assert _encode_pps(entropy_coding=1) in cabac
    for idr in (cavlc, cabac):
        payload = idr + p_nal
        assert parse_h264(payload)["n_frames"] == 2
        with pytest.raises(ValueError, match="implemented subset"):
            decode_h264(payload)
        assert len(decode_h264(idr)[1]) == 1


def test_truncated_cabac_p_header_refused():
    # a CABAC P slice whose header stops mid-grammar must raise the
    # documented ValueError, never decode garbage (P slices are
    # outside the implemented subset)
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


def test_refused_stream_degrades_to_opaque_features():
    from rmlint_spark.operators.multimodal import (
        _fake_features,
        _features_for,
    )

    for payload in (_stream_with_deblock_tail(_deblocking_on),
                    _stream_with_deblock_tail(
                        _filter_off, p_slice=_p_skip_slice(1))):
        assert np.array_equal(_features_for(payload),
                              _fake_features(payload))
    # the filter-off twin decodes for real
    twin = _stream_with_deblock_tail(_filter_off)
    assert not np.array_equal(_features_for(twin), _fake_features(twin))
