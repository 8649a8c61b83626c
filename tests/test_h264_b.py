"""H.264 B slices are outside the implemented subset (I and P
slices): a B picture is refused with the bounded ValueError that
multimodal degrades to opaque bytes."""

from __future__ import annotations

import pytest

from rmlint_spark.operators.h264 import (
    _encode_pps,
    _encode_sps,
    _escape_rbsp,
    _trailing_bits,
    _write_se,
    _write_ue,
    decode_h264,
    parse_h264,
)
from rmlint_spark.operators.flac import _BitWriter


def _craft_b_slice_stream() -> bytes:
    w = _BitWriter()
    _write_ue(w, 0)                 # first_mb
    _write_ue(w, 6)                 # slice_type B
    _write_ue(w, 0)                 # pps id
    w.write(0, 4)                   # frame_num
    w.write(0, 8)                   # poc lsb
    w.write(1, 1)                   # direct_spatial_mv_pred
    w.write(0, 1)                   # override
    w.write(0, 1)                   # list mod l0
    w.write(0, 1)                   # list mod l1
    _write_se(w, 0)                 # slice_qp_delta
    _write_ue(w, 1)                 # disable_deblocking_filter_idc
    _trailing_bits(w)
    sps = _encode_sps(2, 2, 32, 32, (25, 1), num_ref_frames=2,
                      poc_type=0)
    return (b"\x00\x00\x00\x01\x67" + _escape_rbsp(sps)
            + b"\x00\x00\x00\x01\x68" + _escape_rbsp(_encode_pps())
            + b"\x00\x00\x00\x01\x01" + _escape_rbsp(w.bytes()))


def test_b_picture_without_future_reference_refused():
    # a B picture with no reference at all before it: the header
    # walk still reads the stream, the decoder refuses the B slice
    payload = _craft_b_slice_stream()
    assert parse_h264(payload)["n_frames"] == 1
    with pytest.raises(ValueError, match="implemented subset"):
        decode_h264(payload)
