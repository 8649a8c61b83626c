"""ISO Base Media File Format (MP4/MOV) container parsing, pure stdlib.

Container-level METADATA extraction (duration, per-track dimensions,
codec fourcc, exact per-sample timestamps from ``stts``) PLUS the
carried-essence bridge: :func:`encode_mp4_avc` writes a real
avc1-in-MP4 file (avcC decoder config + mdat + full
stsz/stsc/stco sample tables, ISO/IEC 14496-15), and
:func:`mp4_extract_avc` walks those tables back into an Annex-B
stream the :mod:`rmlint_spark.operators.h264` decoder reconstructs to
pixels. With the I_PCM essence subset that makes MP4 a fourth REAL
container in the cross-format frame-dedup lane; CAVLC/CABAC residual
essence still raises NotImplementedError downstream (the documented
entropy boundary).

Box grammar (public spec, ISO/IEC 14496-12): 4-byte big-endian size +
4-byte type; size==1 -> 64-bit largesize follows; size==0 -> to EOF.
Container boxes (moov/trak/mdia/minf/stbl) nest children directly.
"""

from __future__ import annotations

import struct

_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta", b"dinf",
}


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"MP4 box {btype!r} overruns container")
        yield btype, body, pos + size
        pos += size
    if pos != end:
        raise ValueError("trailing garbage after last MP4 box")


def _find(data: bytes, start: int, end: int, path: list[bytes]):
    """Yield (body_start, body_end) of every box matching the path."""
    for btype, b0, b1 in _boxes(data, start, end):
        if btype != path[0]:
            continue
        if len(path) == 1:
            yield b0, b1
        elif btype in _CONTAINERS:
            yield from _find(data, b0, b1, path[1:])


def _fullbox(data: bytes, b0: int) -> tuple[int, int]:
    """(version, flags) of a full box; body fields start at b0+4."""
    if b0 + 4 > len(data):
        raise ValueError("truncated MP4 full box")
    return data[b0], int.from_bytes(data[b0 + 1 : b0 + 4], "big")


def parse_mp4(payload: bytes) -> dict:
    """Parse an MP4/MOV payload into typed metadata:

    ``{"brand", "duration_ms", "timescale", "tracks": [{"kind",
    "codec", "width", "height", "duration_ms", "timescale",
    "n_samples", "sample_deltas"}]}``

    ``sample_deltas`` is the run-length-expanded ``stts`` table (per
    sample duration in track timescale units) — the ground truth for
    frame timestamps.
    """
    if len(payload) < 12:
        raise ValueError("not an MP4 payload")
    top = list(_boxes(payload, 0, len(payload)))
    types = [t for t, _, _ in top]
    if b"ftyp" not in types or b"moov" not in types:
        raise ValueError("MP4 missing ftyp/moov")
    out: dict = {"tracks": []}
    for btype, b0, b1 in top:
        if btype == b"ftyp":
            out["brand"] = payload[b0 : b0 + 4].decode("latin-1")
        elif btype == b"moov":
            _parse_moov(payload, b0, b1, out)
    if "duration_ms" not in out:
        raise ValueError("MP4 moov missing mvhd")
    return out


def _parse_moov(data: bytes, start: int, end: int, out: dict):
    for btype, b0, b1 in _boxes(data, start, end):
        if btype == b"mvhd":
            ver, _ = _fullbox(data, b0)
            if ver == 1:
                ts, dur = struct.unpack(">IQ", data[b0 + 20 : b0 + 32])
            else:
                ts, dur = struct.unpack(">II", data[b0 + 12 : b0 + 20])
            if ts == 0:
                raise ValueError("MP4 mvhd timescale is zero")
            out["timescale"] = ts
            out["duration_ms"] = dur * 1000 // ts
        elif btype == b"trak":
            out["tracks"].append(_parse_trak(data, b0, b1))


def _parse_trak(data: bytes, start: int, end: int) -> dict:
    tr: dict = {"kind": "unknown", "codec": None, "width": None, "height": None}
    for b0, b1 in _find(data, start, end, [b"tkhd"]):
        ver, _ = _fullbox(data, b0)
        # width/height are the last two 16.16 fixed-point fields
        w, h = struct.unpack(">II", data[b1 - 8 : b1])
        if w and h:
            tr["width"], tr["height"] = w >> 16, h >> 16
    for b0, b1 in _find(data, start, end, [b"mdia", b"mdhd"]):
        ver, _ = _fullbox(data, b0)
        if ver == 1:
            ts, dur = struct.unpack(">IQ", data[b0 + 20 : b0 + 32])
        else:
            ts, dur = struct.unpack(">II", data[b0 + 12 : b0 + 20])
        if ts == 0:
            raise ValueError("MP4 mdhd timescale is zero")
        tr["timescale"] = ts
        tr["duration_ms"] = dur * 1000 // ts
    for b0, b1 in _find(data, start, end, [b"mdia", b"hdlr"]):
        handler = data[b0 + 8 : b0 + 12]
        tr["kind"] = {b"vide": "video", b"soun": "audio", b"text": "text"}.get(
            handler, handler.decode("latin-1", "replace")
        )
    for b0, b1 in _find(data, start, end, [b"mdia", b"minf", b"stbl", b"stsd"]):
        _fullbox(data, b0)
        (n_entries,) = struct.unpack(">I", data[b0 + 4 : b0 + 8])
        if n_entries >= 1 and b0 + 16 <= b1:
            tr["codec"] = data[b0 + 12 : b0 + 16].decode("latin-1")
    for b0, b1 in _find(data, start, end, [b"mdia", b"minf", b"stbl", b"stts"]):
        _fullbox(data, b0)
        (n_entries,) = struct.unpack(">I", data[b0 + 4 : b0 + 8])
        if b0 + 8 + 8 * n_entries > b1:
            raise ValueError("truncated MP4 stts")
        deltas, total = [], 0
        for i in range(n_entries):
            cnt, delta = struct.unpack(
                ">II", data[b0 + 8 + 8 * i : b0 + 16 + 8 * i]
            )
            total += cnt
            # untrusted-input guard: a single crafted run (cnt up to
            # 2^32) would expand to a multi-GB list
            if total > (1 << 24):
                raise ValueError("MP4 stts sample count exceeds decoder bound")
            deltas.extend([delta] * cnt)
        tr["n_samples"] = len(deltas)
        tr["sample_deltas"] = deltas
    for b0, b1 in _find(data, start, end, [b"mdia", b"minf", b"stbl", b"ctts"]):
        ver, _ = _fullbox(data, b0)
        (n_entries,) = struct.unpack(">I", data[b0 + 4 : b0 + 8])
        if b0 + 8 + 8 * n_entries > b1:
            raise ValueError("truncated MP4 ctts")
        offs, total = [], 0
        for i in range(n_entries):
            cnt, off = struct.unpack(
                ">II", data[b0 + 8 + 8 * i : b0 + 16 + 8 * i]
            )
            if ver == 1 and off >= 1 << 31:     # version 1: signed
                off -= 1 << 32
            total += cnt
            if total > (1 << 24):
                raise ValueError("MP4 ctts sample count exceeds decoder bound")
            offs.extend([off] * cnt)
        tr["composition_offsets"] = offs
    return tr


def sample_timestamps(meta: dict, kind: str = "video") -> list[int]:
    """Per-sample presentation timestamps in ms for the first track of
    ``kind``, from its run-length stts table: t[i] = sum(deltas[:i])."""
    for tr in meta["tracks"]:
        if tr["kind"] == kind and "sample_deltas" in tr:
            ts = tr["timescale"]
            offs = tr.get("composition_offsets")
            out, acc = [], 0
            for i, d in enumerate(tr["sample_deltas"]):
                ct = acc + (offs[i] if offs and i < len(offs) else 0)
                out.append(ct * 1000 // ts)
                acc += d
            return out
    raise ValueError(f"MP4 has no {kind} track with an stts table")


# ------------------------------------------------------------- encoder

def encode_mp4_skeleton(
    width: int = 640,
    height: int = 360,
    fps: tuple[int, int] = (30, 1),
    n_frames: int = 90,
    codec: str = "avc1",
    audio: bool = False,
) -> bytes:
    """Build a minimal structurally-valid MP4 (ftyp + moov with one
    video track; no mdat — metadata only, the way a crawler snapshot
    or a stripped sidecar looks). Deterministic; for tests and the
    metadata-extraction plumbing."""

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    def full(btype: bytes, ver: int, flags: int, body: bytes) -> bytes:
        return box(btype, bytes([ver]) + flags.to_bytes(3, "big") + body)

    timescale = fps[0] * 1000
    delta = fps[1] * 1000
    dur = n_frames * delta

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd = full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, dur)
        + struct.pack(">IH", 0x00010000, 0x0100) + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0) + struct.pack(">I", 2),
    )
    tkhd = full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, dur) + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, timescale, dur, 0x55C4, 0))
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"v\x00")
    stsd = full(
        b"stsd", 0, 0,
        struct.pack(">I", 1)
        + box(codec.encode("latin-1"),
              b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
              + struct.pack(">HH", width, height) + b"\x00" * 50),
    )
    stts = full(b"stts", 0, 0, struct.pack(">III", 1, n_frames, delta))
    stbl = box(b"stbl", stsd + stts
               + full(b"stsc", 0, 0, struct.pack(">I", 0))
               + full(b"stsz", 0, 0, struct.pack(">III", 0, 0, 0))
               + full(b"stco", 0, 0, struct.pack(">I", 0)))
    minf = box(b"minf", box(b"vmhd", b"\x00\x00\x00\x01" + b"\x00" * 8)
               + box(b"dinf", full(b"dref", 0, 0, struct.pack(">I", 1)
                                   + full(b"url ", 0, 1, b"")))
               + stbl)
    trak = box(b"trak", tkhd + box(b"mdia", mdhd + hdlr + minf))
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov

# --------------------------------------- carried AVC essence bridge

def _split_annexb(stream: bytes) -> list[bytes]:
    """Annex-B byte stream -> raw NAL units (escaped, with header
    byte, without start codes)."""
    nals, pos = [], stream.find(b"\x00\x00\x01")
    if pos < 0:
        raise ValueError("no Annex-B start code")
    while pos >= 0:
        start = pos + 3
        nxt = stream.find(b"\x00\x00\x01", start)
        end = nxt if nxt >= 0 else len(stream)
        # a following 4-byte start code leaves its leading zero on this
        # NAL; an escaped NAL never ends in 0x00 (rbsp_trailing_bits),
        # so stripping zeros only ever removes start-code prefix bytes
        nal = stream[start:end].rstrip(b"\x00")
        if nal:
            nals.append(nal)
        pos = nxt
    return nals


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def _full(btype: bytes, ver: int, flags: int, body: bytes) -> bytes:
    return _box(btype, bytes([ver]) + flags.to_bytes(3, "big") + body)


def encode_mp4_avc(frames, fps: tuple[int, int] = (25, 1),
                   codec: str = "ipcm", qp: int = 20) -> bytes:
    """RGB frames -> a REAL avc1 MP4: an H.264 encoder produces the
    essence (``codec="ipcm"``: conforming lossless I_PCM;
    ``codec="cavlc"``: compressed intra residuals at ``qp``, the
    r5 self-consistent lane; ``codec="cabac"``: the same residual
    semantics under CABAC arithmetic entropy, r5 s5;
    ``codec="p"`` / ``codec="cabac_p"``: IDR+P GOPs with motion
    compensation under CAVLC / CABAC entropy, r5 s6 — ``stss`` then
    lists only the IDR sync samples), which lands
    length-prefixed (AVCC,
    4-byte lengths) in ``mdat`` with SPS/PPS in the ``avcC``
    decoder-config box and full ``stsz``/``stsc``/``stco`` sample
    tables (ISO/IEC 14496-15 s5.3).  :func:`mp4_extract_avc` (or any
    real demuxer+decoder for the I_PCM lane) plays it back; with
    all-grayscale I_PCM content the round trip is bit-exact."""
    from rmlint_spark.operators.h264 import encode_h264_ipcm

    if codec == "ipcm":
        annexb = encode_h264_ipcm(frames, fps=fps)
    elif codec == "cavlc":
        from rmlint_spark.operators.h264_cavlc import encode_h264_cavlc

        annexb = encode_h264_cavlc(frames, fps=fps, qp=qp)
    elif codec == "cabac":
        from rmlint_spark.operators.h264_cabac import encode_h264_cabac

        annexb = encode_h264_cabac(frames, fps=fps, qp=qp)
    elif codec == "p":
        from rmlint_spark.operators.h264_inter import encode_h264_p

        annexb = encode_h264_p(frames, fps=fps, qp=qp)
    elif codec == "cabac_p":
        from rmlint_spark.operators.h264_cabac_p import encode_h264_cabac_p

        annexb = encode_h264_cabac_p(frames, fps=fps, qp=qp)
    else:
        raise ValueError(f"unknown avc1 essence codec {codec!r}")
    sps = pps = None
    samples: list[bytes] = []
    sync: list[int] = []                # 1-based IDR sample numbers
    for nal in _split_annexb(annexb):
        typ = nal[0] & 0x1F
        if typ == 7:
            sps = nal
        elif typ == 8:
            pps = nal
        else:                           # one slice NAL per picture
            samples.append(struct.pack(">I", len(nal)) + nal)
            if typ == 5:                # IDR = sync sample
                sync.append(len(samples))
    assert sps is not None and pps is not None
    h, w = __import__("numpy").asarray(frames[0]).shape[:2]
    n = len(samples)
    timescale = fps[0] * 1000
    delta = fps[1] * 1000
    dur = n * delta

    avcc = _box(
        b"avcC",
        b"\x01" + sps[1:4] + b"\xff\xe1"
        + struct.pack(">H", len(sps)) + sps
        + b"\x01" + struct.pack(">H", len(pps)) + pps,
    )
    stsd = _full(
        b"stsd", 0, 0,
        struct.pack(">I", 1)
        + _box(b"avc1",
               b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
               + struct.pack(">HH", w, h)
               + struct.pack(">II", 0x00480000, 0x00480000)
               + b"\x00" * 4 + struct.pack(">H", 1) + b"\x00" * 32
               + struct.pack(">Hh", 0x18, -1)
               + avcc),
    )
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, delta))
    stss = _full(b"stss", 0, 0, struct.pack(">I", len(sync))
                 + b"".join(struct.pack(">I", i) for i in sync))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n)
                 + b"".join(struct.pack(">I", len(s)) for s in samples))

    def moov(chunk_offset: int) -> bytes:
        stco = _full(b"stco", 0, 0, struct.pack(">II", 1, chunk_offset))
        stbl = _box(b"stbl", stsd + stts + stss + stsc + stsz + stco)
        minf = _box(
            b"minf",
            _full(b"vmhd", 0, 1, b"\x00" * 8)
            + _box(b"dinf", _full(b"dref", 0, 0, struct.pack(">I", 1)
                                  + _full(b"url ", 0, 1, b"")))
            + stbl,
        )
        mdhd = _full(b"mdhd", 0, 0,
                     struct.pack(">IIIIHH", 0, 0, timescale, dur, 0x55C4, 0))
        hdlr = _full(b"hdlr", 0, 0,
                     struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"v\x00")
        tkhd = _full(
            b"tkhd", 0, 7,
            struct.pack(">IIIII", 0, 0, 1, 0, dur) + b"\x00" * 8
            + struct.pack(">hhhH", 0, 0, 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        mvhd = _full(
            b"mvhd", 0, 0,
            struct.pack(">IIII", 0, 0, timescale, dur)
            + struct.pack(">IH", 0x00010000, 0x0100) + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">6I", 0, 0, 0, 0, 0, 0) + struct.pack(">I", 2),
        )
        trak = _box(b"trak", tkhd + _box(b"mdia", mdhd + hdlr + minf))
        return _box(b"moov", mvhd + trak)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2avc1mp41")
    moov_len = len(moov(0))  # stco is a fixed-width field: size is stable
    mdat_body = b"".join(samples)
    offset = len(ftyp) + moov_len + 8  # first byte inside mdat
    return ftyp + moov(offset) + _box(b"mdat", mdat_body)


def mp4_extract_avc(payload: bytes) -> bytes:
    """Walk the avc1 sample tables of an MP4 back into an Annex-B
    H.264 stream (SPS + PPS from ``avcC``, then every sample's
    length-prefixed NALs with start codes restored). Raises ValueError
    when the file carries no complete avc1 track — stripped/metadata-
    only MP4s (the ``encode_mp4_skeleton`` shape) degrade upstream to
    the timing-only path, never crash it."""
    data = payload
    end = len(data)
    stsd_body = stsz = stco = stsc = None
    co64 = False
    for m0, m1 in _find(data, 0, end, [b"moov", b"trak"]):
        entry = None
        for b0, b1 in _find(data, m0, m1, [b"mdia", b"minf", b"stbl", b"stsd"]):
            (n_entries,) = struct.unpack(">I", data[b0 + 4 : b0 + 8])
            if n_entries < 1:
                continue
            for btype, e0, e1 in _boxes(data, b0 + 8, b1):
                if btype == b"avc1":
                    entry = (e0, e1)
        if entry is None:
            continue
        stsd_body = entry
        for b0, b1 in _find(data, m0, m1, [b"mdia", b"minf", b"stbl", b"stsz"]):
            stsz = (b0, b1)
        for b0, b1 in _find(data, m0, m1, [b"mdia", b"minf", b"stbl", b"stco"]):
            stco = (b0, b1)
        if stco is None:
            for b0, b1 in _find(data, m0, m1,
                                [b"mdia", b"minf", b"stbl", b"co64"]):
                stco, co64 = (b0, b1), True
        for b0, b1 in _find(data, m0, m1, [b"mdia", b"minf", b"stbl", b"stsc"]):
            stsc = (b0, b1)
        break
    if stsd_body is None:
        raise ValueError("MP4 carries no avc1 track")
    if stsz is None or stco is None or stsc is None:
        raise ValueError("MP4 avc1 track is missing sample tables")

    # avcC inside the sample entry: fixed 78-byte VisualSampleEntry,
    # then child boxes
    e0, e1 = stsd_body
    avcc = None
    for btype, c0, c1 in _boxes(data, e0 + 78, e1):
        if btype == b"avcC":
            avcc = data[c0:c1]
    if avcc is None or len(avcc) < 7:
        raise ValueError("MP4 avc1 entry has no avcC configuration")
    length_size = (avcc[4] & 0x3) + 1
    out = bytearray()
    pos, n_sps = 6, avcc[5] & 0x1F
    for _ in range(n_sps):
        (ln,) = struct.unpack(">H", avcc[pos : pos + 2])
        out += b"\x00\x00\x00\x01" + avcc[pos + 2 : pos + 2 + ln]
        pos += 2 + ln
    if pos >= len(avcc):
        raise ValueError("avcC truncated before PPS")
    n_pps = avcc[pos]
    pos += 1
    for _ in range(n_pps):
        (ln,) = struct.unpack(">H", avcc[pos : pos + 2])
        out += b"\x00\x00\x00\x01" + avcc[pos + 2 : pos + 2 + ln]
        pos += 2 + ln

    b0, b1 = stsz
    fixed, n_samples = struct.unpack(">II", data[b0 + 4 : b0 + 12])
    if n_samples > (1 << 24):
        raise ValueError("MP4 stsz sample count exceeds decoder bound")
    sizes = ([fixed] * n_samples if fixed else
             [struct.unpack(">I", data[b0 + 12 + 4 * i : b0 + 16 + 4 * i])[0]
              for i in range(n_samples)])

    b0, b1 = stco
    (n_chunks,) = struct.unpack(">I", data[b0 + 4 : b0 + 8])
    width = 8 if co64 else 4
    if b0 + 8 + width * n_chunks > b1:
        raise ValueError("truncated MP4 stco/co64")
    offsets = [
        int.from_bytes(data[b0 + 8 + width * i : b0 + 8 + width * (i + 1)], "big")
        for i in range(n_chunks)
    ]

    b0, b1 = stsc
    (n_ents,) = struct.unpack(">I", data[b0 + 4 : b0 + 8])
    ents = [struct.unpack(">III", data[b0 + 8 + 12 * i : b0 + 20 + 12 * i])
            for i in range(n_ents)]  # (first_chunk, samples_per_chunk, sdi)

    # expand chunk map -> per-sample absolute offsets
    si = 0
    for ci in range(n_chunks):
        spc = 0
        for first, count, _sdi in ents:
            if first <= ci + 1:
                spc = count
        off = offsets[ci]
        for _ in range(spc):
            if si >= n_samples:
                break
            size = sizes[si]
            if off + size > len(data):
                raise ValueError("MP4 sample overruns file")
            sample = data[off : off + size]
            p = 0
            while p + length_size <= size:
                ln = int.from_bytes(sample[p : p + length_size], "big")
                p += length_size
                if ln == 0 or p + ln > size:
                    raise ValueError("malformed AVCC length prefix")
                out += b"\x00\x00\x00\x01" + sample[p : p + ln]
                p += ln
            if p != size:
                raise ValueError("trailing bytes after last NAL in sample")
            off += size
            si += 1
    if si != n_samples:
        raise ValueError("MP4 chunk map covers fewer samples than stsz")
    return bytes(out)
