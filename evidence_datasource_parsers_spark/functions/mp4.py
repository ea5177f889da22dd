"""ISO-BMFF (MP4/MOV) container walk — stdlib-only, no codec decode.

Most real crawl video is MP4/H.264, which a pure-Python stack cannot
decode to pixels (that is the ``decode_hook`` plug-in's job — see
``operators/multimodal.decode_blob``).  What the container itself gives
away WITHOUT any codec is still most of what a curation pipeline gates
on, and all of what exact remux-dedup needs:

  * **metadata** (:func:`parse_mp4`): brand, duration, per-track codec
    fourcc, width/height, frame count, fps, keyframe positions — from
    ``moov`` (mvhd/tkhd/mdhd/hdlr/stsd/stts/stss), a cheap byte walk.
  * **encoded sample extraction** (:func:`mp4_sample_ranges`): the exact
    (offset, size) of every media sample in the file, resolved from the
    sample tables (stsc × stsz × stco/co64).  Hashing the concatenated
    encoded samples identifies the ELEMENTARY STREAM independent of the
    container — a remux (same encoding, new ftyp/moov metadata, shuffled
    box order, edited title) hashes identically, which no byte-level
    blob hash and no metadata column can see.

The writer (:func:`encode_mp4`) emits a minimal single-video-track file
(ftyp + mdat + moov with full sample tables, either box order) so tests
roundtrip fixture-free; samples are opaque bytes — the writer does not
pretend to encode H.264.

Box layouts follow ISO/IEC 14496-12 (8.2 moov tree, 8.5-8.7 sample
tables); 64-bit ``largesize`` and version-1 full boxes are handled.
Scale note: the walk touches only box headers plus the moov subtree —
cost is independent of mdat size, so metadata over 100 TB of video is a
headers-only scan.
"""

from __future__ import annotations

import struct


def _boxes(buf: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in
    buf[start:end]; raises ValueError on truncated/absurd headers."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        size = struct.unpack_from(">I", buf, pos)[0]
        btype = buf[pos + 4 : pos + 8]
        payload = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize header")
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            payload = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < payload - pos or pos + size > end:
            raise ValueError(f"box {btype!r} overruns its container")
        yield btype, payload, pos + size
        pos += size


def _child(buf: bytes, start: int, end: int, btype: bytes):
    for t, s, e in _boxes(buf, start, end):
        if t == btype:
            return s, e
    return None


def _fullbox(buf: bytes, start: int) -> tuple[int, int]:
    """(version, payload_start_after_version_flags).  Raises ValueError on
    a zero-payload fullbox at EOF — ``buf[start]`` would IndexError, which
    escapes the (ValueError, struct.error) kernel contract and kills the
    task instead of yielding a NULL row."""
    if start >= len(buf):
        raise ValueError("truncated fullbox header")
    return buf[start], start + 4


def _mvhd(buf: bytes, s: int, e: int) -> float | None:
    v, p = _fullbox(buf, s)
    if v == 1:
        timescale = struct.unpack_from(">I", buf, p + 16)[0]
        duration = struct.unpack_from(">Q", buf, p + 20)[0]
    else:
        timescale, duration = struct.unpack_from(">II", buf, p + 8)
    return duration / timescale if timescale else None


def _tkhd_dims(buf: bytes, s: int, e: int) -> tuple[int, int]:
    v, p = _fullbox(buf, s)
    # v1: 8+8+4+4+8 = 32 bytes of times/id/duration; v0: 4+4+4+4+4 = 20.
    # Then reserved(8) + layer/alt/volume/reserved(8) + matrix(36).
    fixed = p + (32 if v == 1 else 20) + 8 + 8 + 36
    w, h = struct.unpack_from(">II", buf, fixed)
    return w >> 16, h >> 16  # 16.16 fixed point


def _mdhd(buf: bytes, s: int, e: int) -> tuple[int, int]:
    v, p = _fullbox(buf, s)
    if v == 1:
        timescale = struct.unpack_from(">I", buf, p + 16)[0]
        duration = struct.unpack_from(">Q", buf, p + 20)[0]
    else:
        timescale, duration = struct.unpack_from(">II", buf, p + 8)
    return timescale, duration


def _stts_totals(buf: bytes, s: int, e: int) -> tuple[int, int]:
    """(total_samples, total_delta_ticks)."""
    _, p = _fullbox(buf, s)
    n = struct.unpack_from(">I", buf, p)[0]
    total, ticks = 0, 0
    for i in range(n):
        cnt, delta = struct.unpack_from(">II", buf, p + 4 + 8 * i)
        total += cnt
        ticks += cnt * delta
    return total, ticks


def _stsd_fourcc(buf: bytes, s: int, e: int) -> str | None:
    _, p = _fullbox(buf, s)
    if struct.unpack_from(">I", buf, p)[0] < 1:
        return None
    return buf[p + 8 : p + 12].decode("latin-1")


def _stss_samples(buf: bytes, s: int, e: int) -> list[int]:
    _, p = _fullbox(buf, s)
    n = struct.unpack_from(">I", buf, p)[0]
    return [
        struct.unpack_from(">I", buf, p + 4 + 4 * i)[0] - 1  # → 0-based
        for i in range(n)
    ]


def _stsz_sizes(buf: bytes, s: int, e: int) -> list[int]:
    _, p = _fullbox(buf, s)
    fixed, count = struct.unpack_from(">II", buf, p)
    # the variable-size path is buffer-bounded (struct.error on a short
    # box), but the fixed-size path carries NO per-sample data, so a
    # 16-byte hostile box could demand a 4-billion-entry list — cap the
    # count (2^24 samples ≈ 77 h at 60 fps) per the fuzz contract's
    # absurd-count clause
    if count > (1 << 24):
        raise ValueError(f"absurd stsz sample count {count}")
    if fixed:
        return [fixed] * count
    return list(struct.unpack_from(f">{count}I", buf, p + 8))


def _stsc_entries(buf: bytes, s: int, e: int) -> list[tuple[int, int]]:
    _, p = _fullbox(buf, s)
    n = struct.unpack_from(">I", buf, p)[0]
    return [
        struct.unpack_from(">II", buf, p + 4 + 12 * i)  # (first, per)
        for i in range(n)
    ]


def _chunk_offsets(buf: bytes, stbl_s: int, stbl_e: int) -> list[int]:
    stco = _child(buf, stbl_s, stbl_e, b"stco")
    if stco is not None:
        _, p = _fullbox(buf, stco[0])
        n = struct.unpack_from(">I", buf, p)[0]
        return list(struct.unpack_from(f">{n}I", buf, p + 4))
    co64 = _child(buf, stbl_s, stbl_e, b"co64")
    if co64 is None:
        return []
    _, p = _fullbox(buf, co64[0])
    n = struct.unpack_from(">I", buf, p)[0]
    return list(struct.unpack_from(f">{n}Q", buf, p + 4))


def _track_stbl(buf: bytes, trak_s: int, trak_e: int):
    mdia = _child(buf, trak_s, trak_e, b"mdia")
    if mdia is None:
        return None, None, None
    hdlr = _child(buf, mdia[0], mdia[1], b"hdlr")
    handler = None
    if hdlr is not None:
        _, p = _fullbox(buf, hdlr[0])
        handler = buf[p + 4 : p + 8].decode("latin-1")
    minf = _child(buf, mdia[0], mdia[1], b"minf")
    stbl = (
        _child(buf, minf[0], minf[1], b"stbl") if minf is not None else None
    )
    return handler, mdia, stbl


def parse_mp4(blob: bytes) -> dict:
    """Container metadata of an ISO-BMFF file — no codec decode.

    Returns ``{format, major_brand, duration_s, n_video_tracks,
    n_audio_tracks, video_codec, audio_codec, width, height, n_frames,
    fps, keyframes}`` where the video fields describe the FIRST video
    track and ``keyframes`` is its 0-based sync-sample list (None when
    no ``stss`` box — every sample is sync per 14496-12).  Raises
    ValueError when the blob is not ISO-BMFF or the box tree is
    malformed/truncated.
    """
    if len(blob) < 12 or blob[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (no ftyp)")
    out: dict = {
        "format": "mp4",
        "major_brand": blob[8:12].decode("latin-1"),
        "duration_s": None,
        "n_video_tracks": 0,
        "n_audio_tracks": 0,
        "video_codec": None,
        "audio_codec": None,
        "width": None,
        "height": None,
        "n_frames": None,
        "fps": None,
        "keyframes": None,
    }
    moov = _child(blob, 0, len(blob), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    mvhd = _child(blob, moov[0], moov[1], b"mvhd")
    if mvhd is not None:
        out["duration_s"] = _mvhd(blob, *mvhd)
    for t, s, e in _boxes(blob, moov[0], moov[1]):
        if t != b"trak":
            continue
        handler, mdia, stbl = _track_stbl(blob, s, e)
        if handler == "vide":
            out["n_video_tracks"] += 1
            if out["n_video_tracks"] > 1 or stbl is None:
                continue
            tkhd = _child(blob, s, e, b"tkhd")
            if tkhd is not None:
                out["width"], out["height"] = _tkhd_dims(blob, *tkhd)
            stsd = _child(blob, stbl[0], stbl[1], b"stsd")
            if stsd is not None:
                out["video_codec"] = _stsd_fourcc(blob, *stsd)
            stts = _child(blob, stbl[0], stbl[1], b"stts")
            if stts is not None:
                n, ticks = _stts_totals(blob, *stts)
                out["n_frames"] = n
                mdhd = _child(blob, mdia[0], mdia[1], b"mdhd")
                if mdhd is not None and ticks:
                    timescale, _dur = _mdhd(blob, *mdhd)
                    out["fps"] = n * timescale / ticks
            stss = _child(blob, stbl[0], stbl[1], b"stss")
            if stss is not None:
                out["keyframes"] = _stss_samples(blob, *stss)
        elif handler == "soun":
            out["n_audio_tracks"] += 1
            if out["n_audio_tracks"] == 1 and stbl is not None:
                stsd = _child(blob, stbl[0], stbl[1], b"stsd")
                if stsd is not None:
                    out["audio_codec"] = _stsd_fourcc(blob, *stsd)
    return out


def mp4_sample_ranges(
    blob: bytes, handler: str = "vide"
) -> list[tuple[int, int]]:
    """(file_offset, size) of every sample of the FIRST ``handler`` track,
    in sample order — resolved from stsc × stsz × stco/co64.  This is the
    elementary-stream extraction that container-independent hashing
    builds on.  Raises ValueError on malformed files or when sample
    tables reference bytes beyond the blob."""
    moov = _child(blob, 0, len(blob), b"moov")
    if blob[4:8] != b"ftyp" or moov is None:
        raise ValueError("not an ISO-BMFF file")
    for t, s, e in _boxes(blob, moov[0], moov[1]):
        if t != b"trak":
            continue
        h, _mdia, stbl = _track_stbl(blob, s, e)
        if h != handler or stbl is None:
            continue
        stsz = _child(blob, stbl[0], stbl[1], b"stsz")
        stsc = _child(blob, stbl[0], stbl[1], b"stsc")
        offsets = _chunk_offsets(blob, stbl[0], stbl[1])
        if stsz is None or stsc is None or not offsets:
            raise ValueError("incomplete sample tables")
        sizes = _stsz_sizes(blob, *stsz)
        entries = _stsc_entries(blob, *stsc)
        ranges: list[tuple[int, int]] = []
        si = 0
        for ci, chunk_off in enumerate(offsets, start=1):
            per = 0
            for first, n_per in entries:
                if first <= ci:
                    per = n_per
                else:
                    break
            pos = chunk_off
            for _ in range(per):
                if si >= len(sizes):
                    break
                sz = sizes[si]
                if pos + sz > len(blob):
                    raise ValueError("sample range beyond end of file")
                ranges.append((pos, sz))
                pos += sz
                si += 1
        if si != len(sizes):
            raise ValueError(
                f"sample tables inconsistent: {si} placed, "
                f"{len(sizes)} sized"
            )
        return ranges
    raise ValueError(f"no {handler!r} track")


def mp4_stream_bytes(blob: bytes, handler: str = "vide") -> bytes:
    """Concatenated encoded samples of the first ``handler`` track — the
    container-independent elementary stream (hash THIS for remux dedup)."""
    return b"".join(
        blob[off : off + sz] for off, sz in mp4_sample_ranges(blob, handler)
    )


# ---------------------------------------------------------------------------
# Minimal writer — single video track, opaque samples, full sample tables.
# ---------------------------------------------------------------------------


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">B3x", version) + payload)


def _visual_sample_entry(codec: bytes, width: int, height: int) -> bytes:
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)          # reserved + dri
        + struct.pack(">HH", 0, 0) + b"\x00" * 12   # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)                      # frame_count
        + b"\x00" * 32                              # compressorname
        + struct.pack(">Hh", 24, -1)                # depth, pre_defined
    )
    return _box(codec, body)


def encode_mp4(
    samples: list[bytes],
    width: int,
    height: int,
    *,
    fps: float = 25.0,
    codec: bytes = b"avc1",
    brand: bytes = b"isom",
    keyframes: list[int] | None = None,
    moov_first: bool = False,
    free_bytes: int = 0,
) -> bytes:
    """Minimal single-video-track MP4 around OPAQUE encoded samples (the
    writer does not encode video — tests supply placeholder payloads, a
    deployment's hook supplies real ones).  ``keyframes``: 0-based sync
    sample indices (writes stss; omit for all-sync).  ``moov_first`` and
    ``free_bytes`` vary the container layout WITHOUT touching the
    elementary stream — the remux-dedup test surface."""
    if not samples:
        raise ValueError("at least one sample required")
    timescale = 90000
    delta = round(timescale / fps)
    n = len(samples)
    dur = n * delta

    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mp42")
    free = _box(b"free", b"\x00" * free_bytes) if free_bytes else b""
    mdat_payload = b"".join(samples)

    def moov_at(chunk_offset: int) -> bytes:
        mvhd = _full(
            b"mvhd", 0,
            struct.pack(">IIII", 0, 0, timescale, dur)
            + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
            + b"\x00" * 10
            + struct.pack(
                ">9I",
                0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000,
            )
            + b"\x00" * 24 + struct.pack(">I", 2),
        )
        tkhd = _full(
            b"tkhd", 0,
            struct.pack(">IIIII", 0, 0, 1, 0, dur)
            + b"\x00" * 16
            + struct.pack(
                ">9I",
                0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000,
            )
            + struct.pack(">II", width << 16, height << 16),
        )
        mdhd = _full(
            b"mdhd", 0,
            struct.pack(">IIII", 0, 0, timescale, dur)
            + struct.pack(">HH", 0x55C4, 0),  # 'und'
        )
        hdlr = _full(
            b"hdlr", 0,
            struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"video\x00",
        )
        stsd = _full(
            b"stsd", 0,
            struct.pack(">I", 1) + _visual_sample_entry(codec, width, height),
        )
        stts = _full(b"stts", 0, struct.pack(">III", 1, n, delta))
        stsc = _full(b"stsc", 0, struct.pack(">IIII", 1, 1, n, 1))
        stsz = _full(
            b"stsz", 0,
            struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", len(s)) for s in samples),
        )
        stco = _full(b"stco", 0, struct.pack(">II", 1, chunk_offset))
        stbl_children = stsd + stts + stsc + stsz + stco
        if keyframes is not None:
            stbl_children += _full(
                b"stss", 0,
                struct.pack(">I", len(keyframes))
                + b"".join(struct.pack(">I", k + 1) for k in keyframes),
            )
        stbl = _box(b"stbl", stbl_children)
        vmhd = _full(b"vmhd", 0, struct.pack(">HHHH", 0, 0, 0, 0))
        # url  fullbox with flag 1 (self-contained), no payload
        dref = _full(
            b"dref", 0,
            struct.pack(">I", 1)
            + struct.pack(">I", 12) + b"url " + struct.pack(">B3b", 0, 0, 0, 1),
        )
        dinf = _box(b"dinf", dref)
        minf = _box(b"minf", vmhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        return _box(b"moov", mvhd + trak)

    if moov_first:
        moov_len = len(moov_at(0))  # u32 offset: length is offset-invariant
        offset = len(ftyp) + len(free) + moov_len + 8
        return ftyp + free + moov_at(offset) + _box(b"mdat", mdat_payload)
    offset = len(ftyp) + len(free) + 8
    return ftyp + free + _box(b"mdat", mdat_payload) + moov_at(offset)
