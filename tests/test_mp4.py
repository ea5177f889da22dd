"""ISO-BMFF (MP4) container walk: parser/writer roundtrip, sample-range
resolution, remux-invariant stream hashing, and the video-tier
integration (decode_blob / incremental_remux_dedupe)."""

from __future__ import annotations

import struct

import pytest

from evidence_datasource_parsers_spark.functions.mp4 import (
    encode_mp4,
    mp4_sample_ranges,
    mp4_stream_bytes,
    parse_mp4,
)

SAMPLES = [bytes([40 + i]) * (25 + 3 * i) for i in range(12)]


def test_roundtrip_metadata_both_layouts():
    for moov_first in (False, True):
        blob = encode_mp4(
            SAMPLES, 320, 240, fps=24.0, keyframes=[0, 4, 8],
            moov_first=moov_first,
        )
        m = parse_mp4(blob)
        assert m["format"] == "mp4" and m["major_brand"] == "isom"
        assert (m["width"], m["height"]) == (320, 240)
        assert m["n_frames"] == 12 and m["video_codec"] == "avc1"
        assert m["fps"] == pytest.approx(24.0, rel=1e-3)
        assert m["duration_s"] == pytest.approx(12 / 24.0, rel=1e-3)
        assert m["keyframes"] == [0, 4, 8]
        assert m["n_video_tracks"] == 1 and m["n_audio_tracks"] == 0


def test_sample_ranges_resolve_exact_bytes():
    blob = encode_mp4(SAMPLES, 64, 48)
    ranges = mp4_sample_ranges(blob)
    assert [sz for _, sz in ranges] == [len(s) for s in SAMPLES]
    for (off, sz), want in zip(ranges, SAMPLES):
        assert blob[off : off + sz] == want
    assert mp4_stream_bytes(blob) == b"".join(SAMPLES)


def test_stream_bytes_remux_invariant():
    """Same encoded samples, different container packaging (box order,
    free padding, brand) ⇒ different blobs, identical elementary
    stream."""
    a = encode_mp4(SAMPLES, 64, 48, moov_first=False)
    b = encode_mp4(
        SAMPLES, 64, 48, moov_first=True, free_bytes=64, brand=b"mp42",
    )
    assert a != b
    assert mp4_stream_bytes(a) == mp4_stream_bytes(b)
    c = encode_mp4(SAMPLES[:-1], 64, 48)  # one sample fewer: different
    assert mp4_stream_bytes(c) != mp4_stream_bytes(a)


def test_malformed_blobs_raise():
    blob = encode_mp4(SAMPLES, 64, 48)
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4(b"\x00" * 32)
    with pytest.raises(ValueError):
        parse_mp4(blob[:40])  # truncated mid-box
    # a sample table pointing past EOF must not silently truncate
    with pytest.raises(ValueError):
        mp4_sample_ranges(blob[: len(blob) - 4])
    # no keyframe list ⇒ None (all-sync per 14496-12), not []
    assert parse_mp4(encode_mp4(SAMPLES, 64, 48))["keyframes"] is None


def test_largesize_box_is_walked():
    """A 64-bit largesize mdat (size==1 + u64) parses identically."""
    blob = encode_mp4(SAMPLES, 64, 48, moov_first=True)
    # rewrite the trailing mdat header to the largesize form
    mdat_at = blob.rindex(b"mdat") - 4
    payload = blob[mdat_at + 8 :]
    big = (
        blob[:mdat_at]
        + struct.pack(">I", 1) + b"mdat"
        + struct.pack(">Q", 16 + len(payload)) + payload
    )
    m = parse_mp4(big)
    assert m["n_frames"] == 12
    # moov_first stco offsets still point at the ORIGINAL layout, so
    # sample ranges shift — metadata must still parse; range check is the
    # at-offset contract, not re-derived
    assert m["video_codec"] == "avc1"


def test_decode_blob_sniffs_mp4(spark):
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
    )

    d = decode_blob(encode_mp4(SAMPLES, 128, 96, fps=30.0))
    assert d["media_type"] == "video" and d["format"] == "mp4"
    assert (d["width"], d["height"]) == (128, 96)
    assert d["n_frames"] == 12 and d["codec"] == "avc1"
    assert "frames" not in d and "frame_pixels" not in d


def test_video_meta_frame_handles_mp4_and_avi():
    from evidence_datasource_parsers_spark.functions.avi import (
        decode_avi,
        encode_avi_mjpeg,
    )

    import numpy as np

    frames = [
        np.full((16, 16, 3), 30 * i % 255, dtype=np.uint8)
        for i in range(4)
    ]
    avi = decode_avi(encode_avi_mjpeg(frames, fps=10))
    assert avi["n_frames"] == 4 and avi["width"] == 16
    mp4 = parse_mp4(encode_mp4(SAMPLES, 320, 240, fps=24.0))
    assert mp4["n_frames"] == 12 and mp4["width"] == 320
    assert mp4["fps"] == pytest.approx(24.0, rel=1e-3)
    for parse in (decode_avi, parse_mp4):
        with pytest.raises(ValueError):
            parse(b"junk")


def test_stream_hash_and_remux_dedupe(spark):
    """The remux tier: same elementary stream in three different
    containers collapses to one clip; a genuinely different stream and an
    unrecognized blob both survive (NULL hash unstored)."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_remux_dedupe,
        video_stream_hash_frame,
    )

    base = encode_mp4(SAMPLES, 64, 48)
    remux_a = encode_mp4(
        SAMPLES, 64, 48, moov_first=True, free_bytes=32, brand=b"mp42"
    )
    other = encode_mp4([b"\x99" * 50] * 3, 64, 48)
    b1 = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(other))],
        "media_id long, blob binary",
    )
    hashes = {r.media_id: r for r in
              video_stream_hash_frame(b1).collect()}
    assert hashes[1].container == "mp4" and hashes[1].codec == "avc1"
    assert hashes[1].stream_hash != hashes[2].stream_hash

    r1 = incremental_remux_dedupe(b1, None)
    assert r1.fresh.count() == 2
    store = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()

    b2 = spark.createDataFrame(
        [(10, bytearray(remux_a)),       # remux of stored stream → drop
         (11, bytearray(b"not a video")),  # NULL hash → fresh, unstored
         (12, bytearray(encode_mp4([b"\x77" * 40] * 2, 32, 32)))],
        "media_id long, blob binary",
    )
    r2 = incremental_remux_dedupe(b2, store)
    assert {r.media_id for r in r2.fresh.select("media_id").collect()} \
        == {11, 12}
    new_store = r2.store.localCheckpoint(eager=True)
    r2.pinned.unpersist()
    assert {r.media_id for r in new_store.select("media_id").collect()} \
        == {1, 2, 12}


# --- review regressions (round 8): kernel exception contract ---------------


def test_empty_fullbox_at_eof_raises_valueerror():
    import struct as _s

    import pytest as _pytest

    from evidence_datasource_parsers_spark.functions.mp4 import parse_mp4

    ftyp = _s.pack(">I", 16) + b"ftyp" + b"mp42" + b"\0\0\0\0"
    mvhd = _s.pack(">I", 8) + b"mvhd"  # zero-payload fullbox at EOF
    moov = _s.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    with _pytest.raises(ValueError):
        parse_mp4(ftyp + moov)  # was IndexError: task death


def test_absurd_stsz_count_raises_before_allocating():
    import struct as _s

    import pytest as _pytest

    from evidence_datasource_parsers_spark.functions.mp4 import _stsz_sizes

    buf = b"\0\0\0\0" + _s.pack(">II", 1, 0xFFFFFFFF)
    with _pytest.raises(ValueError):
        _stsz_sizes(buf, 0, len(buf))  # was a ~34 GB list allocation
