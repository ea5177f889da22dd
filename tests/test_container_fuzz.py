"""Adversarial fuzz over every container parser the media kernels call.

The Arrow kernels catch ``(ValueError, struct.error)`` (plus
NotImplementedError for codecs): any OTHER exception — IndexError from
an unguarded slice, KeyError from a table lookup, OverflowError from an
absurd count — would kill the Spark task instead of yielding a NULL
row.  Random bytes and structured-fixture mutations (truncation at
every offset, single-byte flips) must therefore either parse or raise
exactly the caught types.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from evidence_datasource_parsers_spark.functions.audiometa import (
    encode_flac_header,
    encode_mp3_frames,
    encode_ogg,
    parse_flac,
    parse_mp3,
    parse_ogg,
)
from evidence_datasource_parsers_spark.functions.avi import decode_avi
from evidence_datasource_parsers_spark.functions.imagemeta import (
    parse_avif,
    parse_webp,
)
from evidence_datasource_parsers_spark.functions.mp4 import (
    encode_mp4,
    mp4_sample_ranges,
    parse_mp4,
)
from evidence_datasource_parsers_spark.functions.pdf import (
    encode_pdf,
    parse_pdf,
)
from media_shells import encode_avif_shell, encode_webp_shell

ALLOWED = (ValueError, struct.error)

PARSERS = [
    parse_mp3, parse_flac, parse_ogg, parse_webp, parse_avif,
    parse_mp4, mp4_sample_ranges, decode_avi, parse_pdf,
]

FIXTURES = [
    encode_mp3_frames(3, id3_bytes=16),
    encode_flac_header(rate=44100, channels=2, total_samples=44100),
    encode_ogg("vorbis", total_granules=44100),
    encode_ogg("opus", total_granules=48000),
    encode_webp_shell(64, 48),
    encode_webp_shell(64, 48, lossless=True, vp8x=True),
    encode_avif_shell(32, 32),
    encode_mp4([b"\x01" * 20] * 4, 64, 48, keyframes=[0, 2]),
    encode_mp4([b"\x02" * 20] * 4, 64, 48, moov_first=True),
    encode_pdf([["fuzz page one"], ["fuzz page two"]], flate=True),
    encode_pdf([["plain stream"]], flate=False, title="t"),
]


def _must_not_crash(fn, blob):
    try:
        fn(blob)
    except ALLOWED:
        pass  # the contract: parse or raise exactly these


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=512))
def test_random_bytes_never_crash(blob):
    for fn in PARSERS:
        _must_not_crash(fn, blob)


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_truncations_never_crash(data):
    fix = data.draw(st.sampled_from(FIXTURES))
    cut = data.draw(st.integers(min_value=0, max_value=len(fix)))
    for fn in PARSERS:
        _must_not_crash(fn, fix[:cut])


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_byte_flips_never_crash(data):
    fix = bytearray(data.draw(st.sampled_from(FIXTURES)))
    pos = data.draw(st.integers(min_value=0, max_value=len(fix) - 1))
    val = data.draw(st.integers(min_value=0, max_value=255))
    fix[pos] = val
    for fn in PARSERS:
        _must_not_crash(fn, bytes(fix))


def test_decode_blob_surfaces_only_null_or_dict(spark):
    """End-to-end: hostile blobs through ``decode_blob`` give a dict or a
    caught error, and a frame of them through the Arrow kernels yields
    rows (NULL where undecodable), never a task failure."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
        image_phash_frame,
        video_stream_hash_frame,
    )

    hostile = [
        b"", b"\x00" * 64, b"RIFF\xff\xff\xff\xffWEBP" + b"\x00" * 8,
        b"\x00\x00\x00\x08ftypavif",         # ftyp only, no meta
        b"fLaC" + b"\xff" * 10,              # truncated STREAMINFO
        b"OggS" + b"\x00" * 10,              # truncated page
        b"ID3\x04\x00\x00\x7f\x7f\x7f\x7f",  # tag bigger than file
        encode_mp4([b"x"] * 2, 8, 8)[:-6],   # sample table past EOF
    ]
    for blob in hostile:
        try:
            assert "media_type" in decode_blob(blob)
        except ALLOWED:
            pass
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(hostile)],
        "media_id long, blob binary",
    )
    for op in (image_phash_frame, video_stream_hash_frame):
        assert op(df, "blob", "media_id").count() == len(hostile)


def test_fixtures_all_parse_clean():
    """Sanity: unmutated fixtures parse under their own parser."""
    parse_mp3(FIXTURES[0])
    parse_flac(FIXTURES[1])
    parse_ogg(FIXTURES[2])
    parse_ogg(FIXTURES[3])
    parse_webp(FIXTURES[4])
    parse_webp(FIXTURES[5])
    parse_avif(FIXTURES[6])
    parse_mp4(FIXTURES[7])
    assert len(mp4_sample_ranges(FIXTURES[8])) == 4
    with pytest.raises(ValueError):
        parse_avif(FIXTURES[7])  # video brand rejected by the image walk
