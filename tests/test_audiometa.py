"""Compressed-audio container walks (functions/audiometa.py) and their
dispatch through ``multimodal.decode_blob``."""

from __future__ import annotations

import hashlib

import pytest

from evidence_datasource_parsers_spark.functions.audiometa import (
    encode_flac_header,
    encode_mp3_frames,
    encode_ogg,
    parse_flac,
    parse_mp3,
    parse_ogg,
)


def test_mp3_frame_walk():
    b = encode_mp3_frames(40, kbps=128, rate=44100, id3_bytes=128)
    m = parse_mp3(b)
    assert m["n_frames"] == 40 and m["sample_rate"] == 44100
    assert m["duration_s"] == pytest.approx(40 * 1152 / 44100)
    assert m["bitrate_kbps"] == pytest.approx(128.0)
    # trailing junk after the last frame does not break the walk
    assert parse_mp3(b + b"\x00" * 37)["n_frames"] == 40
    with pytest.raises(ValueError):
        parse_mp3(b"\x00" * 100)


def test_flac_streaminfo_and_pcm_md5():
    md5 = hashlib.md5(b"the pcm bytes").digest()
    f = encode_flac_header(
        rate=48000, channels=2, bits=24, total_samples=48000 * 5,
        pcm_md5=md5,
    )
    m = parse_flac(f)
    assert m["sample_rate"] == 48000 and m["channels"] == 2
    assert m["bits_per_sample"] == 24 and m["duration_s"] == 5.0
    assert m["pcm_md5"] == md5.hex()
    # unset MD5 (all zero) reports None, not a fake fingerprint
    assert parse_flac(encode_flac_header())["pcm_md5"] is None
    with pytest.raises(ValueError):
        parse_flac(b"fLaC")  # truncated


def test_ogg_vorbis_and_opus():
    v = parse_ogg(
        encode_ogg("vorbis", rate=22050, channels=1,
                   total_granules=22050 * 7)
    )
    assert v == {"format": "ogg_vorbis", "sample_rate": 22050,
                 "channels": 1, "duration_s": 7.0}
    o = parse_ogg(
        encode_ogg("opus", channels=2, total_granules=48000 * 3 + 312,
                   pre_skip=312)
    )
    assert o["format"] == "ogg_opus" and o["duration_s"] == 3.0
    with pytest.raises(ValueError):
        parse_ogg(b"NotOgg")


def test_decode_blob_sniffs_compressed_audio(spark):
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
    )

    f = decode_blob(encode_flac_header(rate=44100, channels=2,
                                       total_samples=44100))
    assert f["media_type"] == "audio" and f["format"] == "flac"
    assert f["duration_s"] == 1.0 and "samples" not in f
    o = decode_blob(encode_ogg("opus", total_granules=48000 + 312))
    assert o["format"] == "ogg_opus"
    m = decode_blob(encode_mp3_frames(10))
    assert m["format"] == "mp3" and m["n_frames"] == 10
    # 0xFF sync-like bytes that are NOT MPEG stay unknown, not an error
    assert decode_blob(b"\xff\xe0junkjunk")["media_type"] == "unknown"


