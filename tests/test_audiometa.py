"""Compressed-audio container walks (functions/audiometa.py) and the
audio metadata / PCM-stream-hash tiers (operators/multimodal.py)."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from evidence_datasource_parsers_spark.functions.audiometa import (
    encode_flac_header,
    encode_mp3_frames,
    encode_ogg,
    parse_flac,
    parse_mp3,
    parse_ogg,
)


def _wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
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


def test_audio_meta_frame_mixed_formats(spark):
    from evidence_datasource_parsers_spark.operators.multimodal import (
        audio_meta_frame,
    )

    pcm = (np.arange(16000) % 101 - 50).astype("<i2")
    blobs = [
        (1, bytearray(_wav(pcm, rate=8000))),
        (2, bytearray(encode_mp3_frames(20, kbps=64, rate=22050))),
        (3, bytearray(encode_flac_header(rate=44100, channels=1,
                                         total_samples=44100 * 2))),
        (4, bytearray(encode_ogg("vorbis", rate=44100,
                                 total_granules=44100 * 4))),
        (5, bytearray(b"not audio at all")),
        (6, None),
    ]
    df = spark.createDataFrame(blobs, "media_id long, blob binary")
    rows = {r.media_id: r for r in audio_meta_frame(df).collect()}
    assert rows[1].format == "wav" and rows[1].duration_s == 2.0
    assert rows[2].format == "mp3" and rows[2].sample_rate == 22050
    assert rows[2].duration_s == pytest.approx(20 * 576 / 22050)
    assert rows[3].format == "flac" and rows[3].duration_s == 2.0
    assert rows[4].format == "ogg_vorbis" and rows[4].duration_s == 4.0
    assert rows[5].format is None and rows[6].format is None


def test_audio_stream_hash_wav_flac_cross_container(spark):
    """The spec-level win: a WAV and a lossless FLAC of the SAME audio
    share the PCM MD5, so cross-container re-encodes collapse in the
    exact-hash store without decoding a FLAC frame; lossy formats stay
    NULL (never stored)."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        audio_stream_hash_frame,
        incremental_remux_dedupe,
    )

    pcm = ((np.arange(4000) * 37) % 2001 - 1000).astype("<i2")
    wav = _wav(pcm, rate=8000)
    flac_same = encode_flac_header(
        rate=8000, channels=1, bits=16, total_samples=4000,
        pcm_md5=hashlib.md5(pcm.tobytes()).digest(),
    )
    other = _wav((pcm * 0 + 7).astype("<i2"), rate=8000)
    mp3 = encode_mp3_frames(5)

    b1 = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(other))],
        "media_id long, blob binary",
    )
    h1 = {r.media_id: r for r in audio_stream_hash_frame(b1).collect()}
    assert h1[1].container == "wav" and h1[1].stream_hash is not None
    assert h1[1].stream_hash != h1[2].stream_hash

    r1 = incremental_remux_dedupe(
        b1, None, batch_stream_hashes=audio_stream_hash_frame(b1)
    )
    store = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()

    b2 = spark.createDataFrame(
        [(10, bytearray(flac_same)),   # FLAC of stored WAV audio → drop
         (11, bytearray(mp3))],        # lossy: NULL hash → fresh, unstored
        "media_id long, blob binary",
    )
    h2 = {r.media_id: r for r in audio_stream_hash_frame(b2).collect()}
    assert h2[10].container == "flac"
    assert h2[10].stream_hash == h1[1].stream_hash
    assert h2[11].stream_hash is None

    r2 = incremental_remux_dedupe(
        b2, store, batch_stream_hashes=audio_stream_hash_frame(b2)
    )
    assert {r.media_id for r in r2.fresh.select("media_id").collect()} \
        == {11}
    new_store = r2.store.localCheckpoint(eager=True)
    r2.pinned.unpersist()
    assert {r.media_id for r in new_store.select("media_id").collect()} \
        == {1, 2}


def test_warc_media_audio_container_tier(spark):
    """Crawled audio responses (WARC-style rows): compressed payloads get
    container-tier rate/channels/duration + format + FLAC pcm_md5 from
    audio_meta_frame; WAV also keeps its decoded stats from
    audio_features, while the sample-derived columns of the compressed
    payloads stay NULL."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        audio_features,
        audio_meta_frame,
    )

    pcm = ((np.arange(8000) * 11) % 2001 - 1000).astype("<i2")
    media = spark.createDataFrame(
        [
            (1, "http://s/a.wav", _wav(pcm, rate=8000)),
            (2, "http://s/b.flac", encode_flac_header(
                rate=44100, channels=2, total_samples=44100 * 3,
                pcm_md5=hashlib.md5(b"x").digest(),
            )),
            (3, "http://s/c.mp3", encode_mp3_frames(30)),
        ],
        "media_id long, url string, blob binary",
    )
    meta = audio_meta_frame(media, "blob", "media_id")
    feats = audio_features(media, "blob", "media_id").select(
        "media_id", "rms"
    )
    rows = {r.url.rsplit("/", 1)[-1]: r for r in
            media.join(meta, on="media_id").join(feats, on="media_id")
            .collect()}
    wav = rows["a.wav"]
    assert wav.format == "wav" and wav.duration_s == 1.0
    assert wav.rms is not None  # decoded stats intact
    flac = rows["b.flac"]
    assert flac.format == "flac" and flac.duration_s == 3.0
    assert flac.sample_rate == 44100 and flac.channels == 2
    assert flac.pcm_md5 == hashlib.md5(b"x").digest().hex()
    assert flac.rms is None  # sample-derived columns honestly NULL
    mp3 = rows["c.mp3"]
    assert mp3.format == "mp3" and mp3.sample_rate == 44100
    assert mp3.duration_s == pytest.approx(30 * 1152 / 44100)
