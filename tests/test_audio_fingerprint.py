"""Audio spectral fingerprinting (operators/multimodal.py) — the fifth
modality of the fingerprint-store family: invariances (resample, level),
discrimination, pigeonhole pair search, and the incremental store."""

from __future__ import annotations

import struct

import numpy as np


def _wav(samples_f, rate=8000):
    """mono float [-1,1] → PCM16 WAV bytes."""
    pcm = np.clip(samples_f * 32767.0, -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _tone_mix(rate, seconds, freqs_amps, seed=0):
    t = np.arange(int(rate * seconds)) / rate
    x = sum(a * np.sin(2 * np.pi * f * t + 0.1 * i)
            for i, (f, a) in enumerate(freqs_amps))
    # a slow envelope so the time axis carries structure too
    x = x * (0.6 + 0.4 * np.sin(2 * np.pi * t / seconds))
    return x / (np.abs(x).max() + 1e-9) * 0.8


_SONG = [(220.0, 1.0), (550.0, 0.7), (1320.0, 0.5), (2200.0, 0.3)]
_OTHER = [(330.0, 1.0), (880.0, 0.8), (1760.0, 0.4)]


def _ham(a, b):
    return bin(a ^ b).count("1")


def test_hash_invariant_to_resample_and_level():
    from evidence_datasource_parsers_spark.operators.multimodal import (
        _audio_spectral_hash,
    )

    x8 = _tone_mix(8000, 2.0, _SONG)
    x16 = _tone_mix(16000, 2.0, _SONG)
    h8 = _audio_spectral_hash(x8, 8000)
    h16 = _audio_spectral_hash(x16, 16000)
    hq = _audio_spectral_hash(x8 * 0.25, 8000)  # level change
    other = _audio_spectral_hash(_tone_mix(8000, 2.0, _OTHER), 8000)
    assert _ham(h8, h16) <= 8       # resampled rendering: near
    assert _ham(h8, hq) <= 2        # volume change: nearly identical
    assert _ham(h8, other) >= 16    # different recording: far


def test_hash_none_for_too_short():
    from evidence_datasource_parsers_spark.operators.multimodal import (
        _audio_spectral_hash,
    )

    assert _audio_spectral_hash(np.zeros(100), 8000) is None


def test_fingerprint_frame_and_pairs(spark):
    from evidence_datasource_parsers_spark.operators.multimodal import (
        audio_fingerprint_frame,
        audio_near_dup_pairs,
    )

    rows = [
        (1, _wav(_tone_mix(8000, 2.0, _SONG), 8000)),
        (2, _wav(_tone_mix(16000, 2.0, _SONG), 16000)),  # resample of 1
        (3, _wav(_tone_mix(8000, 2.0, _OTHER), 8000)),   # distinct
        (4, b"not audio at all"),
    ]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    fp = {r["media_id"]: r["afp"] for r in
          audio_fingerprint_frame(df).collect()}
    assert fp[4] is None
    assert _ham(fp[1], fp[2]) <= 8 and _ham(fp[1], fp[3]) >= 16
    pairs = audio_near_dup_pairs(df).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].hamming == _ham(fp[1], fp[2])


def test_incremental_audio_store_two_runs(spark):
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_audio_dedupe,
    )

    r1 = incremental_audio_dedupe(
        spark.createDataFrame(
            [(1, _wav(_tone_mix(8000, 2.0, _SONG), 8000))],
            "media_id long, blob binary",
        ),
        None,
    )
    assert r1.fresh.count() == 1 and r1.store.count() == 1
    store = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()

    r2 = incremental_audio_dedupe(
        spark.createDataFrame(
            [
                (10, _wav(_tone_mix(16000, 2.0, _SONG), 16000)),  # re-render
                (11, _wav(_tone_mix(8000, 2.0, _OTHER), 8000)),   # new
                (12, b"corrupt"),                                 # pass, unstored
            ],
            "media_id long, blob binary",
        ),
        store,
    )
    fresh = {r["media_id"] for r in r2.fresh.collect()}
    assert fresh == {11, 12}
    stored = {r["media_id"] for r in r2.store.collect()}
    assert stored == {1, 11}
    r2.pinned.unpersist()


def test_warc_audio_crawl_loop(spark):
    """Crawled audio responses (WARC-style rows: record id, url, payload)
    → audio_features gives REAL WAV features; compressed codecs NULL."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        audio_features,
    )

    wav = _wav(_tone_mix(8000, 1.0, _SONG), 8000)
    media = spark.createDataFrame(
        [
            (1, "http://a.example/clip.wav", wav),
            (2, "http://a.example/x.mp3", b"\xff\xfbMP3DATA"),
        ],
        "media_id long, url string, blob binary",
    )
    stats = audio_features(media, "blob", "media_id")
    out = {r["url"]: r for r in
           media.join(stats, on="media_id", how="left").collect()}
    assert set(out) == {"http://a.example/clip.wav", "http://a.example/x.mp3"}
    clip = out["http://a.example/clip.wav"]
    assert clip["sample_rate"] == 8000 and abs(clip["duration_s"] - 1.0) < 0.01
    assert out["http://a.example/x.mp3"]["sample_rate"] is None  # NULL row
