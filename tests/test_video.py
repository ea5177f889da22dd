"""MJPEG-AVI video tier (functions/avi.py + operators/multimodal.py):
container roundtrip, DHT-stripped frames via the Annex K defaults, and
``decode_blob`` dispatch."""

from __future__ import annotations

import numpy as np
import pytest

from evidence_datasource_parsers_spark.functions.avi import (
    decode_avi,
    encode_avi_mjpeg,
    strip_jpeg_dht,
)
from evidence_datasource_parsers_spark.functions.jpeg import decode_jpeg


def _clip(seed: int, n_frames: int = 6, size: int = 64):
    """A deterministic 'video': a slowly drifting 2-D wave, one phase per
    frame — low-frequency enough that a q60 re-encode stays within a few
    pHash bits per frame while different seeds land tens apart."""
    y, x = np.mgrid[0:size, 0:size]
    frames = []
    for t in range(n_frames):
        p = np.clip(
            128
            + 60 * np.sin(x / (9.0 + seed) + t * 0.3)
            + 50 * np.cos(y / (7.0 + seed) - t * 0.2)
            + 20 * np.sin(x * y / (301.0 + 40 * seed)),
            0, 255,
        )
        frames.append(
            np.stack([p, p * 0.8 + 20, p * 0.6 + 40], axis=2).astype(np.uint8)
        )
    return frames


def test_avi_container_roundtrip():
    frames = _clip(0)
    blob = encode_avi_mjpeg(frames, fps=10, quality=95)
    v = decode_avi(blob)
    assert v["n_frames"] == 6 and abs(v["fps"] - 10.0) < 1e-6
    assert (v["width"], v["height"]) == (64, 64)
    for i, fb in enumerate(v["frames"]):
        px = decode_jpeg(fb)
        err = np.abs(px.astype(float) - frames[i].astype(float))
        assert err.max() < 16  # q95 on smooth content


def test_mjpeg_frames_without_dht_decode_with_defaults():
    """The in-the-wild MJPEG convention: frames omit DHT; decode_jpeg must
    reproduce the full-stream decode exactly from the Annex K defaults
    (the encoder USES those tables, so the bits are identical)."""
    frames = _clip(1, n_frames=2)
    full = encode_avi_mjpeg(frames, quality=92)
    stripped = encode_avi_mjpeg(frames, quality=92, strip_dht=True)
    assert len(stripped) < len(full)
    vf, vs = decode_avi(full), decode_avi(stripped)
    assert b"\xff\xc4" not in vs["frames"][0][:2000].split(b"\xff\xda")[0]
    for fb_full, fb_str in zip(vf["frames"], vs["frames"]):
        with pytest.raises(ValueError):  # strict mode: missing DHT is corrupt
            decode_jpeg(fb_str)
        assert np.array_equal(
            decode_jpeg(fb_str, default_tables=True), decode_jpeg(fb_full)
        )


def test_decode_avi_malformed():
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi(b"RIFF\x00\x00\x00\x00WAVE")
    blob = encode_avi_mjpeg(_clip(0, 2))
    with pytest.raises(ValueError):
        decode_avi(blob[:40])  # truncated inside the header chunks
    # container with no movi frames
    empty = blob[:12] + b""
    with pytest.raises(ValueError):
        decode_avi(empty)


def test_decode_blob_dispatches_avi():
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
    )

    d = decode_blob(encode_avi_mjpeg(_clip(2, 3), fps=5))
    assert d["media_type"] == "video" and d["format"] == "avi_mjpeg"
    assert d["n_frames"] == 3 and abs(d["fps"] - 5.0) < 1e-6
    assert len(d["frames"]) == 3


def test_strip_jpeg_dht_only_removes_dht():
    from evidence_datasource_parsers_spark.functions.jpeg import encode_jpeg

    blob = encode_jpeg(_clip(0, 1)[0], quality=90)
    stripped = strip_jpeg_dht(blob)
    head = stripped.split(b"\xff\xda")[0]
    assert b"\xff\xc4" not in head and b"\xff\xdb" in head  # DQT kept
    assert stripped.split(b"\xff\xda", 1)[1] == blob.split(b"\xff\xda", 1)[1]


