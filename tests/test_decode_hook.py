"""The pluggable decode hook (round-6 verdict ask #3): a deployment with
PIL/ffmpeg plugs ONE top-level callable into decode_blob's dispatch and
codecs the stdlib decoders cannot parse (MP4/H.264, WebP, MP3, ...) flow
into the SAME pHash / fingerprint-store tiers with no plan change.

The fake formats here stand in for such codecs: ``FIMG`` (gray image) and
``FMP4`` (gray video, decoded frame rasters) have magics no stdlib decoder
recognizes, so WITHOUT the hook they are unknown/NULL-row blobs and WITH
it they hash, dedupe and store exactly like native formats."""

from __future__ import annotations

import os
import struct
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# The hook closes over THIS module; executors cannot import tests/*, so
# ship it by value (production hooks live in importable modules and don't
# need this — documented in decode_blob's docstring as "top-level").
from pyspark import cloudpickle  # noqa: E402

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from evidence_datasource_parsers_spark.operators.multimodal import (  # noqa: E402
    decode_blob,
    image_phash_frame,
    incremental_phash_dedupe,
)


def _gray(w: int, h: int, kind: int) -> np.ndarray:
    """Deterministic, strongly-distinct gray rasters per ``kind``."""
    y, x = np.mgrid[0:h, 0:w]
    if kind % 2 == 0:  # smooth diagonal gradient family
        px = (x * 3 + y * 5 + kind * 17) % 256
    else:  # high-frequency checker family
        px = ((x // 2 + y // 3) % 2) * 200 + (kind * 29) % 56
    return px.astype(np.uint8).reshape(h, w, 1)


def fake_image_blob(w: int = 48, h: int = 40, kind: int = 0) -> bytes:
    return b"FIMG" + struct.pack(">HH", w, h) + _gray(w, h, kind).tobytes()


def fake_video_blob(
    w: int = 48, h: int = 40, n: int = 4, kind: int = 0
) -> bytes:
    frames = b"".join(
        _gray(w, h, kind + 2 * i).tobytes() for i in range(n)
    )
    return b"FMP4" + struct.pack(">HHH", w, h, n) + frames


def fake_decode_hook(blob: bytes) -> dict | None:
    """Top-level (picklable) hook: decodes FIMG/FMP4, defers otherwise."""
    if blob[:4] == b"FIMG":
        w, h = struct.unpack(">HH", blob[4:8])
        px = np.frombuffer(blob, np.uint8, w * h, 8).reshape(h, w, 1)
        return {
            "media_type": "image", "format": "fimg",
            "width": w, "height": h, "channels": 1, "pixels": px,
        }
    if blob[:4] == b"FMP4":
        w, h, n = struct.unpack(">HHH", blob[4:10])
        sz = w * h
        pxs = [
            np.frombuffer(blob, np.uint8, sz, 10 + i * sz).reshape(h, w, 1)
            for i in range(n)
        ]
        return {
            "media_type": "video", "format": "fmp4",
            "width": w, "height": h, "n_frames": n, "fps": 10.0,
            "frame_pixels": pxs,
        }
    return None


def test_decode_blob_hook_dispatch():
    """Hook wins on its magics, defers (None) to stdlib on everything
    else; without a hook the fake formats are unknown."""
    img = fake_image_blob(kind=0)
    d = decode_blob(img, fake_decode_hook)
    assert d["media_type"] == "image" and d["format"] == "fimg"
    assert d["pixels"].shape == (40, 48, 1)
    assert decode_blob(img)["media_type"] == "unknown"
    vid = fake_video_blob(kind=0)
    dv = decode_blob(vid, fake_decode_hook)
    assert dv["media_type"] == "video" and dv["n_frames"] == 4
    # stdlib formats still decode THROUGH the hook (it defers)
    ppm = b"P6\n2 2\n255\n" + bytes(12)
    assert decode_blob(ppm, fake_decode_hook)["format"] == "ppm"


def test_image_stats_and_phash_via_hook(spark):
    """image_phash_frame produces REAL rows for hook-only formats, NULL
    rows without the hook."""
    df = spark.createDataFrame(
        [(1, fake_image_blob(kind=0)), (2, b"garbage")],
        "media_id long, blob binary",
    )
    ph = {
        r["media_id"]: r["phash"]
        for r in image_phash_frame(
            df, decode_hook=fake_decode_hook
        ).collect()
    }
    assert ph[1] is not None and ph[2] is None
    no_hook = {
        r["media_id"]: r["phash"] for r in image_phash_frame(df).collect()
    }
    assert no_hook[1] is None  # unknown without the hook


def test_incremental_phash_dedupe_with_hook(spark):
    """Hook-decoded FIMG images flow into the pHash store: run 2 drops a
    re-crawl of the stored image and stores every fresh one."""
    r1 = incremental_phash_dedupe(
        spark.createDataFrame(
            [(1, fake_image_blob(w=48, h=40, kind=0))],
            "media_id long, blob binary",
        ),
        None,
        decode_hook=fake_decode_hook,
    )
    assert {r["media_id"] for r in r1.fresh.collect()} == {1}
    store = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()

    r2 = incremental_phash_dedupe(
        spark.createDataFrame(
            [
                (10, fake_image_blob(w=48, h=40, kind=0)),  # re-crawl → drop
                (11, fake_image_blob(w=48, h=40, kind=1)),  # fresh
                (12, fake_image_blob(w=16, h=40, kind=3)),  # fresh
            ],
            "media_id long, blob binary",
        ),
        store,
        decode_hook=fake_decode_hook,
    )
    assert {r["media_id"] for r in r2.fresh.collect()} == {11, 12}
    assert {r["media_id"] for r in r2.store.collect()} == {1, 11, 12}
    r2.pinned.unpersist()


