"""WebP/AVIF container walks (functions/imagemeta.py) and their
dispatch through the image tier (decode_blob, the pHash store)."""

from __future__ import annotations

import pytest

from evidence_datasource_parsers_spark.functions.imagemeta import (
    parse_avif,
    parse_webp,
)
from media_shells import encode_avif_shell, encode_webp_shell


def test_webp_variants():
    lossy = parse_webp(encode_webp_shell(320, 240))
    assert lossy == {"format": "webp", "width": 320, "height": 240,
                     "has_alpha": False, "animated": False}
    ll = parse_webp(encode_webp_shell(100, 50, lossless=True, alpha=True))
    assert ll["format"] == "webp_lossless"
    assert (ll["width"], ll["height"]) == (100, 50) and ll["has_alpha"]
    # VP8X canvas wins over the bitstream header and carries flags
    x = parse_webp(
        encode_webp_shell(1920, 1080, vp8x=True, animated=True)
    )
    assert (x["width"], x["height"]) == (1920, 1080) and x["animated"]
    with pytest.raises(ValueError):
        parse_webp(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        parse_webp(encode_webp_shell(8, 8)[:-6])  # truncated chunk


def test_avif_and_heic():
    a = parse_avif(encode_avif_shell(800, 600))
    assert a == {"format": "avif", "width": 800, "height": 600}
    h = parse_avif(encode_avif_shell(64, 64, brand=b"heic"))
    assert h["format"] == "heic"
    with pytest.raises(ValueError, match="brand"):
        parse_avif(
            b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00"
        )  # video brand routes elsewhere
    with pytest.raises(ValueError):
        parse_avif(encode_avif_shell(8, 8)[:20])


def test_decode_blob_routes_image_vs_video_brands(spark):
    from evidence_datasource_parsers_spark.functions.mp4 import encode_mp4
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
    )

    w = decode_blob(encode_webp_shell(12, 34))
    assert w["media_type"] == "image" and w["format"] == "webp"
    assert (w["width"], w["height"]) == (12, 34) and "pixels" not in w
    a = decode_blob(encode_avif_shell(56, 78))
    assert a["media_type"] == "image" and a["format"] == "avif"
    v = decode_blob(encode_mp4([b"\x01" * 10] * 3, 64, 48))
    assert v["media_type"] == "video" and v["format"] == "mp4"


def test_image_stats_on_container_dims(spark):
    """decode_blob reports REAL dims with no pixels for the meta-only
    tier, while the pHash store never ingests a fake fingerprint (NULL
    phash → fresh, unstored)."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
        incremental_phash_dedupe,
    )

    import numpy as np

    px = np.full((10, 200, 3), 77, dtype=np.uint8)
    real = b"P6\n200 10\n255\n" + px.tobytes()
    blobs = [encode_webp_shell(640, 480), encode_webp_shell(32, 32), real,
             b"garbage"]
    meta = [decode_blob(b) for b in blobs]
    assert meta[0]["format"] == "webp" and meta[0]["width"] == 640
    assert meta[1]["width"] == 32
    assert "pixels" not in meta[0]
    assert meta[2]["format"] == "ppm"
    assert int(meta[2]["pixels"].astype(int).sum()) == 77 * 10 * 200 * 3
    assert meta[3]["media_type"] == "unknown"

    df = spark.createDataFrame(
        [(i + 1, bytearray(b)) for i, b in enumerate(blobs)],
        "media_id long, blob binary",
    )

    r = incremental_phash_dedupe(df, None)
    fresh = {x.media_id for x in r.fresh.select("media_id").collect()}
    assert fresh == {1, 2, 3, 4}
    # only the decodable PPM contributed a pHash to the store
    assert [x.media_id for x in r.store.select("media_id").collect()] \
        == [3]
    r.pinned.unpersist()
