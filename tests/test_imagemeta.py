"""WebP/AVIF container walks (functions/imagemeta.py) and their
dispatch through the image tier (decode_blob, decoded_image_stats,
the pHash store)."""

from __future__ import annotations

import pytest

from evidence_datasource_parsers_spark.functions.imagemeta import (
    encode_avif_shell,
    encode_webp_shell,
    parse_avif,
    parse_webp,
)


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
    """decoded_image_stats reports REAL dims with honestly-NULL pixel
    stats for the meta-only tier, while the pHash store never ingests a
    fake fingerprint (NULL phash → fresh, unstored)."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decoded_image_stats,
        encode_ppm,
        incremental_phash_dedupe,
    )

    import numpy as np

    real = encode_ppm(np.full((10, 200, 3), 77, dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(encode_webp_shell(640, 480))),
         (2, bytearray(encode_webp_shell(32, 32))),
         (3, bytearray(real)),
         (4, bytearray(b"garbage"))],
        "media_id long, blob binary",
    )
    stats = {r.media_id: r for r in
             decoded_image_stats(df, "blob", "media_id").collect()}
    assert stats[1].img_format == "webp" and stats[1].width == 640
    assert stats[2].width == 32
    assert stats[1].pixel_sum is None
    assert stats[3].img_format == "ppm" and stats[3].pixel_sum == \
        77 * 10 * 200 * 3
    assert stats[4].img_format is None

    r = incremental_phash_dedupe(df, None)
    fresh = {x.media_id for x in r.fresh.select("media_id").collect()}
    assert fresh == {1, 2, 3, 4}
    # only the decodable PPM contributed a pHash to the store
    assert [x.media_id for x in r.store.select("media_id").collect()] \
        == [3]
    r.pinned.unpersist()
