"""Baseline JPEG codec (functions/jpeg.py): roundtrip accuracy, subsampling,
restart-marker resync, honest unsupported-variant guards, dispatch through
operators/multimodal.decode_blob, and the image pHash frame and stores."""

from __future__ import annotations

import numpy as np
import pytest

from evidence_datasource_parsers_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg,
)


def _smooth_rgb(h: int, w: int) -> np.ndarray:
    """A low-frequency test image (JPEG-friendly: bounded roundtrip error)."""
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            128 + 80 * np.sin(x / 17.0),
            128 + 80 * np.cos(y / 13.0),
            128 + 60 * np.sin((x + y) / 23.0),
        ],
        axis=2,
    )
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def test_flat_image_roundtrips_exactly():
    """A flat block has only a DC coefficient and the q95 luma quantizer
    (2) divides 8·(v−128), so decode must reproduce every gray level
    EXACTLY — the property the q62 oracle leg relies on."""
    for g in (0, 1, 77, 128, 200, 255):
        img = np.full((16, 24, 3), g, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=95))
        assert out.shape == (16, 24, 3)
        assert int(np.abs(out.astype(int) - g).max()) == 0


@pytest.mark.parametrize("subsampling", ["4:4:4", "4:2:2", "4:2:0"])
@pytest.mark.parametrize("restart", [0, 3])
def test_smooth_roundtrip_within_tolerance(subsampling, restart):
    img = _smooth_rgb(50, 70)  # odd dims: exercises padding + crop
    blob = encode_jpeg(
        img, quality=92, restart_interval=restart, subsampling=subsampling
    )
    out = decode_jpeg(blob)
    assert out.shape == img.shape
    err = np.abs(out.astype(float) - img.astype(float))
    # smooth content: tight bound at 4:4:4, looser with subsampled chroma
    assert err.mean() < (1.5 if subsampling == "4:4:4" else 4.0)
    assert err.max() < (12 if subsampling == "4:4:4" else 40)


def test_grayscale_single_component():
    g = (np.mgrid[0:20, 0:24][0] * 5 % 200).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=95))
    assert out.shape == (20, 24, 1)
    assert np.abs(out[:, :, 0].astype(float) - g).max() <= 2


def test_quality_tradeoff_monotone():
    img = _smooth_rgb(48, 48)
    sizes, errs = [], []
    for q in (30, 60, 90):
        blob = encode_jpeg(img, quality=q)
        sizes.append(len(blob))
        errs.append(
            np.abs(decode_jpeg(blob).astype(float) - img.astype(float)).mean()
        )
    assert sizes[0] < sizes[1] < sizes[2]  # more quality → more bytes
    assert errs[0] > errs[2]  # more quality → less error


@pytest.mark.parametrize("subsampling", ["4:4:4", "4:2:2", "4:2:0"])
def test_progressive_roundtrip_matches_baseline_exactly(subsampling):
    """The progressive encoder's scan script (DC+AC first passes at Al=1,
    refinements to Al=0) reconstructs the identical coefficients as the
    baseline writer, so progressive decode must be bit-for-bit equal to
    baseline decode of the same pixels at the same quality."""
    from evidence_datasource_parsers_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    img = _smooth_rgb(50, 70)  # odd dims: padding + crop
    blob = encode_jpeg_progressive(img, quality=85, subsampling=subsampling)
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob  # really SOF2
    assert blob.count(b"\xff\xda") == 9  # multi-scan script
    base = decode_jpeg(encode_jpeg(img, quality=85, subsampling=subsampling))
    assert np.array_equal(decode_jpeg(blob), base)


def test_progressive_grayscale_noninterleaved_dc():
    """Grayscale progressive: every scan (including DC) is single-component
    → the decoder's non-interleaved raster path, 4-scan script."""
    from evidence_datasource_parsers_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    g = (np.mgrid[0:21, 0:29][0] * 7 % 220).astype(np.uint8)
    blob = encode_jpeg_progressive(g, quality=90)
    assert blob.count(b"\xff\xda") == 4
    base = decode_jpeg(encode_jpeg(g, quality=90))
    assert np.array_equal(decode_jpeg(blob), base)


def test_progressive_highfrequency_content():
    """Random pixels maximize nonzero AC coefficients — the refinement
    pass's ZRL/correction-bit/EOB-tail branches all fire."""
    from evidence_datasource_parsers_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(40, 33, 3)).astype(np.uint8)
    for sub in ("4:4:4", "4:2:0"):
        base = decode_jpeg(encode_jpeg(img, quality=92, subsampling=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, 92, sub))
        assert np.array_equal(base, prog)


def test_truncated_scan_raises_valueerror():
    blob = encode_jpeg(_smooth_rgb(32, 32))
    with pytest.raises(ValueError):
        decode_jpeg(blob[: len(blob) // 2])
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")


def test_malformed_inputs_normalize_to_valueerror():
    """Every malformed-input failure mode must surface as ValueError, not
    IndexError/KeyError/StopIteration — the multimodal kernels' except
    tuples rely on it (one corrupt crawl image must not fail a task)."""
    good = encode_jpeg(_smooth_rgb(16, 16))

    # truncated SOF segment: seg[0] would IndexError
    i = good.find(b"\xff\xc0")
    trunc_sof = good[: i + 4]
    with pytest.raises(ValueError):
        decode_jpeg(trunc_sof)

    # SOS before any SOF: component lookup must not StopIteration
    j = good.find(b"\xff\xda")
    no_sof = good[:i] + good[j:]
    with pytest.raises(ValueError):
        decode_jpeg(no_sof)

    # SOS referencing a DHT id that was never defined
    k = good.find(b"\xff\xc4")
    no_dht = bytearray(good)
    # retarget every scan-component entry at table id 3 (undefined)
    ns = no_dht[j + 4]
    for ci in range(ns):
        no_dht[j + 6 + 2 * ci] = 0x33
    with pytest.raises(ValueError):
        decode_jpeg(bytes(no_dht))
    assert k > 0  # file really had DHTs to mis-reference

    # empty / tiny blobs
    for b in (b"", b"\xff", b"\xff\xd8", b"\xff\xd8\xff"):
        with pytest.raises(ValueError):
            decode_jpeg(b)


def test_decode_blob_dispatches_jpeg():
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
    )

    img = np.full((8, 8, 3), 99, dtype=np.uint8)
    d = decode_blob(encode_jpeg(img, quality=95))
    assert d["media_type"] == "image" and d["format"] == "jpeg"
    assert (d["width"], d["height"], d["channels"]) == (8, 8, 3)
    assert int(d["pixels"].astype(int).sum()) == 99 * 8 * 8 * 3


def _ppm(pixels) -> bytes:
    """(h, w, 3) uint8 array → binary PPM (P6, maxval 255)."""
    h, w = pixels.shape[0], pixels.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def _photo():
    import numpy as np

    y, x = np.mgrid[0:64, 0:64]
    p = np.clip(
        128 + 60 * np.sin(x / 9.0) + 50 * np.cos(y / 7.0)
        + 20 * np.sin((x * y) / 301.0),
        0, 255,
    )
    return np.stack([p, p * 0.8 + 20, p * 0.6 + 40], axis=2).astype(np.uint8)


def _other_photo():
    """Structurally DIFFERENT content (a phase shift of the same function
    would — correctly — still hash nearby; pHash keys on structure)."""
    import numpy as np

    y, x = np.mgrid[0:64, 0:64]
    p = np.clip(128 + 70 * np.cos(x / 5.0) - 40 * np.sin(y / 11.0), 0, 255)
    return np.stack([p] * 3, axis=2).astype(np.uint8)


def test_image_phash_near_dup_vs_distinct(spark):
    """Perceptual hashing: a JPEG re-encode of the same photo lands within
    a few bits; a different photo lands tens of bits away; corrupt blobs
    yield NULL."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        image_phash_frame,
    )

    photo, other = _photo(), _other_photo()
    rows = [
        (1, encode_jpeg(photo, quality=95)),
        (2, encode_jpeg(photo, quality=60)),   # re-encode (near-dup)
        (3, encode_jpeg(other, quality=95)),   # distinct
        (4, b"\xff\xd8\xffbroken"),
    ]
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    fp = {r.media_id: r.phash for r in image_phash_frame(df).collect()}
    assert fp[4] is None
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fp[1], fp[2]) <= 6
    assert ham(fp[1], fp[3]) >= 20


def test_image_phash_format_invariant(spark):
    """The same pixels through different containers (PPM vs lossless-ish
    JPEG q95) hash within a couple of bits — pHash keys on content, not
    encoding."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        image_phash_frame,
    )

    photo = _photo()
    df = spark.createDataFrame(
        [(1, _ppm(photo)), (2, encode_jpeg(photo, quality=95))],
        "media_id long, blob binary",
    )
    fp = {r.media_id: r.phash for r in image_phash_frame(df).collect()}
    assert bin(fp[1] ^ fp[2]).count("1") <= 4


def test_incremental_phash_dedupe_two_runs(spark):
    """The perceptual store across two refresh runs: run 1 seeds the store;
    run 2's re-encoded copy of a stored photo drops, its genuinely new
    photo survives, its undecodable blob passes through unstored, and the
    store grows by exactly the survivors with hashes."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_phash_dedupe,
    )

    photo, other = _photo(), _other_photo()
    run1 = spark.createDataFrame(
        [(1, encode_jpeg(photo, quality=95))], "media_id long, blob binary"
    )
    r1 = incremental_phash_dedupe(run1, None)
    assert r1.fresh.count() == 1 and r1.store.count() == 1
    store = r1.store.localCheckpoint(eager=True)
    r1.pinned.unpersist()

    run2 = spark.createDataFrame(
        [
            (10, encode_jpeg(photo, quality=60)),  # re-encode → drop
            (11, encode_jpeg(other, quality=95)),  # new → keep
            (12, encode_jpeg(other, quality=90)),  # within-batch near-dup of
                                                   # 11: kept (at-rest scope)
            (13, b"\xff\xd8\xffbroken"),           # undecodable → keep, unstored
        ],
        "media_id long, blob binary",
    )
    r2 = incremental_phash_dedupe(run2, store)
    fresh_ids = {r["media_id"] for r in r2.fresh.collect()}
    # 10 drops against the store; 11 survives; 13 passes through; 12 is
    # within-batch near-dup scope — kept UNLESS its pHash exactly equals
    # 11's (then the in-batch exact collapse keeps only 11)
    assert 10 not in fresh_ids
    assert {11, 13} <= fresh_ids <= {11, 12, 13}
    stored = {r["media_id"] for r in r2.store.collect()}
    assert 1 in stored and 11 in stored
    assert 10 not in stored and 13 not in stored  # dropped / NULL pHash
    r2.pinned.unpersist()


def test_incremental_phash_within_batch_exact_collapse(spark):
    """Bit-identical blobs in ONE batch collapse to the min id before the
    store join."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_phash_dedupe,
    )

    blob = encode_jpeg(_photo(), quality=95)
    batch = spark.createDataFrame(
        [(5, blob), (2, blob), (9, blob)], "media_id long, blob binary"
    )
    r = incremental_phash_dedupe(batch, None)
    assert {x["media_id"] for x in r.fresh.collect()} == {2}
    r.pinned.unpersist()


def test_image_phash_frame_string_ids(spark):
    """ADVICE r5: media ids are often URLs/uuids — the pHash frame must
    derive the id column type from the input schema instead of assuming
    long."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        image_phash_frame,
    )

    photo = _photo()
    df = spark.createDataFrame(
        [("http://a/x.jpg", encode_jpeg(photo, quality=95)),
         ("http://a/y.jpg", b"broken")],
        "media_id string, blob binary",
    )
    fp = {r["media_id"]: r["phash"] for r in image_phash_frame(df).collect()}
    assert fp["http://a/x.jpg"] is not None
    assert fp["http://a/y.jpg"] is None
