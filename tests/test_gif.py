"""GIF codec (functions/gif.py): LZW roundtrip incl. code growth and table
resets, interlacing, transparency, sub-region frames, malformed guards, and
the Spark-side stats/pHash plumbing via decode_blob."""

from __future__ import annotations

import numpy as np
import pytest

from evidence_datasource_parsers_spark.functions.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
)


def _pal(n: int) -> np.ndarray:
    rng = np.random.RandomState(n)
    return rng.randint(0, 256, size=(n, 3)).astype(np.uint8)


def test_lzw_roundtrip_random_and_runs():
    rng = np.random.RandomState(1)
    for min_code in (2, 4, 8):
        ncol = 1 << min_code
        for seq in (
            rng.randint(0, ncol, size=5000).tolist(),   # forces code growth
            [0] * 4000,                                  # KwKwK chains
            list(range(ncol)) * 30,
            [3],
            [],
        ):
            assert _lzw_decode(_lzw_encode(seq, min_code), min_code) == seq


def test_lzw_table_reset_path():
    """> 4096 dictionary entries forces the encoder's CLEAR-reset branch;
    the decoder must resynchronize."""
    rng = np.random.RandomState(2)
    seq = rng.randint(0, 4, size=60000).tolist()
    assert _lzw_decode(_lzw_encode(seq, 2), 2) == seq


def test_gif_roundtrip_plain():
    pal = _pal(16)
    rng = np.random.RandomState(3)
    idx = rng.randint(0, 16, size=(23, 17)).astype(np.uint8)
    got = decode_gif(encode_gif(idx, pal))
    assert got.shape == (23, 17, 3)
    assert (got == pal[idx]).all()


def test_gif_roundtrip_interlaced():
    pal = _pal(8)
    rng = np.random.RandomState(4)
    idx = rng.randint(0, 8, size=(13, 9)).astype(np.uint8)
    blob = encode_gif(idx, pal, interlace=True)
    assert (decode_gif(blob) == pal[idx]).all()


def test_gif_transparency_yields_rgba():
    pal = _pal(4)
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    got = decode_gif(encode_gif(idx, pal, transparent=2))
    assert got.shape == (2, 2, 4)
    assert (got[:, :, :3] == pal[idx]).all()
    assert got[1, 0, 3] == 0 and got[0, 0, 3] == 255


def test_gif_nonsquare_palette_sizes():
    """Palette sizes that are not powers of two pad the color table; indices
    still map correctly."""
    pal = _pal(5)
    idx = np.array([[0, 4, 2]], dtype=np.uint8)
    assert (decode_gif(encode_gif(idx, pal)) == pal[idx]).all()


def test_gif_malformed_inputs_raise_valueerror():
    good = encode_gif(np.zeros((4, 4), dtype=np.uint8), _pal(4))
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"PNG stuff")
    with pytest.raises(ValueError):
        decode_gif(good[:10])            # truncated header
    with pytest.raises(ValueError):
        decode_gif(good[:-8])            # truncated LZW/sub-blocks
    # no frame before trailer
    with pytest.raises(ValueError, match="no image frame"):
        decode_gif(good[:13] + good[13 : 13 + 3 * 4] + b"\x3b")


def test_gif_flows_through_decode_blob_and_stats():
    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_blob,
    )

    pal = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)
    idx = np.tile(np.array([[0, 1]], dtype=np.uint8), (8, 4))  # 8×8
    blob = encode_gif(idx, pal)
    d = decode_blob(blob)
    assert d["media_type"] == "image" and d["format"] == "gif"
    assert (d["width"], d["height"]) == (8, 8)
    assert (d["pixels"] == pal[idx]).all()
    with pytest.raises(ValueError):  # the kernels map it to a NULL row
        decode_blob(b"GIF89a-corrupt")


def test_gif_phash_near_png_of_same_pixels(spark):
    """Format invariance across the pHash tier: the same picture as GIF
    (palette-quantized) and PNG hashes within a few bits."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        encode_png,
        image_phash_frame,
    )

    y, x = np.mgrid[0:64, 0:64]
    gray = np.clip(128 + 60 * np.sin(x / 9.0) + 50 * np.cos(y / 7.0), 0, 255)
    # 32-level quantization → palette indices
    idx = (gray / 8).astype(np.uint8)
    pal = np.stack([np.arange(32) * 8] * 3, axis=1).astype(np.uint8)
    rgb = pal[idx]
    df = spark.createDataFrame(
        [(1, encode_gif(idx, pal)), (2, encode_png(rgb))],
        "media_id long, blob binary",
    )
    fp = {r["media_id"]: r["phash"] for r in image_phash_frame(df).collect()}
    assert fp[1] is not None and fp[2] is not None
    assert bin(fp[1] ^ fp[2]).count("1") <= 4


def test_lzw_roundtrip_hypothesis():
    """Property: any index sequence below the code-size alphabet
    roundtrips through the variable-width LZW pair."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(min_value=2, max_value=8).flatmap(
            lambda mcs: st.tuples(
                st.just(mcs),
                st.lists(
                    st.integers(min_value=0, max_value=(1 << mcs) - 1),
                    max_size=600,
                ),
            )
        )
    )
    def check(case):
        mcs, seq = case
        assert _lzw_decode(_lzw_encode(seq, mcs), mcs) == seq

    check()


def test_gif_roundtrip_hypothesis():
    """Property: any (h, w) index raster over any palette size roundtrips
    through the full container (plain and interlaced)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=2, max_value=16),
        st.booleans(),
        st.randoms(use_true_random=False),
    )
    def check(h, w, ncol, interlace, rnd):
        pal = _pal(ncol)
        idx = np.array(
            [[rnd.randrange(ncol) for _ in range(w)] for _ in range(h)],
            dtype=np.uint8,
        )
        blob = encode_gif(idx, pal, interlace=interlace)
        assert (decode_gif(blob) == pal[idx]).all()

    check()
