"""Media decoders of operators/multimodal.py and their ``decode_blob``
dispatch: PPM (8/16-bit), BMP (24-bit, 8-bit palette, RLE8), PCM16 WAV,
PNG (every color type, depth and filter, Adam7) and the synthetic MM01
container, all pure Python; truncated and unsupported inputs raise."""

from __future__ import annotations

import struct

import pytest

from evidence_datasource_parsers_spark.operators.multimodal import (
    decode_blob,
    decode_bmp,
    decode_ppm,
    decode_wav,
)


def _checker_ppm(w=4, h=2):
    import numpy as np

    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[::2, ::2] = [255, 0, 0]
    px[1::2, 1::2] = [0, 0, 255]
    return px, b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def test_decode_ppm_roundtrip_with_comments():
    import numpy as np

    px, blob = _checker_ppm()
    assert (decode_ppm(blob) == px).all()
    # netpbm allows comments and arbitrary whitespace inside the header
    commented = b"P6 # a comment\n# another\n 4\t2 #w h\n255\n" + px.tobytes()
    assert (decode_ppm(commented) == px).all()


def test_decode_bmp_bottom_up_with_padding():
    import numpy as np

    # 3x2 24-bit BMP: stride pads 9-byte rows to 12; bottom-up row order
    px = np.arange(3 * 2 * 3, dtype=np.uint8).reshape(2, 3, 3)
    stride = 12
    raster = b""
    for row in px[::-1]:  # file stores bottom row first
        raster += row[:, ::-1].tobytes().ljust(stride, b"\0")  # RGB→BGR
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(raster),
                      2835, 2835, 0, 0)
    )
    assert (decode_bmp(header + raster) == px).all()


def _bmp8(idx, pal, compression, rle_payload=None):
    """8-bit BMP builder: palette BI_RGB (rows padded) or BI_RLE8 with a
    caller-supplied escape stream."""
    import numpy as np

    h, w = idx.shape
    pal_bytes = b"".join(
        bytes((int(b), int(g), int(r), 0)) for r, g, b in pal
    )
    if compression == 0:
        stride = (w + 3) & ~3
        raster = b"".join(
            bytes(row).ljust(stride, b"\0") for row in idx[::-1]
        )
    else:
        raster = rle_payload
    off = 54 + len(pal_bytes)
    return (
        b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, compression,
                      len(raster), 2835, 2835, len(pal), 0)
        + pal_bytes + raster
    )


def test_decode_bmp_8bit_palette():
    import numpy as np

    pal = np.array([[250, 10, 20], [0, 200, 0], [5, 5, 250]], dtype=np.uint8)
    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)
    got = decode_bmp(_bmp8(idx, pal, 0))
    assert (got == pal[idx]).all()


def test_decode_bmp_rle8_all_escapes():
    """RLE8: encoded runs, an absolute run (word-aligned), end-of-line,
    a delta jump (skipped pixels stay index 0), end-of-bitmap."""
    import numpy as np

    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    # visual target (3 rows × 6 cols), built bottom-up by the stream:
    # bottom row: 4×1 then 2×2 ; middle row: absolute [3,2,1] then delta
    # skips to EOL; top row: 6×3
    rle = bytes(
        [4, 1, 2, 2, 0, 0]            # row 0 (bottom): runs + EOL
        + [0, 3, 3, 2, 1, 0, 0, 2, 2, 0, 0, 0]  # row 1: absolute(3)+pad, delta(2,0), EOL
        + [6, 3, 0, 1]                # row 2 (top): run + EOB
    )
    got = decode_bmp(_bmp8(np.zeros((3, 6), np.uint8), pal, 1, rle))
    want_bottom = pal[np.array([1, 1, 1, 1, 2, 2])]
    want_middle = pal[np.array([3, 2, 1, 0, 0, 0])]  # delta leaves zeros
    want_top = pal[np.array([3] * 6)]
    assert (got[2] == want_bottom).all()
    assert (got[1] == want_middle).all()
    assert (got[0] == want_top).all()


def test_decode_bmp_unsupported_variants_still_guarded():
    import numpy as np
    import pytest

    pal = np.array([[1, 2, 3]], dtype=np.uint8)
    blob = bytearray(_bmp8(np.zeros((1, 1), np.uint8), pal, 0))
    blob[28:30] = struct.pack("<H", 4)  # 4bpp
    with pytest.raises(NotImplementedError, match="unsupported BMP"):
        decode_bmp(bytes(blob))
    # palette index past the declared table is corrupt data
    bad = _bmp8(np.array([[5]], dtype=np.uint8), pal, 0)
    with pytest.raises(ValueError, match="palette index"):
        decode_bmp(bad)


def test_decode_wav_pcm16():
    import numpy as np

    samples = np.array([[0, 1], [-2, 3], [100, -100]], dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    rate, ch, got = decode_wav(blob)
    assert (rate, ch) == (8000, 2)
    assert (got == samples).all()
    d = decode_blob(blob)
    assert d["media_type"] == "audio" and d["sample_rate"] == 8000


def test_decode_blob_compressed_raises():
    # JPEG and PNG are both decoded natively now — a signature with no
    # valid structure behind it is MALFORMED input, not an unsupported
    # codec, so both raise ValueError (the kernels map it to null rows)
    with pytest.raises(ValueError):
        decode_blob(b"\xff\xd8\xff\xe0....")
    with pytest.raises(ValueError, match="missing IHDR"):
        decode_blob(b"\x89PNG\r\n\x1a\n....")
    assert decode_blob(b"garbage")["media_type"] == "unknown"
    assert decode_blob(None)["media_type"] == "unknown"


def test_decoders_reject_truncated_blobs_without_hanging():
    """Truncated headers must raise ValueError promptly — decode_ppm
    previously infinite-looped on b'P6', and short BMP/WAV/MM01 buffers
    raised struct.error through the kernels."""
    for blob in (b"P6", b"P6 4", b"P6\n4 2\n255\n\x00\x00"):
        with pytest.raises(ValueError):
            decode_ppm(blob)
    with pytest.raises(ValueError):
        decode_bmp(b"BM")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")
    # sample_rate=0 WAV: rejected at decode, not a ZeroDivisionError later
    bad_fmt = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_fmt) + 8)
        + b"WAVE" + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="invalid WAV fmt"):
        decode_wav(blob)
    assert decode_blob(b"MM01\x00")["media_type"] == "unknown"


# ---------------------------------------------------------------------------
# PNG decoder
# ---------------------------------------------------------------------------


def _png_with_filters(px, filters):
    """Test-side PNG writer applying a CHOSEN filter type per scanline —
    the independent filterer that proves decode_png inverts all five
    transforms (the library encoder only emits filter 0)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        raw.append(f)
        for i in range(len(row)):
            a = int(row[i - c]) if i >= c else 0
            b = int(prev[i])
            cc = int(prev[i - c]) if i >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            raw.append((int(row[i]) - pred) & 0xFF)
        prev = row

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_all_channel_counts():
    import numpy as np

    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    for c in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(5, 4, c), dtype=np.uint8)
        got = decode_png(encode_png(px))
        assert got.shape == (5, 4, c)
        assert (got == px).all()
        d = decode_blob(encode_png(px))
        assert d["format"] == "png" and d["channels"] == c
        assert (d["pixels"] == px).all()


def test_png_unfilters_all_five_filter_types():
    import numpy as np

    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_png,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(10, 7, 3), dtype=np.uint8)
    # each scanline gets a different filter, cycling through all five
    blob = _png_with_filters(px, [0, 1, 2, 3, 4])
    assert (decode_png(blob) == px).all()
    # single-filter renderings too (filter interactions with prev rows)
    for f in (1, 2, 3, 4):
        assert (decode_png(_png_with_filters(px, [f])) == px).all()


def test_png_unsupported_variants_raise():
    import struct
    import zlib

    import numpy as np
    import pytest

    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    sig = b"\x89PNG\r\n\x1a\n"
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a")
    # 16-bit palette is an illegal combination (16-bit proper decodes
    # since round 6 — see test_png_16bit_high_byte)
    ihdr16p = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    with pytest.raises(ValueError, match="16-bit palette"):
        decode_png(sig + chunk(b"IHDR", ihdr16p) + chunk(b"IDAT", b"x"))
    # palette color type without its PLTE chunk
    ihdr_pal = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    with pytest.raises(ValueError, match="without PLTE"):
        decode_png(sig + chunk(b"IHDR", ihdr_pal) + chunk(b"IDAT", b"x"))
    # invalid interlace method (0 and 1 are both decoded since round 6)
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 7)
    with pytest.raises(ValueError, match="interlace"):
        decode_png(sig + chunk(b"IHDR", ihdr_i) + chunk(b"IDAT", b"x"))
    # truncated raster: half the scanlines missing
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    ok = encode_png(px)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    short = zlib.compress(b"\x00" + b"\x00" * 12)  # 1 row of 4
    with pytest.raises(ValueError, match="truncated PNG raster"):
        decode_png(sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", short))
    # corrupt deflate stream
    with pytest.raises(ValueError, match="corrupt PNG IDAT"):
        decode_png(sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"\x00bad"))
    assert decode_png(ok).shape == (4, 4, 3)


def _png_raw(w, h, depth, color, interlace, raw, plte=None, trns=None):
    """Hand-assembled PNG from a pre-built filtered raster."""
    import struct
    import zlib

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    out = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    )
    if plte is not None:
        out += chunk(b"PLTE", plte)
    if trns is not None:
        out += chunk(b"tRNS", trns)
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_palette_roundtrip_with_and_without_trns():
    """Color type 3: indices map through PLTE; tRNS adds per-entry alpha
    (missing entries default opaque)."""
    import numpy as np

    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]], dtype=np.uint8
    )
    rng = np.random.RandomState(3)
    idx = rng.randint(0, 4, size=(6, 5)).astype(np.uint8)
    got = decode_png(encode_png(idx, palette=pal))
    assert got.shape == (6, 5, 3)
    assert (got == pal[idx]).all()
    # tRNS covering only the first two entries; rest default to 255
    rgba = decode_png(encode_png(idx, palette=pal, transparency=b"\x00\x80"))
    assert rgba.shape == (6, 5, 4)
    assert (rgba[:, :, :3] == pal[idx]).all()
    alpha = np.array([0, 0x80, 255, 255], dtype=np.uint8)
    assert (rgba[:, :, 3] == alpha[idx]).all()
    # out-of-range index is corrupt data, not a crash elsewhere
    import pytest

    bad = np.full((2, 2), 7, dtype=np.uint8)
    with pytest.raises(ValueError, match="palette index"):
        decode_png(encode_png(bad, palette=pal))


def test_png_subbyte_depths():
    """Depths 1/2/4: palette indices unpack MSB-first with row padding
    discarded; sub-byte grays rescale to the full 0–255 range."""
    import numpy as np

    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_png,
    )

    def pack_rows(vals, depth):
        per = 8 // depth
        h, w = vals.shape
        raw = bytearray()
        for y in range(h):
            raw.append(0)  # filter None
            byte, nin = 0, 0
            for x in range(w):
                byte = (byte << depth) | int(vals[y, x])
                nin += 1
                if nin == per:
                    raw.append(byte)
                    byte, nin = 0, 0
            if nin:
                raw.append(byte << (depth * (per - nin)))
        return bytes(raw)

    pal = np.array(
        [[i * 16, 255 - i * 16, i] for i in range(16)], dtype=np.uint8
    )
    rng = np.random.RandomState(5)
    for depth in (1, 2, 4):
        n = 1 << depth
        idx = rng.randint(0, n, size=(5, 7))  # 7 wide: padding bits in play
        blob = _png_raw(
            7, 5, depth, 3, 0, pack_rows(idx, depth), plte=pal[:n].tobytes()
        )
        assert (decode_png(blob) == pal[:n][idx]).all()
        # grayscale at the same depth: values rescale by 255/(2^d - 1)
        gblob = _png_raw(7, 5, depth, 0, 0, pack_rows(idx, depth))
        expect = (idx * 255 // (n - 1)).astype(np.uint8)[:, :, None]
        assert (decode_png(gblob) == expect).all()


def test_png_16bit_high_byte():
    """Depth 16: big-endian sample pairs downscale via the high byte; the
    filter distance is 2 bytes per sample (Sub filter must not mix the
    two bytes of one sample with its neighbor's)."""
    import numpy as np

    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_png,
    )

    rng = np.random.RandomState(21)
    hi = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint16)
    px16 = (hi << 8) | rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint16)
    raw = b"".join(
        b"\x00" + px16[y].astype(">u2").tobytes() for y in range(4)
    )
    blob = _png_raw(5, 4, 16, 2, 0, raw)
    assert (decode_png(blob) == hi.astype(np.uint8)[:, :, :]).all()
    # 16-bit gray+alpha too
    ga16 = (hi[:, :, :2] << 8) | 0x7F
    raw_ga = b"".join(
        b"\x00" + ga16[y].astype(">u2").tobytes() for y in range(4)
    )
    got = decode_png(_png_raw(5, 4, 16, 4, 0, raw_ga))
    assert got.shape == (4, 5, 2)
    assert (got == hi[:, :, :2].astype(np.uint8)).all()


def test_ppm_16bit_maxval_scales():
    """P6 with maxval > 255: two-byte big-endian samples, scaled against
    the actual maxval with rounding."""
    import numpy as np

    from evidence_datasource_parsers_spark.operators.multimodal import (
        decode_ppm,
    )

    vals = np.array(
        [[[0, 1000, 65535], [32768, 12345, 500]]], dtype=np.uint16
    )  # (1, 2, 3)
    blob = b"P6\n3 1 65535\n".replace(b"3 1", b"2 1") + vals.astype(
        ">u2"
    ).tobytes()
    got = decode_ppm(blob)
    expect = ((vals.astype(np.uint32) * 255 + 32767) // 65535).astype(
        np.uint8
    )
    assert (got == expect).all()
    # non-65535 maxval: scaling uses the declared maxval
    v2 = np.array([[[0, 512, 1023]]], dtype=np.uint16)
    blob2 = b"P6\n1 1 1023\n" + v2.astype(">u2").tobytes()
    exp2 = ((v2.astype(np.uint32) * 255 + 511) // 1023).astype(np.uint8)
    assert (decode_ppm(blob2) == exp2).all()
    # maxval 0 / oversized are corrupt headers
    import pytest

    with pytest.raises(ValueError, match="invalid PPM maxval"):
        decode_ppm(b"P6\n1 1 0\n\x00\x00\x00")
    with pytest.raises(ValueError, match="invalid PPM maxval"):
        decode_ppm(b"P6\n1 1 70000\n" + b"\x00" * 6)


def test_png_adam7_interlaced_roundtrip():
    """Adam7: seven per-pass rasters (each independently filtered) scatter
    back to the original grid — RGB and palette variants, odd dims."""
    import numpy as np

    from evidence_datasource_parsers_spark.operators.multimodal import (
        _ADAM7,
        decode_png,
    )

    def interlaced_raw(px):
        h, w, c = px.shape
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            for y in range(ph):
                raw.append(0)  # filter None
                raw += sub[y].tobytes()
        return bytes(raw)

    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, size=(13, 11, 3), dtype=np.uint8)
    blob = _png_raw(11, 13, 8, 2, 1, interlaced_raw(px))
    assert (decode_png(blob) == px).all()
    # tiny image exercising empty passes (w or h below a pass origin)
    tiny = rng.randint(0, 256, size=(3, 2, 3), dtype=np.uint8)
    assert (
        decode_png(_png_raw(2, 3, 8, 2, 1, interlaced_raw(tiny))) == tiny
    ).all()


