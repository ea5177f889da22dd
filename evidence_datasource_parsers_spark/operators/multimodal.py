"""Multimodal column plumbing: image/audio/video as opaque binary.

The container has no media libraries (no PIL/ffmpeg), so decode is REAL for
every format a pure-Python/numpy parser can handle — PPM (P6, 8- and
16-bit), BMP (24-bit BI_RGB, 8-bit palette, RLE8), WAV (PCM16), PNG
(stdlib zlib inflate: all color types incl. palette+tRNS, depths 1–16,
Adam7 interlacing), GIF (functions/gif.py: LZW, palette, interlace),
baseline AND progressive JPEG (functions/jpeg.py: Huffman + dequant +
IDCT + YCbCr, the formats real web corpora are dominated by) — plus the
synthetic MM01 container below.  Remaining unsupported variants
(arithmetic/12-bit JPEG, sub-8-bit BMP, compressed WAV, MP3) raise a
clearly-marked ``NotImplementedError`` where a
PIL/ffmpeg-backed kernel with the same signature plugs in.  Everything
Spark-side is real and tested: schemas, Arrow batch shapes, ``mapInPandas``
plumbing, partitioning.  The Spark frames here are the image pHash, the video
elementary-stream hash and their incremental fingerprint stores.

Synthetic container format (q62's corpus and the tests): a binary blob whose
first 14 bytes are a header ``MM01`` + media-type byte + int32 width/height
(big-endian) + byte depth, followed by the payload.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator
from typing import NamedTuple, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Pluggable decoder tried before the stdlib ones: ``(bytes) -> dict | None``
#: in :func:`decode_blob`'s return contract; None defers to stdlib.  Must be
#: a TOP-LEVEL callable — it is pickled into executor-side Arrow kernels.
DecodeHook = Optional[Callable[[bytes], Optional[dict]]]

MAGIC = b"MM01"
MEDIA_TYPES = {0: "image", 1: "audio", 2: "video"}


def decode_ppm(blob: bytes):
    """Binary PPM (P6) → (h, w, 3) uint8 numpy array.  Pure Python + numpy:
    handles '#' comments and arbitrary whitespace in the header, as the
    netpbm spec allows."""
    import numpy as np

    if blob[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header = magic + 3 ints (w, h, maxval), tokens separated by whitespace,
    # '#' comments run to end-of-line; ONE whitespace byte then raster data.
    # Every scan is bounded by len(blob): b''.isspace() is False, so an
    # unbounded loop would spin forever on a truncated header.
    size = len(blob)
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= size:
            raise ValueError("truncated PPM header")
        c = blob[pos : pos + 1]
        if c == b"#":
            nl = blob.find(b"\n", pos)
            if nl < 0:
                raise ValueError("truncated PPM header")
            pos = nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < size and not blob[end : end + 1].isspace():
                end += 1
            if end == size:
                raise ValueError("truncated PPM header")
            tokens.append(int(blob[pos:end]))
            pos = end
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval <= 0 or maxval > 65535:
        raise ValueError(f"invalid PPM maxval {maxval}")
    if maxval > 255:
        # two-byte big-endian samples (netpbm spec); scale to 8-bit with
        # rounding against the actual maxval, like every mainstream viewer
        if w < 0 or h < 0 or size - pos < w * h * 6:
            raise ValueError("truncated PPM raster")
        raster16 = np.frombuffer(
            blob, dtype=">u2", count=w * h * 3, offset=pos
        ).astype(np.uint32)
        raster = ((raster16 * 255 + maxval // 2) // maxval).astype(np.uint8)
        return raster.reshape(h, w, 3)
    if w < 0 or h < 0 or size - pos < w * h * 3:
        raise ValueError("truncated PPM raster")
    raster = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    body = ctype + data
    return struct.pack(">I", len(data)) + body + struct.pack(
        ">I", zlib.crc32(body) & 0xFFFFFFFF
    )


def encode_png(pixels, palette=None, transparency: bytes | None = None) -> bytes:
    """(h, w, c) uint8 array (c ∈ {1, 2, 3, 4}) → PNG bytes: 8-bit,
    non-interlaced, filter 0 on every scanline, one zlib IDAT.  Stdlib
    only — the writer half of the roundtrip proof for :func:`decode_png`.

    ``palette`` ((n, 3) uint8): write color type 3 — ``pixels`` is then an
    (h, w) INDEX array; ``transparency`` adds a tRNS alpha-per-entry chunk.
    """
    import zlib

    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if palette is not None:
        if px.ndim != 2:
            raise ValueError("palette PNG takes an (h, w) index array")
        h, w = px.shape
        pal = np.ascontiguousarray(palette, dtype=np.uint8)
        out = _PNG_SIG + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        )
        out += _png_chunk(b"PLTE", pal.tobytes())
        if transparency is not None:
            out += _png_chunk(b"tRNS", bytes(transparency))
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(
            b"IEND", b""
        )
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, pos: int, h: int, stride: int, bpp: int):
    """Unapply the five PNG scanline filters over one raster of ``h`` rows
    of ``stride`` filtered bytes each (``bpp`` = filter byte distance =
    ceil(bits_per_pixel/8)).  Returns ((h, stride) uint8 array, next pos).
    Sequential by construction (each row depends on the previous), so the
    loop is per-ROW with numpy inside; Sub/Average/Paeth are per-byte only
    within a row."""
    import numpy as np

    if len(raw) - pos < h * (stride + 1):
        raise ValueError("truncated PNG raster")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[pos]
        pos += 1
        row = np.frombuffer(raw, np.uint8, stride, pos).copy()
        pos += stride
        if f == 0:  # None
            pass
        elif f == 1:  # Sub (addition wraps mod 256, as specified; explicit
            # masked int arithmetic — uint8 += emits a numpy overflow
            # RuntimeWarning on every wrap, which warnings-as-errors CI
            # would turn into a task failure)
            for i in range(bpp, stride):
                row[i] = (int(row[i]) + int(row[i - bpp])) & 0xFF
        elif f == 2:  # Up
            row += prev
        elif f == 3:  # Average
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                cc = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        out[y] = row
        prev = row
    return out, pos


def _png_unpack_samples(rows, w: int, depth: int, channels: int):
    """(h, stride) filtered-byte rows → (h, w·channels) uint8 sample array.
    Sub-byte depths (1/2/4) unpack MSB-first per the spec (row padding
    bits discarded); 16-bit samples downscale via their high byte."""
    import numpy as np

    if depth == 16:
        # big-endian sample pairs; the high byte IS sample >> 8
        return np.ascontiguousarray(
            rows[:, : w * channels * 2 : 2]
        )
    if depth == 8:
        return rows[:, : w * channels]
    per_byte = 8 // depth
    # unpack each byte into its bit groups, MSB first
    shifts = np.arange(per_byte - 1, -1, -1, dtype=np.uint8) * depth
    mask = (1 << depth) - 1
    expanded = (rows[:, :, None] >> shifts[None, None, :]) & mask
    return expanded.reshape(rows.shape[0], -1)[:, : w * channels].astype(
        np.uint8
    )


# Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png(blob: bytes):
    """PNG → (h, w, c) uint8 array, stdlib ``zlib`` + numpy only: IDAT
    chunks concatenated and inflated, all five scanline filters (None /
    Sub / Up / Average / Paeth) unapplied per the PNG spec.

    Covered: color types 0 (gray, depths 1/2/4/8/16), 2 (RGB, 8/16),
    3 (palette, depths 1/2/4/8, optional tRNS alpha → RGBA), 4 (gray+alpha,
    8/16), 6 (RGBA, 8/16), both non-interlaced and Adam7-interlaced
    rasters.  16-bit samples downscale to 8-bit via the high byte (the
    standard viewer conversion); sub-8-bit grays scale to the full 0–255
    range (spec sample depth rescaling).
    """
    import zlib

    import numpy as np

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, size = 8, len(blob)
    ihdr, idat, plte, trns = None, [], None, None
    while pos + 8 <= size:
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data[:13])
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + CRC (CRC not verified)
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if color == 3:
        channels = 1
    elif color in _PNG_CHANNELS:
        channels = _PNG_CHANNELS[color]
    else:
        raise NotImplementedError(f"unknown PNG color type {color}")
    if depth == 16 and color == 3:
        raise ValueError("16-bit palette PNG is not a legal combination")
    if depth not in (1, 2, 4, 8, 16) or (
        depth not in (8, 16) and color not in (0, 3)
    ):
        raise ValueError(f"invalid PNG depth {depth} for color type {color}")
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if color == 3 and plte is None:
        raise ValueError("palette PNG without PLTE chunk")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    bpp = max(1, (depth * channels) // 8)
    if w == 0 or h == 0:
        return np.zeros((h, w, max(1, channels)), dtype=np.uint8)

    def stride_of(width: int) -> int:
        return -(-(width * depth * channels) // 8)

    if interlace == 0:
        rows, _ = _png_unfilter(raw, 0, h, stride_of(w), bpp)
        samples = _png_unpack_samples(rows, w, depth, channels)
        img = samples.reshape(h, w, channels)
    else:  # Adam7: seven independently-filtered sub-rasters, scattered
        img = np.zeros((h, w, channels), dtype=np.uint8)
        rp = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = -(-(w - x0) // dx) if w > x0 else 0
            ph = -(-(h - y0) // dy) if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            rows, rp = _png_unfilter(raw, rp, ph, stride_of(pw), bpp)
            samples = _png_unpack_samples(rows, pw, depth, channels)
            img[y0::dy, x0::dx] = samples.reshape(ph, pw, channels)

    if color == 3:  # palette lookup (+ optional tRNS alpha)
        n = len(plte) // 3
        pal = np.frombuffer(plte[: n * 3], np.uint8).reshape(n, 3)
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= n:
            raise ValueError("palette index out of range")
        rgb = pal[idx]
        if trns is not None:
            alpha = np.full(n, 255, dtype=np.uint8)
            alpha[: min(n, len(trns))] = np.frombuffer(
                trns[:n], np.uint8
            )[: min(n, len(trns))]
            return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
        return rgb
    if depth in (1, 2, 4):  # sub-byte gray: rescale to full range
        img = (img.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
            np.uint8
        )
    return img


def decode_bmp(blob: bytes):
    """BMP → (h, w, 3) uint8 RGB array: 24-bit BI_RGB, 8-bit palette
    (BI_RGB), and 8-bit RLE8-compressed (BI_RLE8, incl. end-of-line /
    end-of-bitmap / delta escapes and absolute runs).  Bottom-up row
    order and 4-byte row padding per the BMP spec.  Other depths /
    compressions raise ``NotImplementedError``."""
    import numpy as np

    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(blob) < 54:  # file header (14) + BITMAPINFOHEADER (40)
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack("<I", blob[10:14])[0]
    hdr_size = struct.unpack("<I", blob[14:18])[0]
    w, h = struct.unpack("<ii", blob[18:26])
    bpp = struct.unpack("<H", blob[28:30])[0]
    compression = struct.unpack("<I", blob[30:34])[0]
    bottom_up = h > 0
    h = abs(h)
    if w < 0:
        raise ValueError("negative BMP width")

    if bpp == 24 and compression == 0:
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        if len(blob) - data_offset < stride * h:
            raise ValueError("truncated BMP raster")
        rows = np.frombuffer(
            blob, dtype=np.uint8, count=stride * h, offset=data_offset
        ).reshape(h, stride)[:, : w * 3]
        img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
        return img[::-1] if bottom_up else img

    if bpp == 8 and compression in (0, 1):  # palette / RLE8
        clr_used = struct.unpack("<I", blob[46:50])[0] or 256
        pal_off = 14 + hdr_size
        if len(blob) < pal_off + clr_used * 4:
            raise ValueError("truncated BMP palette")
        pal = np.frombuffer(
            blob, np.uint8, clr_used * 4, pal_off
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRX → RGB
        if compression == 0:
            stride = (w + 3) & ~3
            if len(blob) - data_offset < stride * h:
                raise ValueError("truncated BMP raster")
            idx = np.frombuffer(
                blob, np.uint8, stride * h, data_offset
            ).reshape(h, stride)[:, :w]
        else:  # BI_RLE8 — always bottom-up per spec
            idx = np.zeros((h, w), dtype=np.uint8)
            x, row, i, n = 0, 0, data_offset, len(blob)
            while i + 1 < n and row < h:
                cnt, val = blob[i], blob[i + 1]
                i += 2
                if cnt > 0:  # encoded run
                    end = min(x + cnt, w)
                    idx[row, x:end] = val
                    x = end
                elif val == 0:  # end of line
                    row += 1
                    x = 0
                elif val == 1:  # end of bitmap
                    break
                elif val == 2:  # delta
                    if i + 1 >= n:
                        raise ValueError("truncated RLE8 delta")
                    x = min(x + blob[i], w)
                    row += blob[i + 1]
                    i += 2
                else:  # absolute run of `val` pixels, word-aligned
                    take = min(val, w - x)
                    if i + val > n:
                        raise ValueError("truncated RLE8 absolute run")
                    idx[row, x : x + take] = np.frombuffer(
                        blob, np.uint8, take, i
                    )
                    x += take
                    i += (val + 1) & ~1
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        img = pal[idx]
        return img[::-1] if bottom_up or compression == 1 else img

    raise NotImplementedError(
        f"unsupported BMP variant ({bpp}bpp, compression={compression})"
    )


def decode_wav(blob: bytes):
    """RIFF/WAVE with PCM16 data → (sample_rate, channels, samples) where
    samples is an int16 array of shape (n_frames, channels)."""
    import numpy as np

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = struct.unpack("<I", blob[pos + 4 : pos + 8])[0]
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM16 WAV supported (format={audio_format}, bits={bits})"
        )
    if channels < 1 or sample_rate < 1:
        raise ValueError(
            f"invalid WAV fmt (channels={channels}, rate={sample_rate})"
        )
    samples = np.frombuffer(
        data, dtype="<i2", count=len(data) // 2 // channels * channels
    ).reshape(-1, channels)
    return sample_rate, channels, samples


def decode_blob(blob: bytes, decode_hook: DecodeHook = None) -> dict:
    """Sniff + decode a media blob.  Returns a dict with ``media_type`` and
    type-specific fields:

      image → format, width, height, channels, pixels ((h, w, c) uint8)
      audio → format, sample_rate, channels, samples ((n, c) int16)
      video → format, width, height, n_frames, fps, and EITHER ``frames``
              (per-frame ENCODED bytes, JPEG) or ``frame_pixels``
              (per-frame DECODED (h, w, c) uint8 rasters)
      unknown → just {'media_type': 'unknown'}

    Real for PPM/BMP/WAV/MM01/PNG/JPEG/GIF/MJPEG-AVI; unsupported variants
    raise NotImplementedError.

    ``decode_hook`` is the PIL/ffmpeg plug-in point: a TOP-LEVEL (picklable
    — it ships to executors inside Arrow kernels) callable
    ``(bytes) -> dict | None`` tried FIRST.  Return the decode dict above
    to take the blob (MP4/H.264, arithmetic JPEG, WebP, ... — anything the
    stdlib decoders cannot express), or None to defer to them; exceptions
    propagate (a broken hook must fail the task, not silently degrade to
    NULL rows).  The hook's output flows into the SAME pHash /
    fingerprint-store tiers with no plan change — :func:`image_phash_frame`
    and :func:`incremental_phash_dedupe` thread this parameter through.
    """
    import numpy as np

    if blob is None:
        return {"media_type": "unknown"}
    if decode_hook is not None:
        hooked = decode_hook(bytes(blob))
        if hooked is not None:
            return hooked
    if blob[:2] == b"P6":
        px = decode_ppm(blob)
        return {
            "media_type": "image", "format": "ppm",
            "width": px.shape[1], "height": px.shape[0],
            "channels": 3, "pixels": px,
        }
    if blob[:2] == b"BM":
        px = decode_bmp(blob)
        return {
            "media_type": "image", "format": "bmp",
            "width": px.shape[1], "height": px.shape[0],
            "channels": 3, "pixels": px,
        }
    if blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
        from evidence_datasource_parsers_spark.functions.avi import (
            decode_avi,
        )

        v = decode_avi(blob)  # frames left undecoded — sample downstream
        return {
            "media_type": "video", "format": "avi_mjpeg",
            "width": v["width"], "height": v["height"],
            "n_frames": v["n_frames"], "fps": v["fps"],
            "frames": v["frames"],
        }
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        from evidence_datasource_parsers_spark.functions.imagemeta import (
            parse_webp,
        )

        m = parse_webp(blob)  # container dims only — no VP8/VP8L decode
        return {
            "media_type": "image", "format": m["format"],
            "width": m["width"], "height": m["height"],
            "channels": 4 if m["has_alpha"] else 3,
            "animated": m["animated"],
            # no 'pixels': the codec needs a decode_hook; the stdlib
            # tier still powers dimension/aspect gates
        }
    if len(blob) >= 12 and blob[4:8] == b"ftyp":
        from evidence_datasource_parsers_spark.functions.imagemeta import (
            is_still_image_brand,
            parse_avif,
        )
        from evidence_datasource_parsers_spark.functions.mp4 import (
            parse_mp4,
        )

        if is_still_image_brand(blob):
            m = parse_avif(blob)
            return {
                "media_type": "image", "format": m["format"],
                "width": m["width"], "height": m["height"],
                "channels": None,
            }
        m = parse_mp4(blob)  # container walk only — no codec decode
        return {
            "media_type": "video", "format": "mp4",
            "width": m["width"], "height": m["height"],
            "n_frames": m["n_frames"], "fps": m["fps"],
            "duration_s": m["duration_s"], "codec": m["video_codec"],
            # no 'frames'/'frame_pixels': the encoded samples need a real
            # codec — a decode_hook supplies pixels; the stdlib tier still
            # gives metadata gates and stream-hash remux dedup real values
        }
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        rate, ch, samples = decode_wav(blob)
        return {
            "media_type": "audio", "format": "wav",
            "sample_rate": rate, "channels": ch, "samples": samples,
        }
    if blob[:4] == b"fLaC":
        from evidence_datasource_parsers_spark.functions.audiometa import (
            parse_flac,
        )

        m = parse_flac(blob)  # STREAMINFO only — no frame decode
        return {
            "media_type": "audio", "format": "flac",
            "sample_rate": m["sample_rate"], "channels": m["channels"],
            "duration_s": m["duration_s"], "pcm_md5": m["pcm_md5"],
            # no 'samples': compressed audio needs a decode_hook; the
            # stdlib tier still powers metadata gates and (via the
            # spec-mandated PCM MD5) exact stream dedup
        }
    if blob[:4] == b"OggS":
        from evidence_datasource_parsers_spark.functions.audiometa import (
            parse_ogg,
        )

        m = parse_ogg(blob)
        return {
            "media_type": "audio", "format": m["format"],
            "sample_rate": m["sample_rate"], "channels": m["channels"],
            "duration_s": m["duration_s"],
        }
    if blob[:3] == b"ID3" or (
        len(blob) >= 2 and blob[0] == 0xFF and (blob[1] & 0xE0) == 0xE0
    ):
        from evidence_datasource_parsers_spark.functions.audiometa import (
            parse_mp3,
        )

        try:
            m = parse_mp3(blob)
        except ValueError:
            return {"media_type": "unknown"}  # sync-like bytes, not MPEG
        return {
            "media_type": "audio", "format": "mp3",
            "sample_rate": m["sample_rate"], "channels": m["channels"],
            "duration_s": m["duration_s"], "n_frames": m["n_frames"],
            "bitrate_kbps": m["bitrate_kbps"],
        }
    if blob[:4] == MAGIC:
        if len(blob) < 14:
            return {"media_type": "unknown"}
        mt, w, h, d = struct.unpack(">BiiB", blob[4:14])
        payload = np.frombuffer(blob, dtype=np.uint8, offset=14)
        out = {
            "media_type": MEDIA_TYPES.get(mt, "unknown"), "format": "mm01",
            "width": w, "height": h, "channels": 1,
        }
        if out["media_type"] == "image":
            if w < 0 or h < 0:
                raise ValueError("negative MM01 dimensions")
            n = w * h
            grid = np.zeros(n, dtype=np.uint8)
            grid[: min(n, len(payload))] = payload[:n]
            out["pixels"] = grid.reshape(h, w, 1)
        return out
    if blob[:8] == _PNG_SIG:
        px = decode_png(blob)
        return {
            "media_type": "image", "format": "png",
            "width": px.shape[1], "height": px.shape[0],
            "channels": px.shape[2], "pixels": px,
        }
    if blob[:3] == b"\xff\xd8\xff":
        from evidence_datasource_parsers_spark.functions.jpeg import (
            decode_jpeg,
        )

        px = decode_jpeg(blob)  # baseline sequential or progressive
        return {
            "media_type": "image", "format": "jpeg",
            "width": px.shape[1], "height": px.shape[0],
            "channels": px.shape[2], "pixels": px,
        }
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        from evidence_datasource_parsers_spark.functions.gif import (
            decode_gif,
        )

        px = decode_gif(blob)  # first frame (LZW, palette, interlace)
        return {
            "media_type": "image", "format": "gif",
            "width": px.shape[1], "height": px.shape[0],
            "channels": px.shape[2], "pixels": px,
        }
    return {"media_type": "unknown"}


_PHASH_DCT32 = None


def _phash64(pixels) -> int:
    """63-bit DCT pHash of a decoded (h, w, c) uint8 array — the shared
    kernel core of the image pHash frame AND the per-frame video hashes:
    BT.601 luma → deterministic nearest-neighbor 32×32 downsample → 32×32
    DCT → 8×8 corner minus DC → sign bits vs their median."""
    import numpy as np

    global _PHASH_DCT32
    if _PHASH_DCT32 is None:
        n = np.arange(32)
        C = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 64.0)
        C[0, :] = 1.0
        C *= np.where(
            n[:, None] == 0, np.sqrt(1.0 / 32.0), np.sqrt(2.0 / 32.0)
        )
        _PHASH_DCT32 = C
    C = _PHASH_DCT32
    px = pixels.astype(np.float64)
    gray = (
        0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        if px.shape[2] >= 3
        else px[:, :, 0]
    )
    h, w = gray.shape
    yi = np.minimum((np.arange(32) * h) // 32, h - 1)
    xi = np.minimum((np.arange(32) * w) // 32, w - 1)
    dct = C @ gray[np.ix_(yi, xi)] @ C.T
    low = dct[:8, :8].flatten()[1:]  # 63 AC coefficients
    bits = low > np.median(low)
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v


def image_phash_frame(
    df: DataFrame,
    binary_col: str = "blob",
    id_col: str = "media_id",
    decode_hook: DecodeHook = None,
) -> DataFrame:
    """Perceptual image hashes: ``(id_col, phash)`` — the image analogue of
    the text SimHash fingerprint, and the state an image near-dup pipeline
    carries (re-encoded/resized copies of one photo land within a few bits;
    distinct photos land ~32 bits apart).

    The classic DCT pHash (public algorithm): decode → BT.601 luma →
    nearest-neighbor 32×32 downsample (deterministic; smoother kernels
    shift hashes between library versions — determinism wins for a store)
    → 32×32 DCT (the same orthonormal transform as functions/jpeg.py) →
    the 63 lowest-frequency AC coefficients (8×8 corner minus DC) → sign
    bits against their MEDIAN → packed into one long (63 bits: no sign
    games).  Undecodable/non-image blobs yield NULL.

    Persist it as the store of an incremental image dedup
    (:func:`incremental_phash_dedupe`; same combo-key machinery as the
    text SimHash store).  One
    narrow Arrow pass, no shuffle.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf[id_col], pdf[binary_col]):
                try:
                    d = decode_blob(
                        bytes(blob) if blob is not None else None,
                        decode_hook,
                    )
                except (ValueError, NotImplementedError, struct.error):
                    d = {"media_type": "unknown"}
                if (
                    d.get("media_type") != "image"
                    or d.get("pixels") is None  # container-meta tier
                    or d["pixels"].size == 0
                ):
                    out.append((mid, None))
                    continue
                out.append((mid, _phash64(d["pixels"])))
            yield pd.DataFrame({id_col: out and [r[0] for r in out] or [],
                                "phash": [r[1] for r in out]})

    # derive the id field's type from the input schema — a hardcoded
    # `long` turns string/uuid media ids into an Arrow task failure deep
    # inside the kernel instead of a working frame
    id_dt = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, binary_col).mapInPandas(
        kernel, f"{id_col} {id_dt}, phash long"
    )


class IncrementalPhashResult(NamedTuple):
    """Same contract as the text-side incremental results: ``pinned`` is
    the persisted batch pHash frame both outputs derive from; unpersist it
    after materializing; ``delta`` is the batch's store contribution alone
    (disjoint from the carried store) — APPEND it to advance the on-disk
    store in O(batch), never rewrite ``store``."""

    fresh: DataFrame
    store: DataFrame
    pinned: DataFrame
    delta: DataFrame


def incremental_phash_dedupe(
    new_batch: DataFrame,
    phash_store: DataFrame | None,
    binary_col: str = "blob",
    id_col: str = "media_id",
    *,
    max_hamming: int = 6,
    n_blocks: int = 9,
    batch_phashes: DataFrame | None = None,
    decode_hook: DecodeHook = None,
) -> IncrementalPhashResult:
    """Batch-over-batch IMAGE near-dup dedup — the fourth modality of the
    fingerprint-store pattern (exact → lexical → semantic → perceptual).
    The carried state is one ``(id, phash)`` row per retained image (8
    bytes of hash); a new image is dropped when a stored pHash lies within
    ``max_hamming`` bits of its own — candidates from the same
    Manku block-combination tables as the text SimHash store
    (``dedupe.simhash_combo_keys`` over the 63-bit hash), verified with
    one ``bit_count(xor)``.  Re-encodes/resizes of stored photos are
    combo-key mates within a few bits; exact re-uploads sit at hamming 0.

    Within-batch images with IDENTICAL pHashes collapse to the min-id
    representative first; within-batch near-dups are out of scope.
    Undecodable blobs (NULL pHash) pass through as fresh and are NOT
    stored — route them to a PIL-backed kernel rather than silently
    treating them as unique forever.

    ``batch_phashes``: optional precomputed :func:`image_phash_frame`
    rows (single-decode reuse when the pipeline already hashed them).
    """
    fp_all = (
        batch_phashes
        if batch_phashes is not None
        else image_phash_frame(
            new_batch, binary_col, id_col, decode_hook=decode_hook
        )
    )
    return _incremental_fingerprint_dedupe(
        new_batch, phash_store, fp_all, id_col, "phash",
        max_hamming=max_hamming, n_blocks=n_blocks,
    )


def _incremental_fingerprint_dedupe(
    new_batch: DataFrame,
    store: DataFrame | None,
    fp_all: DataFrame,
    id_col: str,
    fp_col: str,
    *,
    max_hamming: int,
    n_blocks: int,
    nbits: int = 63,
) -> IncrementalPhashResult:
    """Shared core of the fingerprint stores (image pHash, video stream
    hash): within-batch exact-hash collapse to the min id (NULL-hash rows
    pass through and are never stored; the retained fingerprints are
    persisted as ``pinned``), then the Manku block-combination pigeonhole
    join of batch hashes against the carried store, verified with one
    ``bit_count(xor)``."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        hamming_distance,
        simhash_combo_keys,
    )

    fp_ok = fp_all.where(F.col(fp_col).isNotNull())
    surv_ids = (
        fp_ok.groupBy(fp_col).agg(F.min(F.col(id_col)).alias(id_col))
        .select(id_col)
    )
    null_ids = fp_all.where(F.col(fp_col).isNull()).select(id_col)
    fp = fp_ok.join(surv_ids, on=id_col, how="left_semi").persist()
    survivors = new_batch.join(
        surv_ids.unionByName(null_ids), on=id_col, how="left_semi"
    )
    if store is None:
        return IncrementalPhashResult(
            fresh=survivors, store=fp, pinned=fp, delta=fp
        )
    combos = lambda c: F.explode(  # noqa: E731
        simhash_combo_keys(c, nbits, max_hamming, n_blocks)
    )
    batch_keys = fp.select(
        F.col(id_col),
        F.col(fp_col).alias("__np"),
        combos(F.col(fp_col)).alias("__k"),
    ).select(id_col, "__np", "__k.combo", "__k.key")
    store_keys = store.select(
        F.col(fp_col).alias("__sp"),
        combos(F.col(fp_col)).alias("__k"),
    ).select("__sp", "__k.combo", "__k.key")
    dropped = (
        batch_keys.join(store_keys, on=["combo", "key"])
        .filter(
            hamming_distance(F.col("__np"), F.col("__sp"))
            <= F.lit(max_hamming)
        )
        .select(id_col)
    )
    fresh = survivors.join(dropped, on=id_col, how="left_anti")
    delta = fp.join(dropped, on=id_col, how="left_anti")
    new_store = store.unionByName(delta)
    return IncrementalPhashResult(
        fresh=fresh, store=new_store, pinned=fp, delta=delta
    )


# ---------------------------------------------------------------------------
# Video (MP4, MJPEG-AVI) — exact remux dedup over the elementary stream
# ---------------------------------------------------------------------------


def video_stream_hash_frame(
    df: DataFrame,
    binary_col: str = "blob",
    id_col: str = "media_id",
) -> DataFrame:
    """(id, container, codec, stream_hash) per video blob: an 8-byte hash
    of the CONTAINER-INDEPENDENT elementary stream — the concatenated
    encoded media samples, resolved from the container's own tables
    (``mp4_sample_ranges`` for ISO-BMFF, the ``movi`` frame chunks for
    MJPEG-AVI).  A remux — the same encoding repackaged with new
    ftyp/moov metadata, shuffled box order, edited title, even a
    DIFFERENT container — hashes identically, which neither a whole-blob
    hash nor any metadata column can see.  No codec decode: this tier is
    real for MP4/H.264 in a stdlib-only deployment, where the pixel-level
    pHash tier needs a ``decode_hook``.

    Unrecognized/malformed containers yield NULL ``stream_hash`` (the
    undecodable contract: flows fresh through the dedupe tier, never
    stored).  One narrow Arrow pass, no shuffle; cost is a headers walk
    plus one hash over the media bytes."""
    id_dt = df.schema[id_col].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from evidence_datasource_parsers_spark.functions.avi import (
            decode_avi,
        )
        from evidence_datasource_parsers_spark.functions.mp4 import (
            mp4_stream_bytes,
            parse_mp4,
        )

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[binary_col]):
                container = codec = None
                h = None
                b = bytes(blob) if blob is not None else b""
                try:
                    if len(b) >= 12 and b[4:8] == b"ftyp":
                        meta = parse_mp4(b)
                        container, codec = "mp4", meta["video_codec"]
                        stream = mp4_stream_bytes(b)
                    else:
                        v = decode_avi(b)
                        container, codec = "avi", "mjpg"
                        stream = b"".join(v["frames"])
                    h = int.from_bytes(
                        hashlib.md5(stream).digest()[:8], "big", signed=True
                    )
                except (ValueError, struct.error, KeyError):
                    container = codec = None
                    h = None
                rows.append((mid, container, codec, h))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "container", "codec", "stream_hash"],
            )

    return df.select(id_col, binary_col).mapInPandas(
        kernel,
        f"{id_col} {id_dt}, container string, codec string, "
        "stream_hash long",
    )


def incremental_remux_dedupe(
    new_batch: DataFrame,
    stream_store: DataFrame | None,
    binary_col: str = "blob",
    id_col: str = "media_id",
    *,
    batch_stream_hashes: DataFrame | None = None,
) -> IncrementalPhashResult:
    """Batch-over-batch EXACT remux dedup: drop every clip whose
    elementary-stream hash (:func:`video_stream_hash_frame`) is already
    in the carried ``(id, stream_hash)`` store.  It catches the
    overwhelmingly common re-upload (same encoded stream, new container
    metadata) with 8 bytes of state per clip and an equi-join, and it is
    fully real for MP4/H.264 without a ``decode_hook``; genuinely
    re-ENCODED copies hash differently and pass.

    Same store contract as every perceptual store: within-batch twins
    collapse to the min id, NULL-hash (unrecognized container) rows pass
    fresh and unstored, ``pinned`` releases after materialization.

    ``batch_stream_hashes``: optional precomputed
    :func:`video_stream_hash_frame` rows (single-walk reuse when the
    pipeline also keeps container/codec columns)."""
    fp_all = (
        batch_stream_hashes
        if batch_stream_hashes is not None
        else video_stream_hash_frame(new_batch, binary_col, id_col)
    )
    # max_hamming=0, n_blocks=1 ⇒ exactly one combo key carrying the
    # full hash: the pigeonhole join degenerates to the exact equi-join
    # this tier wants, verified by bit_count(xor) == 0
    return _incremental_fingerprint_dedupe(
        new_batch, stream_store,
        fp_all.select(id_col, "stream_hash"),
        id_col, "stream_hash", max_hamming=0, n_blocks=1,
    )


