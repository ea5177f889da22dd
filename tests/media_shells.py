"""Minimal WebP and AVIF/HEIC container writers for the parser tests.

Each blob is structurally valid (RIFF chunks, ISO-BMFF boxes) with a
dimensions-only header and a dummy payload: enough for the
``functions/imagemeta.py`` walks, not a decodable image.
"""

from __future__ import annotations

import struct

from evidence_datasource_parsers_spark.functions.mp4 import _box, _full


def _riff_chunk(cid: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return cid + struct.pack("<I", len(data)) + data + pad


def encode_webp_shell(
    width: int, height: int, *, lossless: bool = False,
    vp8x: bool = False, alpha: bool = False, animated: bool = False,
) -> bytes:
    """WebP container: optional ``VP8X`` canvas chunk, then a ``VP8L``
    lossless or ``VP8 `` lossy bitstream header."""
    chunks = b""
    if vp8x:
        flags = (0x10 if alpha else 0) | (0x02 if animated else 0)
        chunks += _riff_chunk(
            b"VP8X",
            bytes([flags]) + b"\x00" * 3
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little"),
        )
    if lossless:
        bits = (width - 1) | ((height - 1) << 14) | (
            (1 if alpha else 0) << 28
        )
        chunks += _riff_chunk(
            b"VP8L", bytes([0x2F]) + struct.pack("<I", bits) + b"\x00" * 8
        )
    else:
        hdr = (
            b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
        )
        chunks += _riff_chunk(b"VP8 ", hdr + b"\x00" * 8)
    return (
        b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
    )


def encode_avif_shell(
    width: int, height: int, *, brand: bytes = b"avif"
) -> bytes:
    """AVIF/HEIC shell: ftyp + meta/iprp/ipco/ispe."""
    ispe = _full(b"ispe", 0, struct.pack(">II", width, height))
    ipco = _box(b"ipco", ispe)
    iprp = _box(b"iprp", ipco)
    hdlr = _full(
        b"hdlr", 0, struct.pack(">I", 0) + b"pict" + b"\x00" * 13
    )
    meta = _full(b"meta", 0, hdlr + iprp)
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mif1")
    return ftyp + meta
