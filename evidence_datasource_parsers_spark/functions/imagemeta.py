"""Modern image-container walks — stdlib-only dimensions, no codec.

The image twin of ``functions/mp4.py``/``functions/audiometa.py``: a
modern crawl serves WebP and AVIF/HEIC alongside JPEG/PNG, and their
pixel codecs (VP8/VP8L, AV1, HEVC) are far outside stdlib reach — but
the CONTAINERS state the dimensions, which is what curation gates
(min_width/min_height, aspect filters, thumbnail detection) actually
consume:

  * :func:`parse_webp` — RIFF walk: ``VP8X`` canvas size (extended
    files), ``VP8 `` lossy keyframe header (14-bit w/h behind the
    0x9D012A start code), ``VP8L`` lossless signature (14-bit packed
    w-1/h-1); flags surface alpha/animation.
  * :func:`parse_avif` — ISO-BMFF ``meta``/``iprp``/``ipco``/``ispe``
    walk (reusing the mp4 box machinery): spatial extents of the
    primary item; brand distinguishes AVIF from HEIC.

Both raise ValueError on blobs that are not their format or are
structurally truncated.  Decoding to pixels is the ``decode_hook``'s
job (a PIL deployment plugs in one hook and the same pipelines get
rasters); the stdlib tier keeps metadata gates honest instead of
dropping every modern image as "unknown".
"""

from __future__ import annotations

import struct

from evidence_datasource_parsers_spark.functions.mp4 import _boxes, _child

_AVIF_BRANDS = {b"avif": "avif", b"avis": "avif"}
_HEIC_BRANDS = {b"heic": "heic", b"heix": "heic", b"mif1": "heif"}


def parse_webp(blob: bytes) -> dict:
    """{format ('webp'|'webp_lossless'), width, height, has_alpha,
    animated} from the RIFF container.  Dimension source precedence:
    VP8X canvas (authoritative for extended files), else the first
    VP8 /VP8L bitstream header."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    out = {
        "format": "webp", "width": None, "height": None,
        "has_alpha": False, "animated": False,
    }
    pos = 12
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = struct.unpack_from("<I", blob, pos + 4)[0]
        body = pos + 8
        if body + size > len(blob):
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"VP8X" and size >= 10:
            flags = blob[body]
            out["has_alpha"] = bool(flags & 0x10)
            out["animated"] = bool(flags & 0x02)
            out["width"] = 1 + int.from_bytes(
                blob[body + 4 : body + 7], "little"
            )
            out["height"] = 1 + int.from_bytes(
                blob[body + 7 : body + 10], "little"
            )
        elif cid == b"VP8 " and size >= 10 and out["width"] is None:
            if blob[body + 3 : body + 6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe start code")
            out["width"] = (
                struct.unpack_from("<H", blob, body + 6)[0] & 0x3FFF
            )
            out["height"] = (
                struct.unpack_from("<H", blob, body + 8)[0] & 0x3FFF
            )
        elif cid == b"VP8L" and size >= 5:
            if blob[body] != 0x2F:
                raise ValueError("bad VP8L signature")
            bits = struct.unpack_from("<I", blob, body + 1)[0]
            out["format"] = "webp_lossless"
            if out["width"] is None:
                out["width"] = (bits & 0x3FFF) + 1
                out["height"] = ((bits >> 14) & 0x3FFF) + 1
            out["has_alpha"] = out["has_alpha"] or bool(
                (bits >> 28) & 1
            )
        elif cid == b"ALPH":
            out["has_alpha"] = True
        pos = body + size + (size & 1)  # RIFF chunks are word-aligned
    if out["width"] is None:
        raise ValueError("no VP8X/VP8 /VP8L chunk with dimensions")
    return out


def parse_avif(blob: bytes) -> dict:
    """{format ('avif'|'heic'|'heif'), width, height} from the ISO-BMFF
    ``ispe`` property of the still-image ``meta`` tree."""
    if len(blob) < 12 or blob[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")
    brand = blob[8:12]
    fmt = _AVIF_BRANDS.get(brand) or _HEIC_BRANDS.get(brand)
    if fmt is None:
        raise ValueError(f"not a still-image brand: {brand!r}")
    meta = _child(blob, 0, len(blob), b"meta")
    if meta is None:
        raise ValueError("no meta box")
    ms = meta[0] + 4  # meta is a FullBox: skip version/flags
    iprp = _child(blob, ms, meta[1], b"iprp")
    if iprp is None:
        raise ValueError("no iprp box")
    ipco = _child(blob, iprp[0], iprp[1], b"ipco")
    if ipco is None:
        raise ValueError("no ipco box")
    for t, s, e in _boxes(blob, ipco[0], ipco[1]):
        if t == b"ispe" and e - s >= 12:
            w, h = struct.unpack_from(">II", blob, s + 4)
            return {"format": fmt, "width": w, "height": h}
    raise ValueError("no ispe property")


def is_still_image_brand(blob: bytes) -> bool:
    """True when an ftyp blob is an AVIF/HEIC still image rather than a
    video — the dispatch predicate ``decode_blob`` uses to route ISO-BMFF
    blobs between the image and video tiers."""
    return (
        len(blob) >= 12
        and blob[4:8] == b"ftyp"
        and (blob[8:12] in _AVIF_BRANDS or blob[8:12] in _HEIC_BRANDS)
    )
