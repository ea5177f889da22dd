"""Compressed-audio container walks — stdlib-only metadata, no codec.

The audio twin of ``functions/mp4.py``: real crawl audio is MP3, FLAC,
and OGG (Vorbis/Opus), none of which a pure-Python stack should decode
to samples (that is ``decode_hook``'s job).  The containers themselves
still yield what curation gates need — sample rate, channels, duration,
bitrate — at headers-only cost:

  * :func:`parse_mp3` — ID3v2 skip (synchsafe size), then an exact
    frame-header walk (MPEG-1/2/2.5 × Layer I/II/III bitrate/samplerate
    tables, padding): frame count and summed per-frame durations, so
    VBR files report the true duration without trusting any Xing header.
  * :func:`parse_flac` — ``fLaC`` metadata-block walk; STREAMINFO gives
    rate/channels/bits/total-samples AND the spec-mandated **MD5 of the
    unencoded PCM** (RFC 9639 §8.2) — a re-encode-invariant stream
    fingerprint the file carries for free: a WAV and any lossless FLAC
    encode of the same audio agree on it (``multimodal.decode_blob``
    surfaces it as ``pcm_md5``).
  * :func:`parse_ogg` — page walk: codec id from the first packet
    (``\\x01vorbis`` / ``OpusHead``), duration from the LAST page's
    granule position (Vorbis: samples at the stream rate; Opus:
    48 kHz ticks minus pre-skip).

Each parser raises ValueError on blobs that are not its format or are
structurally truncated; minimal writers keep the tests fixture-free.

Scale note: every walk is O(headers) — MP3's is O(n_frames) over 4-byte
headers without touching payload bytes; duration over 100 TB of audio
never decodes a sample.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# MP3 (MPEG audio) — ISO/IEC 11172-3 / 13818-3 frame headers
# ---------------------------------------------------------------------------

# bitrate kbps tables[version_group][layer][index]; 0 = free, None = bad
_V1 = {
    1: (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    2: (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
}
_V2 = {
    1: (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    3: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
          0: (11025, 12000, 8000)}  # version bits → rates (2.5 is bits 00)
_SAMPLES_PER_FRAME = {  # [layer][is_v1]
    1: {True: 384, False: 384},
    2: {True: 1152, False: 1152},
    3: {True: 1152, False: 576},
}


def _id3v2_size(blob: bytes) -> int:
    if blob[:3] != b"ID3" or len(blob) < 10:
        return 0
    b = blob[6:10]
    return 10 + (
        (b[0] & 0x7F) << 21 | (b[1] & 0x7F) << 14
        | (b[2] & 0x7F) << 7 | (b[3] & 0x7F)
    )


def _mp3_frame(blob: bytes, pos: int):
    """(frame_len, samples, rate, channels, bitrate_kbps) or None."""
    if pos + 4 > len(blob):
        return None
    h = struct.unpack_from(">I", blob, pos)[0]
    if h >> 21 != 0x7FF:
        return None
    vbits = (h >> 19) & 3            # 0=2.5, 1=bad, 2=v2, 3=v1
    lbits = (h >> 17) & 3            # 1=III, 2=II, 3=I
    if vbits == 1 or lbits == 0:
        return None
    layer = 4 - lbits
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 0xF) or sr_idx == 3:
        return None
    pad = (h >> 9) & 1
    mode = (h >> 6) & 3
    v1 = vbits == 3
    kbps = (_V1 if v1 else _V2)[layer][br_idx]
    rate = _RATES[vbits][sr_idx]
    if layer == 1:
        flen = (12000 * kbps // rate + pad) * 4
    else:
        spf = _SAMPLES_PER_FRAME[layer][v1]
        flen = spf // 8 * 1000 * kbps // rate + pad
    samples = _SAMPLES_PER_FRAME[layer][v1]
    return flen, samples, rate, 1 if mode == 3 else 2, kbps


def parse_mp3(blob: bytes) -> dict:
    """Exact frame walk: {format, sample_rate, channels, n_frames,
    duration_s, bitrate_kbps (average), layer}.  Raises ValueError when
    no valid frame sequence is found."""
    pos = _id3v2_size(blob)
    # tolerate junk before the first sync (common after bad tag strips)
    first = None
    scan_end = min(len(blob), pos + 65536)
    while pos < scan_end:
        f = _mp3_frame(blob, pos)
        if f is not None:
            first = f
            break
        pos += 1
    if first is None:
        raise ValueError("no MPEG audio frame sync")
    n = 0
    ticks = 0.0
    kbps_sum = 0
    rate = first[2]
    channels = first[3]
    while pos + 4 <= len(blob):
        f = _mp3_frame(blob, pos)
        if f is None:
            break
        flen, samples, frate, _ch, kbps = f
        if flen <= 0 or pos + flen > len(blob):
            break
        n += 1
        ticks += samples / frate
        kbps_sum += kbps
        pos += flen
    if n == 0:
        raise ValueError("no complete MPEG audio frame")
    return {
        "format": "mp3",
        "sample_rate": rate,
        "channels": channels,
        "n_frames": n,
        "duration_s": ticks,
        "bitrate_kbps": kbps_sum / n,
    }


def encode_mp3_frames(
    n_frames: int, *, kbps: int = 128, rate: int = 44100,
    id3_bytes: int = 0, fill: int = 0xAA,
) -> bytes:
    """Minimal CBR Layer III frame sequence (valid headers, dummy
    payload) + optional ID3v2 shell — parser-walk fixtures only.  MPEG-1
    or MPEG-2 is selected by the sample rate (44.1/48/32 kHz vs
    22.05/24/16 kHz)."""
    vbits = 3 if rate in _RATES[3] else 2
    br_idx = (_V1 if vbits == 3 else _V2)[3].index(kbps)
    sr_idx = _RATES[vbits].index(rate)
    h = (
        0x7FF << 21 | vbits << 19 | 1 << 17 | 0 << 16
        | br_idx << 12 | sr_idx << 10 | 0 << 9 | 0 << 8 | 3 << 6
    )
    spf = _SAMPLES_PER_FRAME[3][vbits == 3]
    flen = spf // 8 * 1000 * kbps // rate
    frame = struct.pack(">I", h) + bytes([fill]) * (flen - 4)
    out = b""
    if id3_bytes:
        sz = id3_bytes
        out = b"ID3\x04\x00\x00" + bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F,
             sz & 0x7F]
        ) + b"\x00" * id3_bytes
    return out + frame * n_frames


# ---------------------------------------------------------------------------
# FLAC — RFC 9639 metadata blocks (STREAMINFO only; no frame decode)
# ---------------------------------------------------------------------------


def parse_flac(blob: bytes) -> dict:
    """STREAMINFO walk: {format, sample_rate, channels, bits_per_sample,
    total_samples, duration_s, pcm_md5 (hex or None when unset)}.  The
    MD5 is the container's own hash of the UNENCODED PCM — identical
    across lossless re-encodes and equal to md5 over the corresponding
    WAV data chunk."""
    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    while pos + 4 <= len(blob):
        hdr = blob[pos]
        btype = hdr & 0x7F
        size = int.from_bytes(blob[pos + 1 : pos + 4], "big")
        body = pos + 4
        if body + size > len(blob):
            raise ValueError("truncated metadata block")
        if btype == 0:  # STREAMINFO
            if size < 34:
                raise ValueError("short STREAMINFO")
            b = blob[body : body + 34]
            rate = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
            channels = ((b[12] >> 1) & 0x7) + 1
            bps = (((b[12] & 1) << 4) | (b[13] >> 4)) + 1
            total = ((b[13] & 0x0F) << 32) | int.from_bytes(
                b[14:18], "big"
            )
            md5 = b[18:34]
            return {
                "format": "flac",
                "sample_rate": rate,
                "channels": channels,
                "bits_per_sample": bps,
                "total_samples": total,
                "duration_s": total / rate if rate else None,
                "pcm_md5": md5.hex() if md5 != b"\x00" * 16 else None,
            }
        if hdr & 0x80:  # last block and it wasn't STREAMINFO
            break
        pos = body + size
    raise ValueError("no STREAMINFO block")


def encode_flac_header(
    *, rate: int = 44100, channels: int = 2, bits: int = 16,
    total_samples: int = 0, pcm_md5: bytes = b"\x00" * 16,
) -> bytes:
    """fLaC magic + a single (last) STREAMINFO block — parser fixtures;
    carries no audio frames."""
    b = bytearray(34)
    struct.pack_into(">HH", b, 0, 4096, 4096)  # min/max blocksize
    b[10] = (rate >> 12) & 0xFF
    b[11] = (rate >> 4) & 0xFF
    b[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
    b[13] = (((bits - 1) & 0xF) << 4) | ((total_samples >> 32) & 0xF)
    b[14:18] = (total_samples & 0xFFFFFFFF).to_bytes(4, "big")
    b[18:34] = pcm_md5
    return b"fLaC" + bytes([0x80]) + len(b).to_bytes(3, "big") + bytes(b)


# ---------------------------------------------------------------------------
# OGG — RFC 3533 pages; Vorbis id header / OpusHead
# ---------------------------------------------------------------------------


def _ogg_page(blob: bytes, pos: int):
    """(header_type, granule, n_segs, body_start, body_len) or None."""
    if blob[pos : pos + 4] != b"OggS" or pos + 27 > len(blob):
        return None
    htype = blob[pos + 5]
    granule = struct.unpack_from("<q", blob, pos + 6)[0]
    nseg = blob[pos + 26]
    if pos + 27 + nseg > len(blob):
        return None
    body_len = sum(blob[pos + 27 : pos + 27 + nseg])
    return htype, granule, nseg, pos + 27 + nseg, body_len


def parse_ogg(blob: bytes) -> dict:
    """Page walk: {format ('ogg_vorbis'|'ogg_opus'|'ogg'), sample_rate,
    channels, duration_s} — codec id from the first packet, duration from
    the LAST page's granule position (Vorbis granules are PCM samples at
    the stream rate; Opus granules are 48 kHz ticks minus pre-skip)."""
    if blob[:4] != b"OggS":
        raise ValueError("not an OGG stream")
    first = _ogg_page(blob, 0)
    if first is None:
        raise ValueError("truncated first OGG page")
    _, _, _, body, blen = first
    pkt = blob[body : body + blen]
    # the slice silently truncates when the blob ends mid-body — the id
    # magic can still match, so every fixed-offset read below needs the
    # packet to really be there (fuzz contract: ValueError, never Index)
    fmt, rate, channels, pre_skip = "ogg", None, None, 0
    if pkt[:7] == b"\x01vorbis":
        if len(pkt) < 16:
            raise ValueError("truncated Vorbis id header")
        fmt = "ogg_vorbis"
        channels = pkt[11]
        rate = struct.unpack_from("<I", pkt, 12)[0]
    elif pkt[:8] == b"OpusHead":
        if len(pkt) < 12:
            raise ValueError("truncated OpusHead")
        fmt = "ogg_opus"
        channels = pkt[9]
        pre_skip = struct.unpack_from("<H", pkt, 10)[0]
        rate = 48000  # Opus always times granules at 48 kHz
    # last granule: walk pages forward (bounded: headers only)
    pos, last_granule = 0, None
    while pos < len(blob):
        p = _ogg_page(blob, pos)
        if p is None:
            break
        htype, granule, _nseg, b0, bl = p
        if granule >= 0:
            last_granule = granule
        pos = b0 + bl
    duration = None
    if last_granule is not None and rate:
        duration = max(0, last_granule - pre_skip) / rate
    return {
        "format": fmt,
        "sample_rate": rate,
        "channels": channels,
        "duration_s": duration,
    }


def _ogg_page_bytes(
    serial: int, seq: int, granule: int, packet: bytes, htype: int = 0
) -> bytes:
    segs = []
    rest = packet
    while True:
        segs.append(min(255, len(rest)))
        if len(rest) < 255:
            break
        rest = rest[255:]
    hdr = (
        b"OggS\x00" + bytes([htype])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial) + struct.pack("<I", seq)
        + b"\x00\x00\x00\x00"  # CRC left zero: fixtures, not players
        + bytes([len(segs)]) + bytes(segs)
    )
    return hdr + packet


def encode_ogg(
    codec: str = "vorbis", *, rate: int = 44100, channels: int = 2,
    total_granules: int = 0, pre_skip: int = 312,
) -> bytes:
    """Minimal two-page OGG (id-header page + empty EOS page carrying the
    final granule position) — parser fixtures only, CRCs unset."""
    if codec == "vorbis":
        pkt = (
            b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
            + struct.pack("<I", rate) + b"\x00" * 16 + b"\x01"
        )
    elif codec == "opus":
        pkt = (
            b"OpusHead\x01" + bytes([channels])
            + struct.pack("<H", pre_skip) + struct.pack("<I", rate)
            + b"\x00\x00\x00"
        )
    else:
        raise ValueError(f"codec must be vorbis|opus, got {codec!r}")
    return (
        _ogg_page_bytes(7, 0, 0, pkt, htype=2)
        + _ogg_page_bytes(7, 1, total_granules, b"", htype=4)
    )
