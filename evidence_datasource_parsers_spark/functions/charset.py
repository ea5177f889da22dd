"""Charset detection, byte->text decode, and mojibake repair for crawl
ingestion.

A real crawl is ~90% UTF-8 and a long tail of windows-1252, Shift-JIS,
GBK, ISO-8859-*, and UTF-16 — ``CAST(payload AS STRING)`` (the UTF-8-only
path) silently turns that tail into replacement-character soup.  This
module is the step between raw byte rows and every text operator:

  1. :func:`sniff_charset` — deterministic detection: BOM, then the HTTP
     ``Content-Type`` charset parameter, then an HTML ``<meta>`` /  XML
     declaration scan of the head, then strict UTF-8 validation, then the
     windows-1252 fallback (the HTML5 rule: the web's "latin-1" is
     cp1252 in practice).  Labels normalize through a WHATWG-style alias
     table (``iso-8859-1``/``us-ascii`` -> cp1252, ``gb2312`` -> gbk, ...)
     so declared charsets decode the way browsers decode them.
  2. :func:`decode_text_frame` — the Spark surface: one narrow Arrow
     ``mapInPandas`` pass mapping ``(…, payload binary, content_type)`` to
     ``(…, text, charset, charset_source)`` with every other column
     passed through — no shuffle, no join-back.  Decode never fails a
     task: the detected codec runs with ``errors='replace'`` and
     undecodable-codec rows fall back to cp1252 (which accepts any byte).
  3. :func:`repair_mojibake` — the ftfy-style fix for text that was
     ALREADY damaged upstream (UTF-8 bytes decoded as cp1252 somewhere
     before us): a string repairs only when it contains a lead-byte +
     continuation-byte character bigram (legit "São" never triggers;
     damaged "SÃ£o" does), the cp1252/latin-1 -> UTF-8 round-trip is
     strict, and the result is shorter — applied twice for
     double-encoded text.  Vectorized Arrow ``pandas_udf``.

Parity note: the reference engine ingests pre-decoded JSON and never
faces raw bytes; this tier exists because raw crawl payloads
do.  Detection order follows the HTML5 encoding sniff
(BOM > transport > in-band declaration > content heuristic).
"""

from __future__ import annotations

import codecs

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "sniff_charset",
    "decode_payload",
    "decode_text_frame",
    "repair_mojibake",
]

# BOM table — UTF-32 before UTF-16 (the UTF-32-LE BOM begins with the
# UTF-16-LE BOM, so the longer match must win).
_BOMS: list[tuple[bytes, str]] = [
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]

# WHATWG-style label normalization: how browsers ACTUALLY decode a
# declared label.  Keys are lowercase stripped labels; values are Python
# codec names.  Unlisted labels go through codecs.lookup() verbatim.
_ALIASES: dict[str, str] = {
    # the big one: the web's latin-1 is windows-1252 (HTML5 §8.2.2.3)
    "iso-8859-1": "cp1252",
    "iso8859-1": "cp1252",
    "latin-1": "cp1252",
    "latin1": "cp1252",
    "us-ascii": "cp1252",
    "ascii": "cp1252",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "x-cp1252": "cp1252",
    # CJK superset promotions (same HTML5 table)
    "gb2312": "gbk",
    "gb_2312-80": "gbk",
    "euc-cn": "gbk",
    "shift-jis": "shift_jis",
    "shift_jis": "shift_jis",
    "sjis": "shift_jis",
    "x-sjis": "shift_jis",
    "ms_kanji": "shift_jis",
    "euc-jp": "euc_jp",
    "euc-kr": "euc_kr",
    "ks_c_5601-1987": "euc_kr",
    "big5": "big5",
    "big5-hkscs": "big5hkscs",
    # cyrillic / turkish / hebrew common labels
    "windows-1251": "cp1251",
    "windows-1254": "cp1254",
    "iso-8859-9": "cp1254",
    "koi8-r": "koi8_r",
    "windows-1255": "cp1255",
    "windows-1256": "cp1256",
    "tis-620": "cp874",
    "windows-874": "cp874",
    "utf8": "utf-8",
    "utf-8": "utf-8",
    "unicode": "utf-16",  # IE legacy label
}


def _normalize_label(label: str | None) -> str | None:
    """Declared charset label -> Python codec name, or None if unusable."""
    if not label:
        return None
    lab = label.strip().strip("\"'").lower()
    if not lab:
        return None
    name = _ALIASES.get(lab, lab)
    try:
        codecs.lookup(name)
    except LookupError:
        return None
    return name


def _charset_from_content_type(content_type: str | None) -> str | None:
    if not content_type or "charset" not in content_type.lower():
        return None
    for part in content_type.split(";"):
        k, _, v = part.partition("=")
        if k.strip().lower() == "charset":
            return _normalize_label(v)
    return None


def _charset_from_head(head: bytes) -> str | None:
    """<meta charset=..>, <meta http-equiv content=..charset=..>, or the
    XML declaration, scanned over the ASCII shadow of the head bytes."""
    import re

    shadow = head.decode("latin-1", "replace").lower()
    m = re.search(r"<meta[^>]+charset\s*=\s*[\"']?([\w.:-]+)", shadow)
    if m:
        return _normalize_label(m.group(1))
    m = re.search(r"<\?xml[^>]*encoding\s*=\s*[\"']([\w.:-]+)[\"']", shadow)
    if m:
        return _normalize_label(m.group(1))
    return None


def sniff_charset(
    payload: bytes,
    content_type: str | None = None,
    *,
    head: int = 4096,
    fallback: str = "cp1252",
) -> tuple[str, str]:
    """Detect the charset of a crawl payload.  Returns ``(codec, source)``
    with ``source`` in ``{'bom','http','meta','utf8','fallback'}`` —
    detection order per the module doc (HTML5 sniff order, with strict
    whole-payload UTF-8 validation as the content heuristic)."""
    for bom, codec in _BOMS:
        if payload.startswith(bom):
            return codec, "bom"
    declared = _charset_from_content_type(content_type)
    if declared:
        return declared, "http"
    in_band = _charset_from_head(payload[:head])
    if in_band:
        return in_band, "meta"
    try:
        payload.decode("utf-8")
        return "utf-8", "utf8"
    except UnicodeDecodeError:
        return fallback, "fallback"


def decode_payload(
    payload: bytes | None,
    content_type: str | None = None,
    *,
    fallback: str = "cp1252",
) -> tuple[str | None, str | None, str | None]:
    """One payload -> ``(text, charset, source)``.  NULL in, NULL out.
    The detected codec decodes with ``errors='replace'`` (a lying declared
    charset yields replacement chars, never a task failure); a codec that
    rejects the byte stream wholesale re-routes through cp1252, which
    accepts any byte."""
    if payload is None:
        return None, None, None
    codec, source = sniff_charset(
        payload, content_type, fallback=fallback
    )
    try:
        text = payload.decode(codec, "replace")
    except Exception:  # noqa: BLE001 — e.g. a codec that rejects wholesale
        return payload.decode("cp1252", "replace"), "cp1252", "fallback"
    # utf-8-sig strips its BOM itself; the utf-16/32 endian-specific
    # codecs do not — drop it so BOM'd and BOM-less payloads of the same
    # document decode identically (browsers never surface U+FEFF).
    if source == "bom" and text.startswith("\ufeff"):
        text = text[1:]
    return text, codec, source


def decode_text_frame(
    df: DataFrame,
    payload_col: str = "payload",
    content_type_col: str | None = "http_content_type",
    *,
    text_col: str = "text",
    fallback: str = "cp1252",
) -> DataFrame:
    """Byte rows -> text rows: every column of ``df`` except
    ``payload_col`` passes through unchanged and ``(text, charset,
    charset_source)`` are appended.  One narrow Arrow ``mapInPandas``
    pass — no shuffle, no join-back; at 100 TB the cost is the same
    byte-stream scan any decode must pay, and partition parallelism is
    whatever the upstream byte scan produced."""
    from collections.abc import Iterator

    keep = [f.name for f in df.schema.fields if f.name != payload_col]
    keep_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != payload_col
    )
    out_schema = (
        f"{keep_ddl}, {text_col} string, charset string,"
        " charset_source string"
    )
    # validate at PLAN time: a missing content-type column must not
    # surface as an executor-side KeyError ("decode never fails a task")
    ct = content_type_col if content_type_col in df.columns else None

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, charsets, sources = [], [], []
            ctypes = pdf[ct] if ct else [None] * len(pdf)
            for blob, ctype in zip(pdf[payload_col], ctypes):
                t, c, s = decode_payload(
                    blob,
                    None if ctype is None else str(ctype),
                    fallback=fallback,
                )
                texts.append(t)
                charsets.append(c)
                sources.append(s)
            out = pdf[keep].copy()
            out[text_col] = texts
            out["charset"] = charsets
            out["charset_source"] = sources
            yield out

    return df.mapInPandas(kernel, out_schema)


# ---------------------------------------------------------------------------
# mojibake repair

# A character whose cp1252 byte is a UTF-8 LEAD byte (0xC2-0xF4) followed
# by a character whose cp1252/latin-1 byte is a CONTINUATION byte
# (0x80-0xBF) — the signature of UTF-8 read as cp1252.  Legit prose puts
# letters/spaces after accented capitals; mojibake puts currency signs,
# quotes, and superscripts there.
_LEAD_CHARS = "".join(chr(b) for b in range(0xC2, 0xF5))
_CONT_CHARS = (
    # cp1252 damage path: continuation bytes render as €‚ƒ„…†‡ˆ‰Š‹ŒŽ''""•…
    "".join(
        bytes([b]).decode("cp1252", "replace") for b in range(0x80, 0xC0)
    ).replace("�", "")
    # latin-1 damage path: 0x80-0x9F render as RAW C1 controls (all of
    # them, not just cp1252's five holes)
    + "".join(chr(b) for b in range(0x80, 0xA0))
)


def _looks_mojibake(s: str) -> bool:
    for i, ch in enumerate(s[:-1]):
        if ch in _LEAD_CHARS and s[i + 1] in _CONT_CHARS:
            return True
    return False


def _repair_once(s: str) -> str | None:
    """One strict cp1252/latin-1 -> UTF-8 round-trip, or None if the text
    is not repairable this way."""
    try:
        raw = s.encode("cp1252")
    except UnicodeEncodeError:
        try:
            # cp1252's five holes (0x81 0x8D 0x8F 0x90 0x9D) come back as
            # C1 controls under latin-1 — accept either byte path.
            raw = s.encode("latin-1")
        except UnicodeEncodeError:
            return None
    try:
        fixed = raw.decode("utf-8")
    except UnicodeDecodeError:
        return None
    # a true repair always shrinks (multi-char sequences collapse)
    if len(fixed) >= len(s) or "�" in fixed:
        return None
    return fixed


def _repair_value(s: str | None) -> str | None:
    if s is None:
        return None
    out = s
    for _ in range(2):  # double-encoded text needs two passes
        if not _looks_mojibake(out):
            break
        fixed = _repair_once(out)
        if fixed is None:
            break
        out = fixed
    return out


def repair_mojibake(text: Column | str) -> Column:
    """ftfy-style mojibake repair as a vectorized Arrow ``pandas_udf`` —
    see the module doc for the (deliberately conservative) trigger rule.
    Clean text, including legit accented prose ("São Paulo", "déjà vu"),
    passes through byte-identical; only strings carrying a lead+
    continuation bigram that round-trip strictly and shrink are rewritten.
    NULL in, NULL out."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fix(col: pd.Series) -> pd.Series:
        return col.map(_repair_value, na_action="ignore")

    c = F.col(text) if isinstance(text, str) else text
    return _fix(c)
