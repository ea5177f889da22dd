"""Charset sniff / decode / mojibake-repair tier (functions/charset.py).

Parity note: the reference ingests pre-decoded JSON and never sees raw
bytes; this tier exists for the crawl sources.  The detection order under
test is the HTML5 encoding sniff (BOM > transport > in-band declaration >
content heuristic), and the repair is the ftfy-style strict round-trip.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.charset import (
    decode_payload,
    decode_text_frame,
    repair_mojibake,
    sniff_charset,
)

# ---------------------------------------------------------------------------
# sniff_charset — detection order and label normalization


def test_bom_beats_everything():
    # a UTF-16-LE BOM wins even when the header lies
    codec, src = sniff_charset(
        "﻿hi".encode("utf-16-le"), "text/html; charset=shift_jis"
    )
    assert (codec, src) == ("utf-16-le", "bom")


def test_utf32_bom_wins_over_utf16_prefix():
    # BOM_UTF32_LE starts with BOM_UTF16_LE — longer match must win
    codec, src = sniff_charset("﻿x".encode("utf-32-le"))
    assert (codec, src) == ("utf-32-le", "bom")


def test_http_header_beats_meta():
    payload = b'<meta charset="shift_jis">plain ascii'
    codec, src = sniff_charset(payload, "text/html; charset=UTF-8")
    assert (codec, src) == ("utf-8", "http")


def test_meta_beats_content_heuristic():
    payload = b'<html><meta charset="windows-1251">\xc2\xe0\xf1\xff</html>'
    codec, src = sniff_charset(payload)
    assert (codec, src) == ("cp1251", "meta")


def test_xml_declaration():
    codec, src = sniff_charset(b"<?xml version='1.0' encoding=\"UTF-8\"?><r/>")
    assert (codec, src) == ("utf-8", "meta")


def test_valid_utf8_detected_without_declaration():
    codec, src = sniff_charset("café 東京".encode())
    assert (codec, src) == ("utf-8", "utf8")


def test_invalid_utf8_falls_back_to_cp1252():
    codec, src = sniff_charset(b"smart \x93quotes\x94")
    assert (codec, src) == ("cp1252", "fallback")


@pytest.mark.parametrize(
    ("label", "expected"),
    [
        ("ISO-8859-1", "cp1252"),  # the HTML5 rule
        ("latin1", "cp1252"),
        ("us-ascii", "cp1252"),
        ("GB2312", "gbk"),
        ("Shift-JIS", "shift_jis"),
        ("ks_c_5601-1987", "euc_kr"),
        ("unicode", "utf-16"),
    ],
)
def test_whatwg_label_aliases(label, expected):
    codec, src = sniff_charset(b"x", f"text/html; charset={label}")
    assert (codec, src) == (expected, "http")


def test_unknown_label_ignored():
    # a garbage declared charset falls through to the content heuristic
    codec, src = sniff_charset(b"plain", "text/html; charset=bogus-999")
    assert (codec, src) == ("utf-8", "utf8")


# ---------------------------------------------------------------------------
# decode_payload


def test_decode_null_in_null_out():
    assert decode_payload(None) == (None, None, None)


def test_decode_strips_utf16_bom():
    text, codec, src = decode_payload("﻿São".encode("utf-16-le"))
    assert text == "São"
    assert (codec, src) == ("utf-16-le", "bom")


def test_decode_cp1252_declared_via_alias():
    text, codec, src = decode_payload(
        "café — déjà".encode("cp1252"),
        "text/plain; charset=iso-8859-1",
    )
    assert text == "café — déjà"
    assert (codec, src) == ("cp1252", "http")


def test_decode_lying_header_yields_replacement_not_failure():
    # declared utf-16 but odd byte count: codec replaces, task survives
    text, codec, src = decode_payload(b"abc", "text/html; charset=utf-16")
    assert text is not None
    assert src == "http"


def test_decode_shift_jis():
    text, codec, src = decode_payload(
        "東京".encode("shift_jis"), "text/html; charset=Shift_JIS"
    )
    assert text == "東京"
    assert codec == "shift_jis"


# ---------------------------------------------------------------------------
# repair (Python kernel, then the Spark surfaces)


def _repair_py(s):
    from evidence_datasource_parsers_spark.functions.charset import (
        _repair_value,
    )

    return _repair_value(s)


def test_repair_classic_mojibake():
    damaged = "São".encode().decode("latin-1")  # "SÃ£o"
    assert _repair_py(damaged) == "São"


def test_repair_double_encoded():
    once = "café".encode().decode("latin-1")
    twice = once.encode().decode("latin-1")
    assert _repair_py(twice) == "café"


def test_repair_leaves_legit_accents_alone():
    for clean in ("São Paulo", "déjà vu", "naïve",
                  "東京", "plain ascii"):
        assert _repair_py(clean) == clean


def test_repair_handles_cp1252_holes():
    # '—' (U+2014) utf-8 = E2 80 94; 0x80/0x94 are cp1252 printables,
    # and CJK utf-8 bytes hit the 0x81/0x8D/0x8F/0x90/0x9D holes when
    # the damage path was latin-1
    for original in ("a — b", "東京 data"):
        damaged = original.encode().decode("latin-1")
        assert _repair_py(damaged) == original


def test_repair_null():
    assert _repair_py(None) is None


# ---------------------------------------------------------------------------
# Spark surfaces


def test_decode_text_frame_mixed_encodings(spark):
    rows = [
        (1, "café 東京".encode(), None),
        (2, "São — déjà".encode("cp1252"),
         "text/html; charset=iso-8859-1"),
        (3, "﻿über".encode("utf-16-le"), None),
        (4, b'<meta charset="shift_jis">' + "東".encode("shift_jis"),
         None),
        (5, b"smart \x93quotes\x94", None),
        (6, None, "text/plain"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, http_content_type string"
    )
    got = {
        r["doc_id"]: r
        for r in decode_text_frame(df, "payload", "http_content_type")
        .collect()
    }
    assert got[1]["text"] == "café 東京"
    assert (got[1]["charset"], got[1]["charset_source"]) == ("utf-8", "utf8")
    assert got[2]["text"] == "São — déjà"
    assert got[2]["charset"] == "cp1252"
    assert got[2]["charset_source"] == "http"
    assert got[3]["text"] == "über"
    assert got[3]["charset_source"] == "bom"
    assert got[4]["text"].endswith("東")
    assert got[4]["charset"] == "shift_jis"
    assert got[4]["charset_source"] == "meta"
    assert got[5]["text"] == "smart “quotes”"
    assert got[5]["charset_source"] == "fallback"
    assert got[6]["text"] is None and got[6]["charset"] is None
    # passthrough column survives
    assert set(got) == {1, 2, 3, 4, 5, 6}


def test_decode_text_frame_no_shuffle(spark):
    df = spark.createDataFrame(
        [(1, b"x", None)],
        "doc_id long, payload binary, http_content_type string",
    )
    plan = (
        decode_text_frame(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_repair_mojibake_column(spark):
    damaged = "São Paulo — café".encode().decode("latin-1")
    df = spark.createDataFrame(
        [(1, damaged), (2, "clean ascii"), (3, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["fixed"]
        for r in df.select(
            "doc_id", repair_mojibake("text").alias("fixed")
        ).collect()
    }
    assert got[1] == "São Paulo — café"
    assert got[2] == "clean ascii"
    assert got[3] is None


# ---------------------------------------------------------------------------
# robustness: the decode/repair kernels must NEVER raise — a poisoned
# payload must yield replacement text, not a dead Spark task

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(
    payload=st.binary(max_size=256),
    ctype=st.one_of(
        st.none(),
        st.text(max_size=40),
        st.sampled_from([
            "text/html; charset=utf-16",
            "text/html; charset=gb2312",
            "text/html; charset==broken=",
            "text/html; charset=",
        ]),
    ),
)
def test_decode_payload_never_raises(payload, ctype):
    text, codec, source = decode_payload(payload, ctype)
    assert isinstance(text, str)
    assert source in ("bom", "http", "meta", "utf8", "fallback")


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=128))
def test_repair_never_raises_and_is_conservative(s):
    from evidence_datasource_parsers_spark.functions.charset import (
        _repair_value,
    )

    out = _repair_value(s)
    assert isinstance(out, str)
    # repair either leaves text alone or strictly shrinks it
    assert out == s or len(out) < len(s)


def test_decode_text_frame_without_content_type_column(spark):
    # a frame lacking the default content-type column must decode via
    # the content heuristic, not die with an executor-side KeyError
    df = spark.createDataFrame(
        [(1, "café".encode())], "doc_id long, payload binary"
    )
    row = decode_text_frame(df, "payload").collect()[0]
    assert row["text"] == "café"
    assert row["charset_source"] == "utf8"


def test_warc_documents_charset_sniff(spark):
    """End-to-end over crawled response rows (record id, url, HTTP
    Content-Type, payload): a cp1252-declared page and a Shift-JIS meta
    page come out of decode_text_frame → strip_html correctly decoded,
    with provenance columns; the utf8 cast would mangle both."""
    from evidence_datasource_parsers_spark.functions.html import strip_html

    body1 = "<p>São Paulo — café</p>".encode("cp1252")
    body2 = (
        b'<meta charset="shift_jis"><p>'
        + "東京".encode("shift_jis")
        + b"</p>"
    )
    recs = spark.createDataFrame(
        [
            ("r1", "http://a.example/x", "text/html; charset=iso-8859-1",
             body1),
            ("r2", "http://b.example/y", "text/html", body2),
        ],
        "record_id string, url string, http_content_type string,"
        " payload binary",
    )
    out = decode_text_frame(
        recs, "payload", "http_content_type", text_col="__body"
    ).select(
        "url", strip_html(F.col("__body")).alias("text"),
        "charset", "charset_source",
    )
    rows = {r["url"]: r for r in out.collect()}
    assert rows["http://a.example/x"]["text"] == (
        "São Paulo — café"
    )
    assert rows["http://a.example/x"]["charset"] == "cp1252"
    assert rows["http://a.example/x"]["charset_source"] == "http"
    assert "東京" in rows["http://b.example/y"]["text"]
    assert rows["http://b.example/y"]["charset"] == "shift_jis"
    assert rows["http://b.example/y"]["charset_source"] == "meta"
    # the UTF-8 cast is the mangling path the sniff replaces
    raw = {r["url"]: r["t"] for r in recs.select(
        "url", F.col("payload").cast("string").alias("t")
    ).collect()}
    assert "São Paulo" not in raw["http://a.example/x"]
