"""PDF text-extraction tier (functions/pdf.py): writer/parser roundtrip,
damage tolerance and the Spark frame surface."""

from __future__ import annotations

import zlib

import pytest

from evidence_datasource_parsers_spark.functions.pdf import (
    encode_pdf,
    parse_pdf,
    pdf_text_frame,
)

# ---------------------------------------------------------------------------
# roundtrip


def test_roundtrip_multipage_flate():
    b = encode_pdf(
        [["page one line one", "page one line two"], ["page two"]],
        flate=True,
        title="My Title",
        producer="unit",
    )
    m = parse_pdf(b)
    assert m["version"] == "1.4"
    assert m["n_pages"] == 2
    assert m["title"] == "My Title"
    assert m["producer"] == "unit"
    assert m["text"] == "page one line one\npage one line two\npage two"


def test_roundtrip_uncompressed():
    m = parse_pdf(encode_pdf([["raw stream text"]], flate=False))
    assert m["n_pages"] == 1
    assert m["text"] == "raw stream text"


def test_roundtrip_escapes_and_nesting():
    lines = ["parens (nested (deep)) kept", "back\\slash", "tab\tchar"]
    m = parse_pdf(encode_pdf([lines]))
    assert m["text"] == "\n".join(lines)


def test_roundtrip_unicode_via_utf16_hex():
    # non-cp1252 text rides the writer's UTF-16BE hex-string path —
    # exercising the parser's §7.9.2.2 BOM branch
    lines = ["東京 データ 図書館", "ascii again"]
    m = parse_pdf(encode_pdf([lines], title="日本語"))
    assert m["text"] == "\n".join(lines)
    assert m["title"] == "日本語"


def test_cp1252_literal_text():
    m = parse_pdf(encode_pdf([["café — déjà €99"]]))
    assert m["text"] == "café — déjà €99"


def test_tj_array_and_quote_operators():
    # hand-built content stream: TJ array with kerning numbers, and the
    # ' next-line-show operator
    content = (
        b"BT /F1 12 Tf 72 720 Td"
        b" [(Hel) -20 (lo) 15 ( world)] TJ"
        b" (next line) ' ET"
    )
    length_line = b"4 0 obj\n<< /Length %d >>\nstream\n" % len(content)
    body = (
        b"%PDF-1.7\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + length_line
        + content
        + b"\nendstream\nendobj\n"
    )
    m = parse_pdf(body)
    assert m["version"] == "1.7"
    assert m["text"] == "Hello world\nnext line"


# ---------------------------------------------------------------------------
# degradation (crawl tail)


def test_not_a_pdf_raises_valueerror():
    with pytest.raises(ValueError):
        parse_pdf(b"%PNG not a pdf")
    with pytest.raises(ValueError):
        parse_pdf(b"")


def test_broken_xref_is_ignored():
    b = bytearray(encode_pdf([["survives broken xref"]]))
    at = bytes(b).rfind(b"startxref")
    b[at:] = b"startxref\n999999\n%%EOF\n"
    assert parse_pdf(bytes(b))["text"] == "survives broken xref"


def test_truncated_stream_degrades_to_empty_page():
    full = encode_pdf([["long " * 200]], flate=True)
    cut = full[: len(full) // 2]
    if not cut.startswith(b"%PDF-"):
        pytest.skip("truncation removed header")
    m = parse_pdf(cut)  # must not raise anything but ValueError
    assert isinstance(m["text"], str)


def test_foreign_filter_skipped():
    # a DCTDecode (JPEG) content stream yields no text, not a crash
    content = b"\xff\xd8\xff\xe0 jpeg bytes"
    length_line = (
        b"4 0 obj\n<< /Length %d /Filter /DCTDecode >>\nstream\n"
        % len(content)
    )
    body = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        + length_line
        + content
        + b"\nendstream\nendobj\n"
    )
    m = parse_pdf(body)
    assert m["n_pages"] == 1
    assert m["text"] == ""


def test_corrupt_flate_skipped():
    content = b"not actually deflate"
    length_line = (
        b"4 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
        % len(content)
    )
    body = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        + length_line
        + content
        + b"\nendstream\nendobj\n"
    )
    assert parse_pdf(body)["text"] == ""


def test_endobj_inside_stream_bytes():
    # flate bytes that happen to contain 'endobj' must not split the span
    payload = zlib.compress(b"BT (tricky) Tj ET")
    # splice 'endobj' into the middle of a COPY that still inflates:
    # instead, build a raw stream containing the marker
    content = b"BT (before) Tj ET endobj BT (after) Tj ET"
    length_line = b"4 0 obj\n<< /Length %d >>\nstream\n" % len(content)
    body = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        + length_line
        + content
        + b"\nendstream\nendobj\n"
    )
    m = parse_pdf(body)
    assert "before" in m["text"] and "after" in m["text"]
    assert payload  # silence unused warning


# ---------------------------------------------------------------------------
# Spark surfaces


def test_pdf_text_frame(spark):
    rows = [
        (1, encode_pdf([["doc one"]], title="T1")),
        (2, encode_pdf([["doc two p1"], ["doc two p2"]], flate=False)),
        (3, b"not a pdf at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in pdf_text_frame(df, "payload").collect()
    }
    assert got[1]["pdf_text"] == "doc one"
    assert got[1]["pdf_pages"] == 1
    assert got[1]["pdf_title"] == "T1"
    assert got[2]["pdf_text"] == "doc two p1\ndoc two p2"
    assert got[2]["pdf_pages"] == 2
    assert got[3]["pdf_text"] is None
    assert got[4]["pdf_text"] is None


def test_pdf_text_frame_no_shuffle(spark):
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    plan = (
        pdf_text_frame(df, "payload")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# review regressions (round 8): indirect /Length, incremental updates,
# Info-vs-annotation titles


def test_indirect_length_resolved():
    # the common real-world layout: stream first, length backfilled as an
    # indirect object with a MULTI-digit number (regex backtracking trap)
    content = zlib.compress(b"BT (via indirect length) Tj ET")
    stream_obj = (
        b"4 0 obj\n<< /Length 15 0 R /Filter /FlateDecode >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n"
    )
    len_obj = b"15 0 obj\n" + str(len(content)).encode() + b"\nendobj\n"
    body = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        + stream_obj
        + len_obj
    )
    assert parse_pdf(body)["text"] == "via indirect length"


def test_incremental_update_latest_object_wins():
    old = b"BT (stale content) Tj ET"
    new = b"BT (updated content) Tj ET"
    old_obj = (
        b"4 0 obj\n<< /Length " + str(len(old)).encode()
        + b" >>\nstream\n" + old + b"\nendstream\nendobj\n"
    )
    new_obj = (
        b"4 0 obj\n<< /Length " + str(len(new)).encode()
        + b" >>\nstream\n" + new + b"\nendstream\nendobj\n"
    )
    body = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        + old_obj
        + new_obj  # incremental update appends the replacement
    )
    assert parse_pdf(body)["text"] == "updated content"


def test_fake_object_header_inside_stream_ignored():
    # stream bytes containing '7 0 obj' must not shadow the real object 7
    content = b"BT (before) Tj ET 7 0 obj garbage BT (x) Tj"
    page = (
        b"3 0 obj\n<< /Type /Page /Contents 7 0 R >>\nendobj\n"
    )
    stream_obj = (
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
    )
    real7 = (
        b"7 0 obj\n<< /Length 17 >>\nstream\nBT (real text) Tj\nendstream"
        b"\nendobj\n"
    )
    m = parse_pdf(b"%PDF-1.4\n" + page + stream_obj + real7)
    assert m["text"] == "real text"


def test_annotation_title_does_not_override_info():
    base = encode_pdf([["body"]], title="Real Title")
    annot = (
        b"99 0 obj\n<< /Type /Annot /Subtype /Link"
        b" /Title (click here) >>\nendobj\n"
    )
    m = parse_pdf(base + annot)
    assert m["title"] == "Real Title"


def test_title_fallback_skips_typed_dicts_without_trailer():
    # no trailer /Info at all: the fallback must skip /Type-carrying
    # dicts and take the bare Info-shaped one
    body = (
        b"%PDF-1.4\n"
        b"5 0 obj\n<< /Type /Annot /Title (nope) >>\nendobj\n"
        b"6 0 obj\n<< /Title (yes) /Producer (p) >>\nendobj\n"
    )
    m = parse_pdf(body)
    assert m["title"] == "yes" and m["producer"] == "p"


def test_object_stream_packed_page():
    """PDF 1.5+ object streams: the page dict and Info live INSIDE a
    Flate-compressed /ObjStm; the content stream stays top-level (streams
    cannot be packed).  Most modern PDFs use this layout."""
    content = b"BT (objstm packed page) Tj ET"
    page_dict = b"<< /Type /Page /Contents 4 0 R >>"
    info_dict = b"<< /Title (Packed Title) >>"
    packed = page_dict + b" " + info_dict
    header = b"3 0 9 " + str(len(page_dict) + 1).encode() + b" "
    objstm_data = zlib.compress(header + packed)
    objstm = (
        b"2 0 obj\n<< /Type /ObjStm /N 2 /First "
        + str(len(header)).encode()
        + b" /Length " + str(len(objstm_data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + objstm_data
        + b"\nendstream\nendobj\n"
    )
    content_obj = (
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
    )
    trailer = b"trailer\n<< /Size 10 /Info 9 0 R >>\n"
    m = parse_pdf(b"%PDF-1.5\n" + objstm + content_obj + trailer)
    assert m["n_pages"] == 1
    assert m["text"] == "objstm packed page"
    assert m["title"] == "Packed Title"


def test_objstm_never_shadows_toplevel():
    # a top-level (newer-revision) object 3 wins over the packed copy
    stale_page = b"<< /Type /Page /Contents 4 0 R >>"
    header = b"3 0 "
    data = zlib.compress(header + stale_page)
    objstm = (
        b"2 0 obj\n<< /Type /ObjStm /N 1 /First "
        + str(len(header)).encode()
        + b" /Length " + str(len(data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + data + b"\nendstream\nendobj\n"
    )
    content = b"BT (top level wins) Tj ET"
    top = (
        b"3 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
    )
    m = parse_pdf(b"%PDF-1.5\n" + objstm + top)
    assert m["text"] == "top level wins"
    assert m["n_pages"] == 1


def test_warc_documents_include_pdf(spark):
    """Crawled response rows (record id, url, HTTP Content-Type,
    payload): the HTML page goes through strip_html, the PDF through
    pdf_text_frame, which also carries the PDF /Title."""
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.functions.html import strip_html

    recs = spark.createDataFrame(
        [
            ("h1", "http://a.example/page", "text/html",
             b"<p>html text</p>"),
            ("p1", "http://a.example/report.pdf", "application/pdf",
             encode_pdf([["pdf report text"]], title="Report")),
        ],
        "record_id string, url string, http_content_type string,"
        " payload binary",
    )
    html = recs.where(F.col("http_content_type").startswith("text/html"))
    pages = {r["url"]: r["text"] for r in html.select(
        "url", strip_html(F.col("payload").cast("string")).alias("text")
    ).collect()}
    assert pages == {"http://a.example/page": "html text"}
    pdfs = recs.where(
        F.col("http_content_type").startswith("application/pdf")
    )
    rows = {r["url"]: r for r in pdf_text_frame(
        pdfs, "payload", text_col="text"
    ).collect()}
    assert set(rows) == {"http://a.example/report.pdf"}
    assert rows["http://a.example/report.pdf"]["text"] == "pdf report text"
    assert rows["http://a.example/report.pdf"]["pdf_title"] == "Report"
