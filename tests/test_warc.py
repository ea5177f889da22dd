"""WARC source: record grammar, HTTP envelope split, gzip multi-member
files, truncation guard, and the Spark reader end-to-end."""

from __future__ import annotations

import gzip

import pytest

from evidence_datasource_parsers_spark.sources.warc import (
    iter_warc_records,
    read_warc,
    split_http_payload,
)


_REC_SEQ = [0]  # WARC record ids are unique in real archives; mirror that


def _record(wtype: str, payload: bytes, url: str | None = None) -> bytes:
    _REC_SEQ[0] += 1
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + wtype.encode(),
        b"WARC-Record-ID: <urn:uuid:%s-%d>" % (wtype.encode(), _REC_SEQ[0]),
        b"WARC-Date: 2024-01-01T00:00:00Z",
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if url:
        headers.append(b"WARC-Target-URI: " + url.encode())
    return b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _http(body: bytes, ctype: bytes = b"text/html") -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype
        + b"\r\nServer: x\r\n\r\n" + body
    )


def _warc_bytes() -> bytes:
    return (
        _record("warcinfo", b"software: test")
        + _record("response", _http(b"<html>hello page one</html>"),
                  "http://a.example/one")
        + _record("request", b"GET /one HTTP/1.1\r\nHost: a.example\r\n",
                  "http://a.example/one")
        + _record("response", _http(b"plain body", b"text/plain"),
                  "http://a.example/two")
    )


def test_iter_records_plain_and_gzip():
    for raw in (_warc_bytes(), gzip.compress(_warc_bytes())):
        recs = list(iter_warc_records(raw))
        assert [r["warc_type"] for r in recs] == [
            "warcinfo", "response", "request", "response"
        ]
        assert recs[1]["url"] == "http://a.example/one"
        assert recs[1]["payload"].startswith(b"HTTP/1.1 200")


def test_multi_member_gzip():
    raw = gzip.compress(
        _record("response", _http(b"m1"), "http://m/1")
    ) + gzip.compress(_record("response", _http(b"m2"), "http://m/2"))
    recs = list(iter_warc_records(raw))
    assert [r["url"] for r in recs] == ["http://m/1", "http://m/2"]


def test_split_http_payload():
    status, ctype, body = split_http_payload(_http(b"the body"))
    assert (status, ctype, body) == (200, "text/html", b"the body")
    assert split_http_payload(b"not http") == (None, None, b"not http")


def _http_enc(body: bytes, extra_headers: bytes) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + extra_headers
        + b"\r\n"
        + body
    )


def test_split_http_gzip_body():
    raw = _http_enc(
        gzip.compress(b"compressed page"),
        b"Content-Encoding: gzip\r\n",
    )
    assert split_http_payload(raw)[2] == b"compressed page"


def test_split_http_deflate_both_flavors():
    import zlib

    zlib_wrapped = _http_enc(
        zlib.compress(b"zlib flavor"), b"Content-Encoding: deflate\r\n"
    )
    assert split_http_payload(zlib_wrapped)[2] == b"zlib flavor"
    co = zlib.compressobj(wbits=-15)
    raw_deflate = _http_enc(
        co.compress(b"raw flavor") + co.flush(),
        b"Content-Encoding: deflate\r\n",
    )
    assert split_http_payload(raw_deflate)[2] == b"raw flavor"


def test_split_http_chunked():
    chunked = b"7\r\nchunked\r\n5\r\n body\r\n0\r\n\r\n"
    raw = _http_enc(chunked, b"Transfer-Encoding: chunked\r\n")
    assert split_http_payload(raw)[2] == b"chunked body"


def test_split_http_chunked_then_gzip():
    gz = gzip.compress(b"both codings")
    chunked = (
        f"{len(gz):x}\r\n".encode() + gz + b"\r\n0\r\n\r\n"
    )
    raw = _http_enc(
        chunked,
        b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n",
    )
    assert split_http_payload(raw)[2] == b"both codings"


def test_split_http_broken_codings_keep_raw_bytes():
    # truncated gzip: raw bytes survive, task does not fail
    gz = gzip.compress(b"x" * 100)[:20]
    raw = _http_enc(gz, b"Content-Encoding: gzip\r\n")
    assert split_http_payload(raw)[2] == gz
    # broken chunk framing: raw bytes survive
    bad = b"ZZ\r\nnot a chunk"
    raw = _http_enc(bad, b"Transfer-Encoding: chunked\r\n")
    assert split_http_payload(raw)[2] == bad
    # unknown coding (no brotli in the sandbox): raw bytes survive
    raw = _http_enc(b"\x1b?br?", b"Content-Encoding: br\r\n")
    assert split_http_payload(raw)[2] == b"\x1b?br?"


def test_truncation_guard():
    big = _record("response", _http(b"x" * 1000), "http://big/") + _record(
        "response", _http(b"after"), "http://after/"
    )
    recs = list(iter_warc_records(big, max_payload=100))
    assert recs[0]["payload_truncated"] is True
    assert len(recs[0]["payload"]) == 100
    # the truncated record is fully drained: the NEXT record still parses
    assert recs[1]["url"] == "http://after/"
    assert recs[1]["payload_truncated"] is False


def test_read_warc_dataframe(spark, tmp_path):
    (tmp_path / "a.warc.gz").write_bytes(gzip.compress(_warc_bytes()))
    (tmp_path / "b.warc").write_bytes(
        _record("response", _http(b"<p>second file</p>"), "http://b/x")
    )
    df = read_warc(spark, str(tmp_path), responses_only=True)
    rows = {r.url: r for r in df.collect()}
    assert set(rows) == {
        "http://a.example/one", "http://a.example/two", "http://b/x"
    }
    r = rows["http://a.example/one"]
    assert r.http_status == 200
    assert r.http_content_type == "text/html"
    assert bytes(r.payload) == b"<html>hello page one</html>"
    assert r.payload_truncated is False
    # all record types without the filter
    all_types = {r.warc_type for r in read_warc(spark, str(tmp_path)).collect()}
    assert all_types == {"warcinfo", "response", "request"}


def test_bad_magic_failfast_raises():
    with pytest.raises(ValueError, match="WARC version"):
        list(iter_warc_records(b"GARBAGE\r\n\r\n", mode="FAILFAST"))


def test_malformed_record_policies():
    """One mangled record must not fail the file (ADVICE r4): PERMISSIVE
    flags it and resyncs at the next version line, DROPMALFORMED skips,
    FAILFAST raises.  Covers bad version line AND non-numeric/negative
    Content-Length."""
    bad_version = b"GARBAGE LINE\r\n\r\n"
    bad_length = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: NaN\r\n\r\n"
    )
    neg_length = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -9\r\n\r\n"
    )
    for junk in (bad_version, bad_length, neg_length):
        raw = (
            _record("response", _http(b"first ok"), "http://a.example/1")
            + junk
            + _record("response", _http(b"second ok"), "http://a.example/2")
        )
        perm = list(iter_warc_records(raw))  # PERMISSIVE default
        assert [r["warc_type"] for r in perm] == [
            "response", "__malformed__", "response",
        ]
        assert perm[1]["payload"]  # carries the parse error text
        drop = list(iter_warc_records(raw, mode="DROPMALFORMED"))
        assert [r["warc_type"] for r in drop] == ["response", "response"]
        assert drop[1]["url"] == "http://a.example/2"
        with pytest.raises(ValueError):
            list(iter_warc_records(raw, mode="FAILFAST"))


def test_malformed_tail_only_flags_once():
    raw = _record("response", _http(b"ok"), "http://a.example/1") + b"TRAILING JUNK"
    out = list(iter_warc_records(raw))
    types = [r["warc_type"] for r in out]
    assert types == ["response", "__malformed__"]


def test_warc_documents_crawl_ts_feeds_temporal_split(spark, tmp_path):
    from evidence_datasource_parsers_spark.operators.sampling import (
        temporal_split,
    )
    from evidence_datasource_parsers_spark.sources.warc import warc_documents

    raw = _record("response", _http(b"early doc"), "http://t/1").replace(
        b"WARC-Date: 2024-01-01T00:00:00Z", b"WARC-Date: 2023-06-01T12:30:00Z"
    ) + _record("response", _http(b"late doc"), "http://t/2")
    (tmp_path / "t.warc").write_bytes(raw)

    docs = warc_documents(spark, str(tmp_path))
    assert dict(docs.dtypes)["crawl_ts"] == "timestamp"
    split = temporal_split(
        docs, "crawl_ts", [("train", "2024-01-01"), ("eval", None)]
    )
    got = {r.url: r.split for r in split.collect()}
    assert got == {"http://t/1": "train", "http://t/2": "eval"}


def test_warc_media_crawl_to_multimodal(spark, tmp_path):
    """Crawl→multimodal loop: image/* responses come out as blob rows with
    REAL decoded-pixel stats (the baseline JPEG codec + PPM decoder);
    corrupt images surface as NULL stats, text responses are excluded."""
    import numpy as np

    from evidence_datasource_parsers_spark.functions.jpeg import encode_jpeg
    from evidence_datasource_parsers_spark.operators.multimodal import (
        encode_ppm,
    )
    from evidence_datasource_parsers_spark.sources.warc import warc_media

    flat = np.full((8, 8, 3), 50, dtype=np.uint8)
    raw = (
        _record("response", _http(b"<html>text page</html>"),
                "http://a.example/page")
        + _record("response", _http(encode_jpeg(flat, quality=95),
                                    b"image/jpeg"),
                  "http://a.example/photo.jpg")
        + _record("response", _http(encode_ppm(flat), b"image/x-portable-pixmap"),
                  "http://a.example/pic.ppm")
        + _record("response", _http(b"\xff\xd8\xffcorrupt", b"image/jpeg"),
                  "http://a.example/broken.jpg")
    )
    (tmp_path / "m.warc.gz").write_bytes(gzip.compress(raw))

    out = warc_media(spark, str(tmp_path)).collect()
    by_url = {r["url"]: r for r in out}
    assert len(out) == 3  # html response excluded
    jpg = by_url["http://a.example/photo.jpg"]
    ppm = by_url["http://a.example/pic.ppm"]
    bad = by_url["http://a.example/broken.jpg"]
    assert jpg["img_format"] == "jpeg" and ppm["img_format"] == "ppm"
    assert jpg["pixel_sum"] == ppm["pixel_sum"] == 50 * 8 * 8 * 3
    assert jpg["content_type"] == "image/jpeg"
    assert jpg["crawl_ts"] is not None
    assert bad["img_format"] is None and bad["pixel_sum"] is None
    # blob rows only (no decode pass) when decode_stats=False
    slim = warc_media(spark, str(tmp_path), decode_stats=False)
    assert "pixel_sum" not in slim.columns and slim.count() == 3


def test_warc_media_decodes_progressive_jpeg(spark, tmp_path):
    """A progressive (SOF2) crawl image yields REAL stats — before round 6
    these fell out of the dedup/stats tiers as NULL rows."""
    import numpy as np

    from evidence_datasource_parsers_spark.functions.jpeg import (
        encode_jpeg, encode_jpeg_progressive,
    )
    from evidence_datasource_parsers_spark.sources.warc import warc_media

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    prog = encode_jpeg_progressive(flat, quality=95)
    raw = (
        _record("response", _http(prog, b"image/jpeg"),
                "http://a.example/progressive.jpg")
        + _record("response", _http(encode_jpeg(flat, quality=95),
                                    b"image/jpeg"),
                  "http://a.example/baseline.jpg")
    )
    (tmp_path / "p.warc.gz").write_bytes(gzip.compress(raw))
    by_url = {r["url"]: r for r in warc_media(spark, str(tmp_path)).collect()}
    p = by_url["http://a.example/progressive.jpg"]
    b = by_url["http://a.example/baseline.jpg"]
    assert p["img_format"] == "jpeg" and p["pixel_sum"] == 77 * 8 * 8 * 3
    assert p["pixel_sum"] == b["pixel_sum"]  # identical reconstruction


def test_warc_documents_main_content_mode(spark, tmp_path):
    """main_content=True routes HTML through the readability tier: chrome
    links vanish, the title column appears, and plain-text responses pass
    through untouched."""
    from evidence_datasource_parsers_spark.sources.warc import warc_documents
    article = ("The container shipping industry moved record volume this "
               "quarter, driven by broad consumer restocking demand.")
    page = (
        "<html><head><title>Report</title></head><body>"
        '<nav><a href="/">Home</a> <a href="/n">News</a></nav>'
        f"<article><p>{article}</p></article>"
        '<footer><a href="/t">Terms</a></footer></body></html>'
    )
    raw = (
        _record("response", _http(page.encode(), b"text/html"),
                "http://m.example/a")
        + _record("response", _http(b"plain body text", b"text/plain"),
                  "http://m.example/b.txt")
    )
    (tmp_path / "m2.warc.gz").write_bytes(gzip.compress(raw))

    out = {r["url"]: r for r in
           warc_documents(spark, str(tmp_path), main_content=True).collect()}
    a = out["http://m.example/a"]
    assert article in a["text"] and "Home" not in a["text"]
    assert a["title"] == "Report" and a["n_blocks_kept"] >= 1
    b = out["http://m.example/b.txt"]
    assert b["text"] == "plain body text"  # non-HTML passthrough

    # default mode unchanged: chrome text present, no title column
    flat = warc_documents(spark, str(tmp_path))
    assert "title" not in flat.columns
    t = {r["url"]: r["text"] for r in flat.collect()}
    assert "Home" in t["http://m.example/a"]
