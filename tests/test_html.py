"""Tests for HTML text extraction (functions/html.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.html import (
    looks_like_html,
    strip_html,
)

CASES = [
    (
        "<html><head><style>p{color:red}</style>"
        "<script>var x = '<p>evil</p>';</script></head>"
        "<body><h1>Title</h1><p>First para.</p><p>Second &amp; third.</p>"
        "<!-- hidden comment --></body></html>",
        "Title\nFirst para.\nSecond & third.",
    ),
    ("plain text stays intact", "plain text stays intact"),
    ("a &lt;b&gt; c &amp;amp; d", 'a <b> c &amp; d'),
    ("<ul><li>one</li><li>two</li></ul>", "one\ntwo"),
    ("<span>in</span><span>line</span>", "in line"),
    ("A&nbsp;B &quot;q&quot; &#39;s&#39;", "A B \"q\" 's'"),
    (None, None),
]


def test_strip_html_cases(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(CASES)], "i long, html string"
    )
    got = {
        r.i: r.t for r in df.select("i", strip_html("html").alias("t")).collect()
    }
    for i, (h, want) in enumerate(CASES):
        assert got[i] == want, (h, got[i], want)


def test_strip_html_single_pass_contract(spark):
    """Stripping is a no-op on entity-free output (markup fully consumed in
    one pass), and the documented double-unescape hazard is real: encoded
    markup decodes on pass 1 and would be STRIPPED by pass 2 — which is why
    the stage must run exactly once (looks_like_html routes it)."""
    clean = [h for h, _ in CASES if h and "&" not in h]
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(clean)], "i long, html string"
    )
    once = df.select("i", strip_html("html").alias("t"))
    twice = once.select("i", strip_html("t").alias("t"))
    assert sorted((r.i, r.t) for r in once.collect()) == sorted(
        (r.i, r.t) for r in twice.collect()
    )
    # the hazard case, pinned so a future "fix" can't silently change it
    d2 = spark.createDataFrame([("a &lt;b&gt; c",)], "t string")
    one = d2.select(strip_html("t").alias("o")).first().o
    two = d2.select(strip_html(strip_html("t")).alias("o")).first().o
    assert one == "a <b> c" and two == "a c"


def test_looks_like_html_router(spark):
    rows = [
        (1, "<p>hello</p> more <b>tags</b>", True),
        (2, "just some text with 3 < 5 comparison", False),
        (3, "<!DOCTYPE html><html></html>", True),
        (4, "email <someone@example.com> quoted", False),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "i long, t string"
    )
    got = {
        r.i: r.h
        for r in df.select("i", looks_like_html("t").alias("h")).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_extract_links(spark):
    from evidence_datasource_parsers_spark.functions.html import extract_links

    html = (
        '<a href="https://a.example/x">one</a> '
        "<A HREF='HTTP://b.example/y'>two</A> "
        '<a class="z" href="/relative">rel</a> '
        '<a href="#frag">frag</a> <a href="javascript:void(0)">js</a> '
        "no links here"
    )
    df = spark.createDataFrame([(html,), (None,)], "t string")
    got = [r.v for r in df.select(extract_links("t").alias("v")).collect()]
    assert got[0] == ["https://a.example/x", "HTTP://b.example/y"]
    assert got[1] == []


def test_extract_main_text_drops_chrome(spark):
    """The readability tier: nav/footer link chrome and script payloads
    vanish, body prose and the title survive, and the block counters
    expose chrome-only pages."""
    from evidence_datasource_parsers_spark.functions.html import (
        extract_main_text_frame,
        strip_html,
    )
    from pyspark.sql import functions as F

    article = (
        "The container shipping industry moved a record volume this "
        "quarter, driven by restocking across consumer electronics."
    )
    para2 = (
        "Analysts expect rates to normalize as new vessel capacity "
        "enters service through the remainder of the year."
    )
    page = f"""<html><head><title>Shipping Report</title>
    <script>var x = track();</script></head><body>
    <nav><a href="/">Home</a> <a href="/news">News</a>
    <a href="/about">About</a> <a href="/contact">Contact</a></nav>
    <article><p>{article}</p><p>{para2}</p></article>
    <footer><a href="/terms">Terms</a> <a href="/privacy">Privacy</a>
    Copyright</footer></body></html>"""
    chrome_only = """<html><body><nav><a href="/">Home</a>
    <a href="/a">A</a> <a href="/b">B</a></nav></body></html>"""

    df = spark.createDataFrame(
        [(1, page), (2, chrome_only), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in extract_main_text_frame(df).collect()}
    assert article in out[1]["main_text"] and para2 in out[1]["main_text"]
    assert "Home" not in out[1]["main_text"]
    assert "track()" not in out[1]["main_text"]
    assert "Copyright" not in out[1]["main_text"]
    assert out[1]["title"] == "Shipping Report"
    assert out[1]["n_blocks_kept"] >= 2
    assert out[2]["main_text"] is None          # chrome-only page
    assert out[2]["n_blocks_total"] >= 1
    assert out[3]["main_text"] is None          # NULL input

    # contrast: the conservative expression tier keeps the chrome
    flat = df.where(F.col("doc_id") == 1).select(
        strip_html(F.col("text")).alias("t")
    ).collect()[0]["t"]
    assert "Home" in flat and article in flat


def test_extract_main_text_tag_soup_resilient(spark):
    """Real-world malformed markup (unclosed tags, stray brackets, bad
    entities) must yield rows, never task failures."""
    from evidence_datasource_parsers_spark.functions.html import (
        extract_main_text_frame,
    )

    long_line = ("a perfectly reasonable sentence that clears the block "
                 "length threshold for keeping body text around")
    soup = [
        (1, f"<p>{long_line}<div><p>more {long_line}"),
        (2, "<<<>>>< p ><a href=>&&&;&unknown;</b></i>"),
        (3, f"<table><tr><td>{long_line}</table>"),
    ]
    df = spark.createDataFrame(soup, "doc_id long, text string")
    out = {r["doc_id"]: r for r in extract_main_text_frame(df).collect()}
    assert long_line in (out[1]["main_text"] or "")
    assert long_line in (out[3]["main_text"] or "")
    assert out[2]["main_text"] is None  # nothing worth keeping, no crash
