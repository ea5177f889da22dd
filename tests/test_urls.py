"""Tests for URL canonicalization (functions/urls.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.urls import (
    canonicalize_url_sql,
    dedupe_by_url,
    registrable_domain_sql,
)

CASES = [
    # (input, canonical)
    ("HTTP://Example.COM:80/a?utm_source=x&b=1#frag", "http://example.com/a?b=1"),
    ("https://example.com:443/", "https://example.com/"),
    ("https://example.com", "https://example.com/"),
    ("http://example.com/a/b/", "http://example.com/a/b"),
    ("http://example.com/a?z=2&a=1", "http://example.com/a?a=1&z=2"),
    (
        "http://example.com/a?fbclid=abc&gclid=x&utm_medium=m",
        "http://example.com/a",
    ),
    ("http://example.com:8080/x", "http://example.com:8080/x"),  # real port kept
    ("not a url at all", "not a url at all"),  # unparseable passes through
    ("HTTPS://A.B.co.uk/P?q=1#f", "https://a.b.co.uk/P?q=1"),  # path case kept
    (
        "HTTP://WWW.Example.Com:80/a/b/?utm_source=x&b=2&a=1#f",
        "http://www.example.com/a/b?a=1&b=2",
    ),
    ("https://Sub.Example.CO.UK:443/", "https://sub.example.co.uk/"),
    ("ftp://Host:21/x?z=1", "ftp://host:21/x?z=1"),  # other schemes keep ports
    ("http://h:80", "http://h/"),
    (None, None),
]


def _canon(col: str):
    return F.expr(canonicalize_url_sql(f"`{col}`"))


def test_canonicalize_url_cases(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CASES)],
                               "i long, url string")
    got = {r.i: r.c for r in df.select("i", _canon("url").alias("c")).collect()}
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)


def test_registrable_domain(spark):
    cases = [
        ("http://www.example.com/x", "example.com"),
        ("https://a.b.co.uk:443/", "b.co.uk"),
        ("http://deep.sub.domain.org/", "domain.org"),
        ("http://localhost/x", "localhost"),
        ("nonsense", None),
        ("HTTP://WWW.Example.Com:80/a/b/?utm_source=x&b=2&a=1#f", "example.com"),
        ("https://Sub.Example.CO.UK:443/", "example.co.uk"),
        ("not a url", None),
        (None, None),
        ("ftp://Host:21/x?z=1", "host"),
        ("http://h:80", "h"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r.i: r.d
        for r in df.select(
            "i", F.expr(registrable_domain_sql("`url`")).alias("d")
        ).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_canonicalize_url_idempotent_fuzz(spark):
    """canonicalize ∘ canonicalize ≡ canonicalize over generated URLs —
    the law that makes the stage retry-safe and lets stores keyed on
    canonical URLs be re-canonicalized harmlessly."""
    import random

    rng = random.Random(1234)
    schemes = ["http", "HTTP", "https", "HtTpS"]
    hosts = ["Example.com", "WWW.Sub.Example.CO.UK", "localhost", "a.b.c"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/a", "/a/b/", "/a//", "/A/B"]
    queries = [
        "",
        "?a=1",
        "?z=2&a=1",
        "?utm_source=x",
        "?utm_source=x&b=2&a=1",
        "?fbclid=f&gclid=g",
    ]
    frags = ["", "#f", "#a=b"]
    urls = []
    for _ in range(300):
        urls.append(
            rng.choice(schemes)
            + "://"
            + rng.choice(hosts)
            + rng.choice(ports)
            + rng.choice(paths)
            + rng.choice(queries)
            + rng.choice(frags)
        )
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    out = (
        df.select("i", _canon("url").alias("c1"))
        .select("i", "c1", _canon("c1").alias("c2"))
        .collect()
    )
    bad = [(urls[r.i], r.c1, r.c2) for r in out if r.c1 != r.c2]
    assert not bad, bad[:5]


def test_dedupe_by_url_keeps_min_id(spark):
    df = spark.createDataFrame(
        [
            (3, "http://Example.com/a?utm_source=x", "later alias"),
            (1, "http://example.com/a", "first"),
            (2, "http://example.com/b", "other"),
        ],
        "doc_id long, url string, text string",
    )
    out = {r.doc_id for r in dedupe_by_url(df, "url", "doc_id").collect()}
    assert out == {1, 2}


def test_filter_urls_blocklist_and_patterns(spark):
    from evidence_datasource_parsers_spark.functions.urls import filter_urls

    rows = [
        (1, "http://good.example/article/1"),
        (2, "http://cdn.spam.example/x"),        # subdomain of blocked
        (3, "http://spam.example/y"),            # blocked exactly
        (4, "http://good.example/tag/cats"),     # path pattern junk
        (5, "http://good.example/Login?next=/"), # pattern, case-insensitive
        (6, None),                               # null URL
        (7, "http://other.example/fine"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    kept = filter_urls(
        df, "url",
        block_domains=["spam.example"],
        block_patterns=[r"/tag/", r"/login"],
    )
    assert {r.id for r in kept.collect()} == {1, 7}
    # allowlist mode
    only = filter_urls(df, "url", allow_domains=["good.example"])
    assert {r.id for r in only.collect()} == {1, 4, 5}
    # null URLs kept on request
    withnull = filter_urls(df, "url", keep_null_urls=True)
    assert 6 in {r.id for r in withnull.collect()}
    # ADVICE r5: allowlist + keep_null_urls must still keep NULL-host rows
    # (a bare isin is NULL for a NULL domain and where() would drop it)
    both = filter_urls(
        df, "url", allow_domains=["good.example"], keep_null_urls=True
    )
    assert {r.id for r in both.collect()} == {1, 4, 5, 6}


def test_filter_urls_is_codegen_native(spark):
    """The gate must stay in whole-stage codegen: no Python eval nodes."""
    from evidence_datasource_parsers_spark.functions.urls import filter_urls

    df = spark.createDataFrame([(1, "http://a.example/x")], "id long, url string")
    plan = filter_urls(
        df, "url", block_domains=["b.example"], block_patterns=["/junk"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
