"""Tests for URL canonicalization (functions/urls.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.urls import (
    canonicalize_url_sql,
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
