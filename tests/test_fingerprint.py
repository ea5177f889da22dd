"""Winnowing fingerprints (the corpus kernel ``fingerprint_documents``):
pure-Python reference equality, the SIGMOD guarantee (substring matches of
length >= w+k-1 share a fingerprint), formatting invariance, and edge
cases."""

from __future__ import annotations

from evidence_datasource_parsers_spark.functions.fingerprint import (
    BASE,
    MOD_SMALL,
    fingerprint_documents,
)


def _py_kgrams(text: str, k: int) -> list[int]:
    import re

    norm = re.sub(r"\s+", " ", text.lower()).strip()
    out = []
    for i in range(len(norm) - k + 1):
        h = 0
        for c in norm[i : i + k]:
            h = (h * BASE + ord(c)) % MOD_SMALL
        out.append(h)
    return out


def _py_winnow(hashes: list[int], w: int) -> list[int]:
    if not hashes:
        return []
    if len(hashes) < w:
        return sorted({min(hashes)})
    return sorted(
        {min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)}
    )


def _fp(spark, text, k=5, w=4):
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    return fingerprint_documents(df, k=k, w=w).first().fingerprints


def test_matches_python_reference(spark):
    text = "The quick brown fox jumps over the lazy dog"
    for k, w in [(5, 4), (3, 2), (8, 5)]:
        got = _fp(spark, text, k, w)
        assert got == _py_winnow(_py_kgrams(text, k), w), (k, w)


def test_shared_substring_guarantee(spark):
    """Any shared substring of length >= w+k-1 must share a fingerprint."""
    k, w = 5, 4
    shared = "identical passage of text here"  # len 30 >= 8
    a = _fp(spark, "prefix junk one " + shared + " tail alpha", k, w)
    b = _fp(spark, "other start " + shared + " different ending", k, w)
    assert set(a) & set(b), "winnowing guarantee violated"


def test_formatting_invariance(spark):
    a = _fp(spark, "Hello   World\n\tagain")
    b = _fp(spark, "hello world again")
    assert a == b


def test_disjoint_docs_low_overlap(spark):
    a = _fp(spark, "abcdefghijklmnop qrstuv wxyz one")
    b = _fp(spark, "0123456789 totally unrelated 999")
    assert a and b
    assert not set(a) & set(b)


def test_short_doc_still_fingerprints(spark):
    # len(norm)=6 with k=5 → 2 grams < w=4 → global min kept
    assert len(_fp(spark, "abcdef")) == 1
    assert _fp(spark, "abc") == []  # shorter than k


def test_winnow_fuzz_matches_reference(spark):
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(st.text(alphabet="ab c", min_size=0, max_size=40),
           st.sampled_from([(3, 2), (5, 4)]))
    def check(text, kw):
        k, w = kw
        got = _fp(spark, text, k, w)
        assert got == _py_winnow(_py_kgrams(text, k), w)

    check()
