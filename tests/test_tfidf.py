"""TF-IDF / BM25: hand-computed values, boilerplate demotion, plan shape
and the tf cache pin contract."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.tfidf import (
    term_relevance,
    tokenize,
)

DOCS = [
    (1, "the cat sat"),
    (2, "the cat the cat"),
    (3, "dogs bark"),
    (4, None),
]


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_term_relevance_hand_computed(corpus):
    rel = {(r.doc_id, r.term): r for r in
           term_relevance(corpus, "doc_id", "text").collect()}
    # corpus: N=3 scored docs (null text contributes nothing), Σdl=9
    n, avgdl = 3.0, 9.0 / 3.0
    r = rel[(2, "cat")]
    assert (r.tf, r.dl, r.doc_freq) == (2, 4, 2)
    idf = math.log((1 + n) / (1 + 2)) + 1
    assert r.idf == pytest.approx(idf, abs=1e-12)
    assert r.tfidf == pytest.approx(2 * idf, abs=1e-12)
    idf_b = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    exp_bm25 = idf_b * (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 4 / avgdl))
    assert r.bm25 == pytest.approx(exp_bm25, abs=1e-12)
    # a unique term has the max idf
    assert rel[(3, "bark")].doc_freq == 1
    assert (4 not in {d for d, _ in rel}) is True


def test_tokenize_drops_empties(spark):
    df = spark.createDataFrame([("  a  b ",)], "t string")
    toks = df.select(tokenize("t").alias("x")).collect()[0].x
    assert toks == ["a", "b"]


def test_boilerplate_term_scores_near_zero(spark):
    """A term present in EVERY doc gets idf→~1 (tf-idf floor) and
    idf_bm25→~0 — the boilerplate-demotion property."""
    df = spark.createDataFrame(
        [(i, "common filler " + ("rare" if i == 0 else "word"))
         for i in range(20)],
        "doc_id int, text string",
    )
    rel = term_relevance(df, "doc_id", "text")
    common = rel.where(F.col("term") == "common").select("idf_bm25").first()
    rare = rel.where(F.col("term") == "rare").select("idf_bm25").first()
    assert common.idf_bm25 < 0.1 < rare.idf_bm25


def test_term_relevance_plan_shape(spark, corpus):
    """The tf frame is persisted so the tokenize+count corpus scan runs
    ONCE and the three derived consumers (dl, doc_freq, scalars) read the
    cache — the plan must show InMemoryTableScan reuse and no cartesian
    (the only nested-loop is the 1-row corpus-scalar broadcast)."""
    plan = term_relevance(corpus, "doc_id", "text")._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # cached tf feeds the consumers


def test_tf_pin_contract_bounded_fifo(spark, corpus):
    """ADVICE r4: the tf cache handle must not accumulate for the session
    lifetime.  Caller-owned pin via tf_pin=[]; handle-less calls go into a
    bounded FIFO that unpersists the oldest past the cap."""
    from evidence_datasource_parsers_spark.functions import tfidf as T

    def release_fifo():
        while T._PINNED_TF:
            T._PINNED_TF.pop().unpersist()

    release_fifo()
    # caller-owned handle
    pin = []
    out = term_relevance(corpus, "doc_id", "text", tf_pin=pin)
    out.count()
    assert len(pin) == 1 and pin[0].is_cached
    pin.pop().unpersist()
    assert not T._PINNED_TF  # caller-owned pins stay out of the FIFO

    # handle-less calls: FIFO evicts beyond the cap
    frames = []
    for i in range(T._PINNED_TF_MAX + 2):
        frames.append(
            term_relevance(corpus.limit(3 + i), "doc_id", "text")
        )
    assert len(T._PINNED_TF) == T._PINNED_TF_MAX
    assert all(f.is_cached for f in T._PINNED_TF)
    release_fifo()
