"""n-gram LM: hand-computed bigram probabilities, OOV/empty handling,
unigram mode, and the filter property (clean text scores lower perplexity
than garbage under a model trained on clean text).

Documents are scored the way the catalog's perplexity leg does: the
document n-grams from ``_ngrams``, the model counts from
``train_ngram_lm``, V from ``lm_vocab_size``, and add-one smoothing
p(w | ctx) = (c(ctx, w) + 1) / (c(ctx) + V), applied here on the driver."""

from __future__ import annotations

import math
from collections import Counter, namedtuple

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.ngram_lm import (
    _ngrams,
    lm_vocab_size,
    train_ngram_lm,
)


Scored = namedtuple("Scored", "doc_id n_grams logprob perplexity")


def score_docs(docs, lm, text_col, n):
    """One ``Scored`` per document (by ``doc_id``) under the model ``lm``."""
    pairs = Counter({(r.ctx, r.word): r.c for r in lm.collect()})
    ctx = Counter()
    for (c, _), k in pairs.items():
        ctx[c] += k
    v = lm_vocab_size(lm)
    grams = docs.select(
        "doc_id",
        F.explode(_ngrams(F.coalesce(F.col(text_col), F.lit("")), n))
        .alias("g"),
    ).collect()
    acc = {}
    for r in grams:
        lp = math.log((pairs[(r.g.ctx, r.g.word)] + 1) / (ctx[r.g.ctx] + v))
        n_grams, logprob = acc.get(r.doc_id, (0, 0.0))
        acc[r.doc_id] = (n_grams + 1, logprob + lp)
    return [Scored(d, g, lp, math.exp(-lp / g))
            for d, (g, lp) in sorted(acc.items())]


@pytest.fixture()
def lm(spark):
    train = spark.createDataFrame([(1, "a b a")], "doc_id int, text string")
    return train_ngram_lm(train, "text", n=2)


def test_trained_counts_and_vocab(lm):
    counts = {(r.ctx, r.word): r.c for r in lm.collect()}
    assert counts == {
        ("<s>", "a"): 1, ("a", "b"): 1, ("b", "a"): 1, ("a", "</s>"): 1
    }
    assert lm_vocab_size(lm) == 3  # a, b, </s> — BOS never predicted


def test_hand_computed_bigram_perplexity(spark, lm):
    docs = spark.createDataFrame([(10, "a b")], "doc_id int, text string")
    row = score_docs(docs, lm, "text", n=2)[0]
    # grams: (<s>,a) p=(1+1)/(1+3); (a,b) p=(1+1)/(2+3); (b,</s>) p=(0+1)/(1+3)
    lp = math.log(0.5) + math.log(0.4) + math.log(0.25)
    assert row.n_grams == 3
    assert row.logprob == pytest.approx(lp, rel=1e-12)
    assert row.perplexity == pytest.approx(math.exp(-lp / 3), rel=1e-12)


def test_oov_and_unseen_context_floor(spark, lm):
    docs = spark.createDataFrame([(11, "z z")], "doc_id int, text string")
    row = score_docs(docs, lm, "text", n=2)[0]
    # (<s>,z): (0+1)/(1+3); (z,z) and (z,</s>): unseen ctx → (0+1)/(0+3)
    lp = math.log(0.25) + 2 * math.log(1 / 3)
    assert row.logprob == pytest.approx(lp, rel=1e-12)


def test_null_and_empty_text_score_eos_only(spark, lm):
    docs = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id int, text string"
    )
    rows = {r.doc_id: r for r in
            score_docs(docs, lm, "text", n=2)}
    # single gram (<s>, </s>): unseen pair, seen ctx <s> → (0+1)/(1+3)
    for r in rows.values():
        assert r.n_grams == 1
        assert r.logprob == pytest.approx(math.log(0.25), rel=1e-12)


def test_unigram_mode(spark):
    train = spark.createDataFrame([(1, "x x y")], "doc_id int, text string")
    lm1 = train_ngram_lm(train, "text", n=1)
    counts = {(r.ctx, r.word): r.c for r in lm1.collect()}
    assert counts == {("", "x"): 2, ("", "y"): 1, ("", "</s>"): 1}
    docs = spark.createDataFrame([(5, "x")], "doc_id int, text string")
    row = score_docs(docs, lm1, "text", n=1)[0]
    # V=3, c_ctx=4: p(x)=(2+1)/(4+3); p(</s>)=(1+1)/(4+3)
    lp = math.log(3 / 7) + math.log(2 / 7)
    assert row.logprob == pytest.approx(lp, rel=1e-12)


def test_clean_text_beats_garbage(spark):
    clean_sent = "the cat sat on the mat and the dog sat on the rug"
    train = spark.createDataFrame(
        [(i, clean_sent) for i in range(5)], "doc_id int, text string"
    )
    lm = train_ngram_lm(train, "text", n=2)
    docs = spark.createDataFrame(
        [(1, "the cat sat on the rug"), (2, "rug the on mat sat qq zz")],
        "doc_id int, text string",
    )
    ppl = {r.doc_id: r.perplexity for r in
           score_docs(docs, lm, "text", n=2)}
    assert ppl[1] < ppl[2]
