"""Count-based n-gram language model: train distributed, score per-doc
perplexity — the CCNet-style quality filter (CommonCrawl pipelines score
documents against a clean-corpus LM and drop the high-perplexity tail).

All built-ins, no UDFs:

* **train**: ONE explode pass over the clean corpus → (context, word)
  counts (map-side combined, shuffle keyed by the n-gram — uniform), plus
  the context-marginal counts and vocabulary size derived from the same
  frame.  The model is a DataFrame, not a driver-side dict: vocabulary-
  sized, joinable, persistable with the bucketed-store sinks.
* **score**: the n-grams of a target document come from :func:`_ngrams`;
  q50's perplexity leg (plans/catalog_ext.py) explodes them, LEFT joins
  the model on (context, word) and the context marginals on context (both
  through `broadcast_if_small`), add-α smooths and sums log-probs per
  document.

Smoothing (add-α, stated exactly):

    p(w | ctx) = (c(ctx, w) + α) / (c(ctx) + α·V)

with c(·) = 0 for unseen pairs/contexts, V = training vocabulary size
(padding symbols included).  Documents are padded with n−1 BOS and one
EOS so every token is predicted exactly once; perplexity is
exp(−logprob / n_grams).  A DOUBLE sum of log-probs is partition-order
dependent in the last ulps, so q50 rounds each log-prob to 12 dp and sums
them as DECIMAL(28,12), which both engines add exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOS = "<s>"
EOS = "</s>"


def _tokens(text: Column, n: int) -> Column:
    """Lower-cased whitespace tokens padded with n−1 BOS and one EOS."""
    toks = F.filter(
        F.split(F.lower(text), r"\s+"), lambda t: t != F.lit("")
    )
    pad = F.array(*[F.lit(BOS)] * (n - 1))
    return F.concat(pad, toks, F.array(F.lit(EOS)))


def _ngrams(text: Column, n: int) -> Column:
    """array<struct<ctx,word>> of the document's n-grams (ctx = the n−1
    preceding tokens joined by a space; empty string for unigrams)."""
    toks = _tokens(text, n)
    idx = F.sequence(F.lit(n), F.size(toks))  # 1-based position of `word`
    return F.transform(
        idx,
        lambda i: F.struct(
            F.concat_ws(
                " ", F.slice(toks, i - (n - 1), n - 1)
            ).alias("ctx"),
            F.element_at(toks, i).alias("word"),
        ),
    )


def train_ngram_lm(df: DataFrame, text_col: str, n: int = 2) -> DataFrame:
    """(ctx, word, c) counts over the clean corpus — the model frame."""
    if n < 1:
        raise ValueError("n must be >= 1")
    g = df.select(F.explode(_ngrams(F.col(text_col), n)).alias("g"))
    return g.groupBy(
        F.col("g.ctx").alias("ctx"), F.col("g.word").alias("word")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


def lm_vocab_size(lm: DataFrame) -> int:
    """V for the smoothing denominator: distinct predicted words (EOS
    included, BOS excluded — BOS is never predicted)."""
    return lm.select("word").distinct().count()
