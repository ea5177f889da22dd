"""Corpus relevance scoring: TF-IDF and Okapi BM25, all built-ins.

The training-data shapes these feed: lexical quality ranking, query-driven
corpus selection ("give me the docs most relevant to these benchmark
prompts"), and boilerplate demotion (terms with doc_freq ≈ N score ≈ 0).

Scale design (the whole point — a naive implementation shuffles the corpus
three times and collects scalars to the driver):

* ONE tokenize+explode pass feeds everything.
* tf: groupBy (doc, term) — map-side combined, uniform keys.
* dl (doc length): derived FROM tf (sum of tf per doc), not a second pass
  over the tokens.
* doc_freq: groupBy term over tf — output is VOCABULARY-sized, then
  joined back via `broadcast_if_small` (vocabulary ≪ corpus in any real
  language; the gate degrades to a shuffle join instead of an OOM if a
  pathological tokenizer explodes the vocabulary).
* corpus scalars (N, Σdl) : a 1-row aggregate crossJoin-broadcast into the
  plan — the F7 in-plan-scalar pattern, never a driver collect.

Formulas (stated exactly — the DuckDB oracle replays them bit-for-bit,
modulo a final round to 6 decimals that absorbs libm's 1-ulp ln() spread):

    idf       = ln((1 + N) / (1 + doc_freq)) + 1          (sklearn smooth)
    tfidf     = tf * idf
    idf_bm25  = ln(1 + (N - doc_freq + 0.5)/(doc_freq + 0.5))
    bm25      = idf_bm25 * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    avgdl     = Σdl / N            (explicit sum/count — both engines
                                    compute the SAME IEEE division)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.joins import (
    broadcast_if_small,
)


def tokenize(text: Column | str, delim: str = " ") -> Column:
    """Delimiter split with empty tokens dropped (doubled delimiters,
    leading/trailing).  Callers wanting word-ish tokens normalize first
    (functions/textstats.normalized_text)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, delim), lambda t: t != F.lit(""))


# Live tf cache handles from term_relevance calls that did not supply their
# own ``tf_pin`` list.  Bounded FIFO: the advice-r4 leak was every call
# accumulating MEMORY_AND_DISK blocks for the session lifetime (q11, BM25
# scoring, repeated notebook use); with the bound, at most _PINNED_TF_MAX
# tf frames stay cached and older ones are unpersisted as new calls land.
_PINNED_TF: list[DataFrame] = []
_PINNED_TF_MAX = 4


def _register_tf_pin(tf: DataFrame) -> None:
    _PINNED_TF.append(tf)
    while len(_PINNED_TF) > _PINNED_TF_MAX:
        _PINNED_TF.pop(0).unpersist()


def term_relevance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delim: str = " ",
    k1: float = 1.2,
    b: float = 0.75,
    persist_tf: bool = True,
    tf_pin: list | None = None,
) -> DataFrame:
    """Per (doc, term) relevance table.

    Output: (``id_col``, term, tf, dl, doc_freq, idf, tfidf, idf_bm25,
    bm25) — every downstream consumer (per-term aggregates, query scoring,
    top-k selection) derives from this one frame without re-tokenizing.

    Docs with NULL text contribute nothing (no tokens).

    The tf frame feeds FOUR consumers (itself, dl, doc_freq, the corpus
    scalars) and Spark does not share subplans, so without caching the
    tokenize+count stage — the corpus scan — runs four times.
    ``persist_tf`` (default) caches tf (MEMORY_AND_DISK; far smaller than
    the text) so the corpus is tokenized ONCE.  The cache handle is OWNED:
    pass ``tf_pin=[]`` and the pinned frame is appended there for you to
    ``unpersist()`` once the output is materialized; without ``tf_pin``
    the handle goes into a bounded module FIFO (at most ``_PINNED_TF_MAX``
    live pins — older ones are released as new calls land).  Pass
    ``persist_tf=False`` inside loops that manage their own persistence.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(tokenize(text_col, delim)).alias("term"),
    )
    tf = tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    if persist_tf:
        tf = tf.persist()
        if tf_pin is not None:
            tf_pin.append(tf)
        else:
            _register_tf_pin(tf)
    # doc length from tf, not a second token pass
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("dl").cast("double").alias("__sumdl"),
    )
    n, dfq = F.col("__n"), F.col("doc_freq").cast("double")
    idf = F.log((F.lit(1.0) + n) / (F.lit(1.0) + dfq)) + F.lit(1.0)
    idf_bm25 = F.log(
        F.lit(1.0) + (n - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
    )
    avgdl = F.col("__sumdl") / n
    tfd = F.col("tf").cast("double")
    bm25 = (
        idf_bm25
        * (tfd * F.lit(k1 + 1.0))
        / (
            tfd
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
        )
    )
    return (
        tf.join(dl, on=id_col)
        .join(broadcast_if_small(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "dl",
            "doc_freq",
            idf.alias("idf"),
            (tfd * idf).alias("tfidf"),
            idf_bm25.alias("idf_bm25"),
            bm25.alias("bm25"),
        )
    )
