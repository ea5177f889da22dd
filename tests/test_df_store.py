"""Incremental document-frequency store (operators/df_store.py).

Ground truth is the at-rest scorer (functions/tfidf.py): a store built
from a corpus must score that corpus identically to term_relevance's BM25,
and the additive-delta algebra must make two disjoint batches
indistinguishable from one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.df_store import (
    bm25_against_store,
    compact_df_store,
    df_store_delta,
    df_store_stats,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick red fox"),
    (3, "lorem ipsum dolor sit amet"),
    (4, "the dog sleeps"),
    (5, None),
    (6, ""),
]


def _corpus(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_delta_counts_and_meta(spark):
    d = df_store_delta(_corpus(spark), "text", "doc_id")
    rows = {(r.kind, r.term): r.n for r in d.collect()}
    assert rows[("df", "the")] == 3     # docs 1, 2, 4
    assert rows[("df", "fox")] == 2
    assert rows[("df", "lorem")] == 1
    # NULL and empty text contribute nothing — N counts token-bearing docs
    assert rows[("meta", "__n_docs")] == 4
    assert rows[("meta", "__sum_dl")] == 9 + 4 + 5 + 3


def test_two_batch_advance_equals_one_shot(spark):
    """delta(b1) ++ delta(b2), compacted == delta(b1 ∪ b2) — the additive
    append-only advance is exact for disjoint batches."""
    b1 = _corpus(spark, DOCS[:3])
    b2 = _corpus(spark, DOCS[3:])
    incremental = compact_df_store(
        df_store_delta(b1, "text", "doc_id").unionByName(
            df_store_delta(b2, "text", "doc_id")
        )
    )
    one_shot = df_store_delta(_corpus(spark), "text", "doc_id")
    a = {(r.kind, r.term): r.n for r in incremental.collect()}
    b = {(r.kind, r.term): r.n for r in one_shot.collect()}
    assert a == b


def test_bm25_against_store_matches_at_rest(spark):
    """Store built from the corpus scores the corpus exactly like the
    at-rest term_relevance BM25 summed over the query terms — same
    formulas, same N/avgdl/df."""
    from evidence_datasource_parsers_spark.functions.tfidf import (
        term_relevance,
    )

    corpus = _corpus(spark)
    store = df_store_delta(corpus, "text", "doc_id")
    q = ["fox", "dog", "lorem"]
    pin: list = []
    at_rest = {
        r.doc_id: round(r.bm25_score, 9)
        for r in term_relevance(corpus, "doc_id", "text", tf_pin=pin)
        .where(F.col("term").isin(q))
        .groupBy("doc_id")
        .agg(F.sum("bm25").alias("bm25_score"))
        .collect()
    }
    for p in pin:
        p.unpersist()
    got = {
        r.doc_id: round(r.bm25_score, 9)
        for r in bm25_against_store(
            corpus, store, q, "text", "doc_id"
        ).collect()
    }
    assert got == at_rest
    assert set(got) == {1, 2, 3, 4}  # doc with no query term absent


def test_unseen_query_term_takes_df_zero(spark):
    """A query term history never saw gets df=0 (maximal idf), not a
    dropped row or a NULL score."""
    corpus = _corpus(spark, DOCS[:4])
    store = df_store_delta(corpus, "text", "doc_id")
    batch = spark.createDataFrame(
        [(100, "zebra zebra crossing")], "doc_id long, text string"
    )
    got = bm25_against_store(
        batch, store, ["zebra"], "text", "doc_id"
    ).collect()
    assert len(got) == 1
    s = got[0].bm25_score
    assert s is not None and s > 0
    # matches the formula at df=0 with the store's N=4, avgdl=21/4
    import math

    n, dl, tf, k1, b = 4.0, 3, 2.0, 1.2, 0.75
    idf = math.log(1.0 + (n - 0 + 0.5) / 0.5)
    expect = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / (21 / 4)))
    assert got[0].bm25_score == pytest.approx(expect, rel=1e-12)


def test_cross_batch_scoring_uses_history(spark):
    """The point of the store: batch-2 docs are scored with batch-1's
    statistics folded in.  'fox' is common in history → lower idf than a
    term history never saw."""
    b1 = _corpus(spark, [(i, "fox " * 5) for i in range(10)])
    store = compact_df_store(df_store_delta(b1, "text", "doc_id"))
    b2 = spark.createDataFrame(
        [(100, "fox unicorn")], "doc_id long, text string"
    )
    # advance with b2's own delta FIRST (disjoint), then score b2
    store2 = compact_df_store(
        store.unionByName(df_store_delta(b2, "text", "doc_id"))
    )
    fox = bm25_against_store(b2, store2, ["fox"], "text", "doc_id")
    uni = bm25_against_store(b2, store2, ["unicorn"], "text", "doc_id")
    assert fox.collect()[0].bm25_score < uni.collect()[0].bm25_score


def test_bucketed_df_store_probe_prunes_and_never_shuffles(spark, tmp_path):
    """At-scale shape: the store bucketed on term, the query-term filter
    pushed into its scan, the surviving rows broadcast — the store side
    rides zero Exchange and zero store-sized shuffle."""
    import uuid

    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    corpus = spark.createDataFrame(
        [(i, f"term{i % 997} filler{i % 31} common") for i in range(5000)],
        "doc_id long, text string",
    )
    table = f"bk_df_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed_store(
            df_store_delta(corpus, "text", "doc_id"),
            str(tmp_path / "df_store"), table, ["term"], 8,
        )
        st = read_bucketed_store(spark, table)
        batch = spark.createDataFrame(
            [(10**6, "term5 common zzz")], "doc_id long, text string"
        )
        scored = bm25_against_store(
            batch, st, ["term5", "common"], "text", "doc_id"
        )
        plan = scored._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "CartesianProduct" not in plan
        # the term filter reaches the store's parquet scan
        assert "PushedFilters" in plan and "term5" in plan, plan
        # store-side rows ride broadcasts only — the sole Exchanges are
        # the batch's tf/dl aggregates and the final groupBy
        import re

        nodes = [ln for ln in plan.splitlines() if re.match(r"^\(\d+\) ", ln)]
        scans = [n for n in nodes if "Scan parquet" in n]
        assert any(table in n or "df_store" in n for n in scans)
        got = {r.doc_id: r.bm25_score for r in scored.collect()}
        assert set(got) == {10**6}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def spark_prop():
    from evidence_datasource_parsers_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


_doc_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet="ab ", min_size=0, max_size=12),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_doc_texts, split=st.integers(min_value=0, max_value=11))
def test_property_df_advance_algebra(spark_prop, texts, split):
    """For ANY disjoint split of a corpus into two batches, appending the
    two deltas and compacting equals the one-shot delta — including the
    meta rows, empty/NULL texts, and all-delimiter strings."""
    rows = [(i, t) for i, t in enumerate(texts)]
    cut = min(split, len(rows))
    b1 = spark_prop.createDataFrame(rows[:cut] or [(99, None)],
                                    "doc_id long, text string")
    b2 = spark_prop.createDataFrame(rows[cut:] or [(98, None)],
                                    "doc_id long, text string")
    both = spark_prop.createDataFrame(
        (rows[:cut] or [(99, None)]) + (rows[cut:] or [(98, None)]),
        "doc_id long, text string",
    )
    inc = compact_df_store(
        df_store_delta(b1, "text", "doc_id").unionByName(
            df_store_delta(b2, "text", "doc_id")
        )
    )
    a = {(r.kind, r.term): r.n for r in inc.collect()}
    b = {(r.kind, r.term): r.n
         for r in df_store_delta(both, "text", "doc_id").collect()}
    assert a == b


def test_exclude_ids_enforces_disjointness(spark):
    """The optional id-membership guard (ADVICE r12): re-ingesting an
    already-shipped doc with exclude_ids set contributes NOTHING — term
    counts, N, and Σdl all stay put — where the unguarded delta would
    silently double-count."""
    c = _corpus(spark)
    base = df_store_delta(c, "text", "doc_id")
    shipped = c.select("doc_id")
    # replay the whole corpus plus one genuinely new doc
    replay = _corpus(
        spark,
        DOCS + [(7, "a genuinely new document body")],
    )
    guarded = df_store_delta(
        replay, "text", "doc_id", exclude_ids=shipped
    )
    merged = {
        (r.kind, r.term): r.n
        for r in compact_df_store(base.unionByName(guarded)).collect()
    }
    assert merged[("df", "the")] == 3        # not inflated by the replay
    assert merged[("meta", "__n_docs")] == 5  # 4 + only the new doc
    assert merged[("df", "genuinely")] == 1   # the new doc DID land


def test_bm25_probe_refuses_meta_less_store(spark):
    """A store with no meta rows (never advanced / filtered to kind='df')
    cannot silently return all-NULL scores — the in-plan assert fires at
    execution (ADVICE r12)."""
    from pyspark.errors import SparkRuntimeException

    store = df_store_delta(_corpus(spark), "text", "doc_id").where(
        F.col("kind") == "df"
    )
    scored = bm25_against_store(
        _corpus(spark), store, ["fox"], "text", "doc_id"
    )
    with pytest.raises(SparkRuntimeException, match="no meta rows"):
        scored.collect()
