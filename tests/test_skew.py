"""Skew measurement + recommendation (operators/skew.py): the
measure-then-restructure loop around salted_join — report correctness
against hand-computable distributions, advice thresholds, plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.skew import (
    key_skew_report,
    salted_join,
    skew_advice,
)


def _skewed(spark, hot_rows=900, cold_keys=100):
    hot = spark.range(hot_rows).select(F.lit("HOT").alias("k"))
    cold = spark.range(cold_keys).select(
        F.concat(F.lit("c"), F.col("id")).alias("k")
    )
    return hot.unionByName(cold)


def test_report_counts_shares_load(spark):
    df = _skewed(spark, hot_rows=900, cold_keys=100)  # 1000 rows total
    rep = key_skew_report(df, ["k"], n_partitions=10, top=3).collect()
    assert rep[0]["k"] == "HOT"
    assert rep[0]["n_rows"] == 900
    assert abs(rep[0]["share"] - 0.9) < 1e-12
    # ideal partition = 100 rows; HOT pins 900 → load 9.0
    assert abs(rep[0]["load_factor"] - 9.0) < 1e-9
    # cold keys carry 1 row each → load 0.01, deterministic tie order
    assert rep[1]["n_rows"] == 1 and rep[1]["k"] == "c0"


def test_advice_thresholds_and_salts(spark):
    df = _skewed(spark, hot_rows=900, cold_keys=100)
    rep = key_skew_report(df, ["k"], n_partitions=10)
    adv = skew_advice(rep, max_load_factor=4.0)
    assert adv["action"] == "salt"
    assert adv["hot_keys"] == [("HOT",)]
    assert adv["suggested_salts"] == 9  # ceil(9.0) → back to ~1 quantum

    flat = spark.range(1000).select(
        (F.col("id") % 500).cast("string").alias("k")
    )
    adv2 = skew_advice(key_skew_report(flat, ["k"], n_partitions=10))
    assert adv2["action"] == "none"
    assert adv2["suggested_salts"] == 1

    empty = spark.range(0).select(F.col("id").cast("string").alias("k"))
    assert skew_advice(
        key_skew_report(empty, ["k"], n_partitions=10)
    )["action"] == "none"


def test_sampled_report_estimates_ratios(spark):
    """share/load_factor are scale-free: a Bernoulli sample lands near
    the exact ratios even though counts shrink with the fraction."""
    df = _skewed(spark, hot_rows=9000, cold_keys=1000)
    rep = key_skew_report(
        df, ["k"], n_partitions=10, top=1, sample_fraction=0.2
    ).collect()[0]
    assert rep["k"] == "HOT"
    assert abs(rep["share"] - 0.9) < 0.05
    assert abs(rep["load_factor"] - 9.0) < 0.5


def test_salting_follows_the_advice(spark):
    """End-to-end loop: measure → advice says salt N → salted_join with N
    matches the plain join's results row-for-row."""
    fact = _skewed(spark, hot_rows=900, cold_keys=100).withColumn(
        "uid", F.monotonically_increasing_id()
    )
    dim = spark.createDataFrame(
        [("HOT", "hot-dim")] + [(f"c{i}", f"dim{i}") for i in range(100)],
        "k string, v string",
    )
    adv = skew_advice(key_skew_report(fact, ["k"], n_partitions=10))
    assert adv["action"] == "salt"
    salted = salted_join(
        fact, dim, on="k", n_salts=adv["suggested_salts"],
        salt_source="uid",
    )
    plain = fact.join(dim, on="k")
    assert salted.count() == plain.count() == 1000
    assert (
        salted.select("k", "uid", "v")
        .exceptAll(plain.select("k", "uid", "v"))
        .count()
        == 0
    )


def test_salted_join_null_salt_source_still_matches(spark):
    """A row whose salt_source is NULL must still join: hash(NULL)%n is
    NULL, and a NULL __salt would match no dim replica — dropped under
    inner, NULL-extended under left, silently.  The coalesce-to-0 fix
    pins such rows to salt bucket 0."""
    fact = spark.createDataFrame(
        [("HOT", "u1"), ("HOT", None), ("c1", None)],
        "k string, uid string",
    )
    dim = spark.createDataFrame(
        [("HOT", "hot-dim"), ("c1", "dim1")], "k string, v string"
    )
    inner = salted_join(fact, dim, on="k", n_salts=4, salt_source="uid")
    assert inner.count() == 3  # NULL-uid rows keep their dim match
    left = salted_join(
        fact, dim, on="k", n_salts=4, salt_source="uid", how="left"
    )
    rows = {(r["k"], r["uid"]): r["v"] for r in left.collect()}
    assert rows[("HOT", None)] == "hot-dim"
    assert rows[("c1", None)] == "dim1"


def test_report_shuffles_combined_rows_not_input(spark):
    """Plan shape: the report's only wide stage is the per-key aggregate
    (partial_count before the Exchange — map-side combine), and the
    total is a broadcast 1-row crossJoin, not a second pass."""
    df = _skewed(spark)
    rep = key_skew_report(df, ["k"], n_partitions=10)
    plan = rep._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar join
    assert "CartesianProduct" not in plan
