"""The plan auditor itself: known-bad constructs must flag, the wanted
shapes (1-row scalar broadcast, top-k, Arrow stages) must not."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from tools.plan_audit import audit_plan  # noqa: E402


def _plans(df):
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), qe.optimizedPlan().toString()


def _plan(df):
    return _plans(df)[0]


def test_cartesian_flags(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    plan = _plan(a.crossJoin(b))
    assert any("Cartesian" in f or "NestedLoop" in f
               for f in audit_plan(plan))


def test_row_at_a_time_udf_flags(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda x: x + 1, "bigint")
    plan = _plan(spark.range(10).select(slow("id")))
    assert any("BatchEvalPython" in f for f in audit_plan(plan))


def test_scalar_broadcast_and_topk_pass(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    scalar = df.agg(F.max("v").alias("mx"))
    joined = df.crossJoin(F.broadcast(scalar)).where(
        F.col("v") > F.col("mx") - 10
    )
    assert audit_plan(_plan(joined)) == []
    topk = df.orderBy(F.col("v").desc()).limit(5)
    assert audit_plan(_plan(topk)) == []


def test_global_sort_flags(spark):
    df = spark.range(100).orderBy("id")
    assert any("global Sort" in f for f in audit_plan(*_plans(df)))
    # partition-local sort is fine; so is top-k
    ok = spark.range(100).sortWithinPartitions("id")
    assert audit_plan(*_plans(ok)) == []
    topk = spark.range(100).orderBy("id").limit(3)
    assert audit_plan(*_plans(topk)) == []


def test_unpartitioned_window_flags(spark):
    """The one scale-killer class the driver gate cannot see: a Window
    with an empty partition spec plans a single-partition sort of the
    whole input.  Seeded fixture must flag; the two sanctioned shapes —
    partitioned windows and rank-the-bounded-top-N — must not."""
    from pyspark.sql import Window

    df = spark.range(100).select(
        (F.col("id") % 7).alias("n"), F.col("id").cast("string").alias("t")
    )
    bad = df.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("n").desc(), "t"))
    )
    assert any(
        "unpartitioned Window" in f for f in audit_plan(*_plans(bad))
    )
    # ordered-but-unpartitioned analytic frame flags too
    bad2 = df.withColumn(
        "s",
        F.sum("n").over(
            Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert any(
        "unpartitioned Window" in f for f in audit_plan(*_plans(bad2))
    )
    # partitioned window (with or without orderBy) passes
    ok = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("n").orderBy("t"))
    )
    assert audit_plan(*_plans(ok)) == []
    ok2 = df.withColumn("m", F.max("n").over(Window.partitionBy("t")))
    assert audit_plan(*_plans(ok2)) == []
    # bounded input: rank only a limited top-N (profiling.py's shape)
    top = (
        df.orderBy(F.col("n").desc(), "t")
        .limit(10)
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.col("n").desc(), "t")),
        )
    )
    assert audit_plan(*_plans(top)) == []


def test_global_rank_matches_window_rank(spark):
    """operators/windows.global_rank — the distributed replacement for the
    empty-partition-spec Window — must produce bit-identical ranks under a
    total ordering, and its own plan must pass the auditor."""
    from evidence_datasource_parsers_spark.operators.windows import (
        global_rank,
    )
    from pyspark.sql import Window

    df = spark.range(3000).select(
        (F.col("id") % 211).alias("n"),
        F.concat(F.lit("t"), (F.col("id") % 641).cast("string")).alias(
            "t"
        ),
    ).distinct()
    order = [F.col("n").desc(), F.col("t")]
    want = df.withColumn(
        "r", F.row_number().over(Window.orderBy(*order))
    )
    got = global_rank(df, order, rank_col="r", num_partitions=7)
    assert sorted(map(tuple, want.collect())) == sorted(
        map(tuple, got.collect())
    )
    assert audit_plan(*_plans(got)) == []
    # empty input keeps the schema and returns zero rows
    empty = global_rank(df.where(F.lit(False)), order, rank_col="r")
    assert empty.columns == ["n", "t", "r"]
    assert empty.count() == 0


def test_pipeline_sweep_no_red_flags(spark):
    """The auditor walks the PIPELINE surfaces (incremental exact / LSH /
    SimHash / span / media / embedding dedup, counter stores, fuzzy joins,
    the document-frequency store) over seeded fixtures — 0 flagged outside
    the documented ALLOW entries."""
    from tools.plan_audit import ALLOW, audit_plan, pipeline_plans

    flagged = {}
    for name, df in sorted(pipeline_plans(spark).items()):
        qe = df._jdf.queryExecution()
        flags = audit_plan(
            qe.executedPlan().toString(), qe.optimizedPlan().toString()
        )
        if flags and name not in ALLOW:
            flagged[name] = flags
    assert flagged == {}


def test_audit_frames_seeded_violation(spark, capsys):
    """Self-test of the sweeping core: a seeded cartesian in the frame
    dict is flagged and counted; a clean frame passes."""
    from tools.plan_audit import audit_frames

    bad = spark.range(5).crossJoin(
        spark.range(5).withColumnRenamed("id", "id2")
    )
    good = spark.range(5).where(F.col("id") > 2)
    n = audit_frames({"seeded_cartesian": bad, "clean": good})
    assert n == 1
    out = capsys.readouterr().out
    assert "FLAG  seeded_cartesian" in out and "ok    clean" in out


def test_catalog_sweep_no_red_flags(spark, sf_dir):
    """Every catalog query's plan stays free of scale red flags — the
    regression guard version of tools/plan_audit.py (same detectors,
    same single documented allowance)."""
    from evidence_datasource_parsers_spark.plans import CATALOG
    from tools.plan_audit import ALLOW

    flagged = {}
    for name, q in sorted(CATALOG.items()):
        df = q.builder(spark, sf_dir)
        qe = df._jdf.queryExecution()
        flags = audit_plan(
            qe.executedPlan().toString(), qe.optimizedPlan().toString()
        )
        if flags and name not in ALLOW:
            flagged[name] = flags
    assert flagged == {}
