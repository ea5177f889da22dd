"""Interval (range) join: correctness vs a naive cross-join oracle, left
semantics, temporal axes, bucket-span guard, and plan shape (no cartesian)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException  # noqa: F401  (parity import)

from evidence_datasource_parsers_spark.operators.interval import (
    count_in_interval,
    interval_join,
)


def _points(spark):
    rows = [(pid, key, float(ts)) for pid, (key, ts) in enumerate(
        [("a", 5), ("a", 10), ("a", 99), ("b", 7), ("b", 300), ("c", 1)]
    )]
    return spark.createDataFrame(rows, "pid int, k string, ts double")


def _intervals(spark):
    rows = [
        (100, "a", 0.0, 6.0),     # catches a@5
        (101, "a", 5.0, 10.0),    # catches a@5, a@10 (inclusive both ends)
        (102, "a", 11.0, 200.0),  # catches a@99 (multi-bucket span)
        (103, "b", 0.0, 2.0),     # catches nothing of b's
        (104, "b", 290.0, 310.0), # catches b@300
        (105, "d", 0.0, 1000.0),  # wrong key — never matches
        (106, "a", 50.0, 40.0),   # inverted — never matches
    ]
    return spark.createDataFrame(rows, "iid int, k string, lo double, hi double")


def _naive(points, intervals, keyed=True):
    out = points.crossJoin(intervals.select(
        F.col("iid"), F.col("k").alias("ik"), "lo", "hi"))
    c = (F.col("ts") >= F.col("lo")) & (F.col("ts") <= F.col("hi"))
    if keyed:
        c = c & (F.col("k") == F.col("ik"))
    return {(r.pid, r.iid) for r in out.where(c).collect()}


@pytest.mark.parametrize("width", [1.0, 7.0, 64.0, 1000.0])
def test_inner_matches_naive_all_widths(spark, width):
    p, i = _points(spark), _intervals(spark)
    got = interval_join(p, i, "ts", "lo", "hi", on="k", bucket_width=width)
    pairs = {(r.pid, r.iid) for r in got.collect()}
    assert pairs == _naive(p, i)
    # ...and with no equi-key: pure containment
    i2 = i.select("iid", "lo", "hi")
    got2 = interval_join(p, i2, "ts", "lo", "hi", bucket_width=width)
    assert {(r.pid, r.iid) for r in got2.collect()} == _naive(p, i, keyed=False)


def test_left_keeps_unmatched_points_once(spark):
    p, i = _points(spark), _intervals(spark)
    got = interval_join(p, i, "ts", "lo", "hi", on="k",
                        bucket_width=8.0, how="left").collect()
    by_pid = {}
    for r in got:
        by_pid.setdefault(r.pid, []).append(r.iid)
    # c@1 has no intervals for key c; b@7 has none containing it
    assert by_pid[5] == [None]
    assert by_pid[3] == [None]
    assert sorted(by_pid[0]) == [100, 101]


def test_count_in_interval_includes_zero(spark):
    p, i = _points(spark), _intervals(spark)
    got = count_in_interval(p, i, "ts", "lo", "hi", on="k", bucket_width=8.0)
    counts = {r.pid: r.n_in_interval for r in got.collect()}
    assert counts == {0: 2, 1: 1, 2: 1, 3: 0, 4: 1, 5: 0}
    assert dict(got.dtypes)["n_in_interval"] == "bigint"


def test_timestamp_axis_and_seconds_width(spark):
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    p = spark.createDataFrame(
        [(1, base), (2, base + datetime.timedelta(hours=2))],
        "pid int, ts timestamp",
    )
    i = spark.createDataFrame(
        [(10, base - datetime.timedelta(minutes=30),
          base + datetime.timedelta(minutes=30))],
        "iid int, lo timestamp, hi timestamp",
    )
    got = interval_join(p, i, "ts", "lo", "hi", bucket_width=3600.0)
    assert [(r.pid, r.iid) for r in got.collect()] == [(1, 10)]


def test_date_axis(spark):
    d = datetime.date
    p = spark.createDataFrame(
        [(1, d(2024, 3, 5)), (2, d(2024, 6, 1))], "pid int, ts date"
    )
    i = spark.createDataFrame(
        [(10, d(2024, 3, 1), d(2024, 3, 31))], "iid int, lo date, hi date"
    )
    got = interval_join(p, i, "ts", "lo", "hi", bucket_width=86400.0 * 7)
    assert [(r.pid, r.iid) for r in got.collect()] == [(1, 10)]


def test_span_guard_raises(spark):
    p = spark.createDataFrame([(1, 0.5)], "pid int, ts double")
    i = spark.createDataFrame([(10, 0.0, 1e9)], "iid int, lo double, hi double")
    with pytest.raises(Exception, match="max_span_buckets"):
        interval_join(
            p, i, "ts", "lo", "hi", bucket_width=1.0, max_span_buckets=100
        ).collect()


def test_collision_and_arg_validation(spark):
    p = _points(spark)
    i = _intervals(spark).withColumnRenamed("iid", "pid")
    with pytest.raises(ValueError, match="collision"):
        interval_join(p, i, "ts", "lo", "hi", on="k", bucket_width=1.0)
    with pytest.raises(ValueError, match="bucket_width"):
        interval_join(p, _intervals(spark), "ts", "lo", "hi", bucket_width=0)
    with pytest.raises(ValueError, match="inner|left"):
        interval_join(p, _intervals(spark).drop("k"), "ts", "lo", "hi",
                      bucket_width=1.0, how="full")


def test_plan_has_no_cartesian_or_bnlj(spark):
    p, i = _points(spark), _intervals(spark)
    plan = interval_join(
        p, i, "ts", "lo", "hi", on="k", bucket_width=8.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_interval_sql_twin_plan_equal_column_form(spark):
    """The r13 SQL-string construction of interval_join /
    count_in_interval (axis/bucket/explode expressions parse from one
    string each) must generate the SAME optimized logical plan as the
    Column-API form it replaced.  The reconstruction below is the
    pre-r13 Column code, verbatim."""
    import re

    from evidence_datasource_parsers_spark.operators.interval import (
        MICROS,
        _is_temporal,
        count_in_interval,
        interval_join,
    )

    def _axis(c, dtype):
        if dtype.startswith("timestamp") or dtype == "date":
            return F.unix_micros(c.cast("timestamp"))
        return c.cast("double")

    def canon(s):
        return re.sub(r"#\d+", "#", s)

    def opt(df):
        return canon(df._jdf.queryExecution().optimizedPlan().toString())

    points = spark.createDataFrame(
        [(1, "u1", 100.0), (2, "u1", 250.0), (3, "u2", 50.0)],
        "pid long, user_id string, t double",
    )
    intervals = spark.createDataFrame(
        [(11, "u1", 90.0, 180.0), (12, "u1", 240.0, 260.0)],
        "iid long, user_id string, s double, e double",
    )

    def interval_join_cols(
        pts, ivs, point_ts, start_ts, end_ts, on,
        *, bucket_width, how="inner", max_span_buckets=4096,
    ):
        from pyspark.sql import functions as F

        pdt, idt = dict(pts.dtypes), dict(ivs.dtypes)
        width = float(bucket_width) * (
            MICROS if _is_temporal(pdt[point_ts]) else 1
        )
        p = pts.withColumn(
            "__pt", _axis(F.col(point_ts), pdt[point_ts])
        ).withColumn("__pb", F.floor(F.col("__pt") / width))
        s_num = _axis(F.col(start_ts), idt[start_ts])
        e_num = _axis(F.col(end_ts), idt[end_ts])
        span = F.floor(e_num / width) - F.floor(s_num / width) + 1
        i = (
            ivs.withColumn("__s", s_num)
            .withColumn("__e", e_num)
            .where(F.col("__e") >= F.col("__s"))
            .withColumn(
                "__ib",
                F.explode(
                    F.when(
                        span <= F.lit(max_span_buckets),
                        F.sequence(
                            F.floor(F.col("__s") / width),
                            F.floor(F.col("__e") / width),
                        ),
                    ).otherwise(
                        F.raise_error(
                            F.format_string(
                                "interval spans %d buckets >"
                                " max_span_buckets=%d — raise bucket_width",
                                span.cast("int"),
                                F.lit(max_span_buckets),
                            )
                        )
                    )
                ),
            )
        )
        if on:
            i = i.withColumnRenamed(on, "__ion")
        P, I = p.alias("P"), i.alias("I")
        cond = (F.col("P.__pb") == F.col("I.__ib")) & (
            F.col("P.__pt").between(F.col("I.__s"), F.col("I.__e"))
        )
        if on:
            cond = cond & (F.col(f"P.{on}") == F.col("I.__ion"))
        joined = P.join(I, on=cond, how=how)
        return joined.select(
            *[P[c] for c in pts.columns],
            *[I[c] for c in ivs.columns if c != on],
        )

    probe = intervals.select(
        "user_id", F.col("s").alias("__is"), F.col("e").alias("__ie")
    )
    new = interval_join(
        points, probe, "t", "__is", "__ie", "user_id", bucket_width=100.0
    )
    old = interval_join_cols(
        points, probe, "t", "__is", "__ie", "user_id", bucket_width=100.0
    )
    assert opt(new) == opt(old)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )

    # count_in_interval = probe projection + left interval_join + count
    def count_cols(pts, ivs, point_ts, start_ts, end_ts, on, *, bucket_width):
        pr = ivs.select(
            *([on] if on else []),
            F.col(start_ts).alias("__is"),
            F.col(end_ts).alias("__ie"),
        )
        joined = interval_join_cols(
            pts, pr, point_ts, "__is", "__ie", on,
            bucket_width=bucket_width, how="left",
        )
        return joined.groupBy(*pts.columns).agg(
            F.count(F.col("__is")).alias("n_in_interval")
        )

    newc = count_in_interval(
        points, intervals, "t", "s", "e", "user_id", bucket_width=100.0
    )
    oldc = count_cols(
        points, intervals, "t", "s", "e", "user_id", bucket_width=100.0
    )
    assert opt(newc) == opt(oldc)
    assert sorted(map(tuple, newc.collect())) == sorted(
        map(tuple, oldc.collect())
    )


def test_interval_rejects_reserved_columns(spark):
    import pytest

    from evidence_datasource_parsers_spark.operators.interval import (
        interval_join,
    )

    pts = spark.createDataFrame([(1, 1.0, 0)], "k int, ts double, __pt int")
    iv = spark.createDataFrame([(1, 0.0, 2.0)], "k int, s double, e double")
    with pytest.raises(ValueError, match="__pt"):
        interval_join(pts, iv, "ts", "s", "e", on="k", bucket_width=1.0)
