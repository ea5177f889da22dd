"""Interval (range) join — points-in-interval without a cartesian product.

Spark has no native range join: ``points JOIN intervals ON p.ts BETWEEN
i.start AND i.end`` plans as BroadcastNestedLoopJoin (small side) or a
cartesian product (neither side broadcastable) — O(|P|·|I|) and a
guaranteed non-starter at 100 TB.  The scale-correct plan is the coarse
time-bucket equi-join (the same trick behind Databricks' range-join hints
and kdb+'s bucketed window join):

    1. point  → ONE bucket:   floor(ts / width)                  (narrow)
    2. interval → EVERY bucket it spans: sequence(floor(start/w),
       floor(end/w)) exploded                                    (narrow)
    3. equi-join on (key?, bucket) — Catalyst extracts the equalities as
       hash keys and keeps the range as a post-join residual, so this is
       a plain shuffled hash join (ONE shuffle per side, AQE-skew-handled)
    4. residual filter start <= ts <= end runs inside the join     (narrow)

A point lives in exactly one bucket, so each qualifying (point, interval)
pair meets exactly once — no post-join dedup.  Cost is O(|P| + |I|·s + M)
where s is the mean buckets-per-interval and M the true match count;
``bucket_width`` trades replication (s ≈ len/width + 1) against bucket
selectivity.  A runaway interval (spanning > ``max_span_buckets``) raises
AT EXECUTION rather than silently exploding the build side.

Reference parity: the reference engine has no range join either — its
per-row pandas lookups are the O(n·m) shape this operator replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.sqlstr import (
    dlit,
    qid,
    reject_reserved_columns,
    slit,
)

MICROS = 1_000_000


def _axis_sql(col: str, dtype: str) -> str:
    """Comparable numeric time axis for column ``col`` (raw name): epoch
    micros for timestamp/date columns (dates cast via midnight-UTC
    timestamps), the raw value cast to double otherwise."""
    if dtype.startswith("timestamp") or dtype == "date":
        return f"unix_micros(CAST({qid(col)} AS TIMESTAMP))"
    return f"CAST({qid(col)} AS DOUBLE)"


def _is_temporal(dtype: str) -> bool:
    return dtype.startswith("timestamp") or dtype == "date"


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    on: str | None = None,
    *,
    bucket_width: float,
    how: str = "inner",
    max_span_buckets: int = 4096,
) -> DataFrame:
    """Join each point row to every interval row containing it.

    ``on`` is an optional equi-key (e.g. user_id) required to match in
    addition to containment; ``bucket_width`` is in SECONDS when the point
    axis is timestamp/date, in axis units otherwise.  Bounds are inclusive
    on both ends.  ``how='inner'`` keeps only matched points;
    ``how='left'`` keeps every point exactly once when unmatched,
    null-extending the interval columns (the residual predicate lives in
    the join condition, so Spark's left-outer semantics apply to the FULL
    containment test, not just the bucket equality).

    Output: all point columns + all interval columns except ``on``
    (callers project).  Column names must not collide across the sides.

    Scale: one shuffle per side on (key, bucket).  Pick ``bucket_width``
    near the typical interval length: replication is len/width + 1 per
    interval.  Skewed (key, bucket) pairs are AQE's skew-join case.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    reject_reserved_columns(
        list(points.columns) + list(intervals.columns),
        ("__pt", "__pb", "__s", "__e", "__ib"),
        "interval_join",
    )
    overlap = (set(points.columns) & set(intervals.columns)) - {on}
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")

    pdt, idt = dict(points.dtypes), dict(intervals.dtypes)
    width = float(bucket_width) * (MICROS if _is_temporal(pdt[point_ts]) else 1)

    # SQL-string construction (r13, guide §1.3 — one parse per select
    # instead of one py4j round trip per expression node; plan identity
    # with the Column forms pinned in tests/test_interval_join.py::
    # test_interval_sql_twin_plan_equal_column_form)
    w = dlit(width)
    p = points.selectExpr(
        "*", f"{_axis_sql(point_ts, pdt[point_ts])} AS __pt"
    ).selectExpr("*", f"FLOOR(__pt / {w}) AS __pb")

    s_sql = _axis_sql(start_ts, idt[start_ts])
    e_sql = _axis_sql(end_ts, idt[end_ts])
    span = f"((FLOOR({e_sql} / {w}) - FLOOR({s_sql} / {w})) + 1)"
    err_msg = slit(
        "interval spans %d buckets > max_span_buckets=%d"
        " — raise bucket_width"
    )
    i = (
        intervals.selectExpr("*", f"{s_sql} AS __s")
        .selectExpr("*", f"{e_sql} AS __e")
        .where("__e >= __s")  # inverted intervals never match
        .selectExpr(
            "*",
            "explode("
            f"CASE WHEN {span} <= {max_span_buckets} "
            f"THEN sequence(FLOOR(__s / {w}), FLOOR(__e / {w})) "
            f"ELSE raise_error(format_string({err_msg}, "
            f"CAST({span} AS INT), {max_span_buckets})) END"
            ") AS __ib",
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
    # DataFrame-indexed references survive odd column names (dots, spaces)
    return joined.select(
        *[P[c] for c in points.columns],
        *[I[c] for c in intervals.columns if c != on],
    )


def count_in_interval(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    on: str | None = None,
    *,
    bucket_width: float,
    count_col: str = "n_in_interval",
    max_span_buckets: int = 4096,
) -> DataFrame:
    """Per-point count of containing intervals (0 for no match).

    Same bucketed plan as :func:`interval_join` in ``left`` mode, then a
    groupBy over the point columns (map-side combined).  Every point row
    survives with an exact long count.  Point columns must be groupable
    (no map type) and row-unique if per-row counts are to be meaningful.
    """
    probe = intervals.selectExpr(
        *([qid(on)] if on else []),
        f"{qid(start_ts)} AS __is",
        f"{qid(end_ts)} AS __ie",
    )
    joined = interval_join(
        points,
        probe,
        point_ts,
        "__is",
        "__ie",
        on,
        bucket_width=bucket_width,
        how="left",
        max_span_buckets=max_span_buckets,
    )
    return joined.groupBy(*points.columns).agg(
        F.count(F.col("__is")).alias(count_col)
    )
