"""Property fuzz for the interval join: random points/intervals vs the
O(n·m) oracle, across randomized bucket widths — the bucketing math (floor
arithmetic at negative values, boundary inclusivity, multi-bucket spans) is
exactly where off-by-ones hide."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from evidence_datasource_parsers_spark.operators.interval import (
    interval_join,
)

# small discrete grids keep Spark rounds fast while covering negatives,
# zero, boundary-equal endpoints, and multi-bucket spans
_vals = st.integers(min_value=-50, max_value=50)
_width = st.sampled_from([1.0, 3.0, 7.0, 100.0])

_points = st.lists(
    st.tuples(st.integers(0, 7), _vals), min_size=1, max_size=8
)
_ivls = st.lists(
    st.tuples(st.integers(0, 7), _vals, _vals), min_size=1, max_size=8
)


def _spark():
    from evidence_datasource_parsers_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pts=_points, ivls=_ivls, width=_width)
def test_point_in_interval_matches_oracle(pts, ivls, width):
    spark = _spark()
    p = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t) in enumerate(pts)],
        "pid int, k int, ts double",
    )
    iv = spark.createDataFrame(
        [(100 + j, k, float(min(a, b)), float(max(a, b)))
         for j, (k, a, b) in enumerate(ivls)],
        "iid int, k int, lo double, hi double",
    )
    got = {(r.pid, r.iid) for r in interval_join(
        p, iv, "ts", "lo", "hi", on="k", bucket_width=width
    ).collect()}
    want = {
        (i, 100 + j)
        for i, (k, t) in enumerate(pts)
        for j, (k2, a, b) in enumerate(ivls)
        if k == k2 and min(a, b) <= t <= max(a, b)
    }
    assert got == want
