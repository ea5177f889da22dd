"""Distribution metrics over array columns — D12 re-expressed natively.

The reference computes gini / HPA-specificity / HPA-distribution per gene with
pandas row-apply (``modules/baseline_expression/metrics.py:15-59``,
``baseline.py:54-69``) and AdaTiSS via an R subprocess.  Here the per-row
kernels are higher-order Column expressions (sort_array / zip_with /
aggregate) — no Python, no pandas, fully inside codegen, and deterministic in
summation order (ascending sorted), which makes them oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_sum_sorted(arr: Column) -> Column:
    """Sequential sum in ascending sorted order (deterministic fold)."""
    return F.aggregate(
        F.sort_array(arr), F.lit(0.0), lambda acc, v: acc + v
    )


def gini(arr: Column) -> Column:
    """Gini coefficient of a non-negative array:

        G = 2 * Σ(i * x_(i)) / (n * Σx) - (n + 1) / n      (x sorted asc)

    Capability parity with metrics.py:15-33 (pandas implementation there).
    """
    s = F.sort_array(arr)
    n = F.size(arr)
    idx = F.sequence(F.lit(1), n)
    weighted = F.aggregate(
        F.zip_with(idx, s, lambda i, x: i.cast("double") * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    total = array_sum_sorted(arr)
    return (
        F.lit(2.0) * weighted / (n * total) - (n + F.lit(1.0)) / n
    )


def specificity_class(
    arr: Column,
    detection_floor: float = 1.0,
    enrichment_factor: float = 4.0,
) -> Column:
    """HPA-style specificity classification over an expression vector:

        not_detected    max < detection_floor
        enriched        max >= enrichment_factor * mean
        low_specificity otherwise

    Capability analog of metrics.py:35-59 (simplified thresholds, documented
    rather than copied)."""
    mx = F.array_max(arr)
    mean = array_sum_sorted(arr) / F.size(arr)
    return (
        F.when(mx < detection_floor, "not_detected")
        .when(mx >= enrichment_factor * mean, "enriched")
        .otherwise("low_specificity")
    )
