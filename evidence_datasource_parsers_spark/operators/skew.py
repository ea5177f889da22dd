"""Skew-mitigation join: explicit key salting.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime, but it only helps sort-merge joins AFTER a skewed shuffle exists.
Salting restructures the plan itself: the skewed fact side gets a random-ish
salt in [0, n_salts); the dimension side is replicated ×n_salts; the join key
becomes (key, salt) — hot keys spread over n_salts reducers.

The salt must be DETERMINISTIC (derived from a unique column, not rand()) so
re-runs produce identical partitioning — same reproducibility rule as the
train/val/test split (catalog_ext.q50).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import portable_hash


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join *fact* (skewed on ``on``) with *dim*, spreading hot keys.

    salt_source: a unique-ish fact column the salt is hashed from (defaults
    to the join key itself combined with a per-row monotonic component is NOT
    used — pass a real unique column for even spreading).
    """
    src = F.col(salt_source) if salt_source else F.col(on)
    # A NULL salt source must still land in a real salt bucket: hash(NULL)
    # is NULL, NULL % n is NULL, and a NULL __salt matches NO dim replica —
    # the row would be dropped (inner) or NULL-extended (left) even though
    # its join key has a dim match. coalesce to bucket 0.
    salted_fact = fact.withColumn(
        "__salt",
        F.coalesce(
            (portable_hash(src.cast("string")) % n_salts).cast("int"),
            F.lit(0),
        ),
    )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias("__salt")
    salted_dim = dim.select("*", salts)
    out = salted_fact.join(salted_dim, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def key_skew_report(
    df: DataFrame,
    keys: list[str],
    n_partitions: int | None = None,
    top: int = 20,
    sample_fraction: float | None = None,
) -> DataFrame:
    """MEASURE the skew of a would-be shuffle on ``keys`` before paying
    for it — the measurement half :func:`salted_join` never had
    (measure, then recommend, never guess).

    One map-side-combined aggregation over the keys, then the top
    ``top`` heaviest keys with, per key:

    * ``n_rows`` — rows carrying the key (the floor of the reducer that
      owns it: no hash partitioning can split a single key pre-AQE);
    * ``share`` — fraction of all rows;
    * ``load_factor`` — ``n_rows / (total / n_partitions)``: how many
      ideal-partition quanta this one key pins onto one reducer.  1.0 is
      a perfectly balanced key; 32 means its reducer finishes 32× after
      the median and the stage is that key's straggler.

    ``n_partitions`` defaults to the session's
    ``spark.sql.shuffle.partitions``.  ``sample_fraction`` measures on a
    Bernoulli sample for quick passes over very wide inputs — shares and
    load factors are scale-free, so a 1% sample estimates both (counts
    are then ~1% of true; the advice thresholds only consume the
    ratios).

    Scale shape: the aggregate shuffles one combined row per distinct
    key (never the input rows); the total rides a broadcast 1-row
    crossJoin (the in-plan-scalar pattern); only the top-N frame —
    bounded by ``top`` — ever reaches a collect, and only in
    :func:`skew_advice`.
    """
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=9)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("__total")
    )
    ideal = F.col("__total") / F.lit(float(n_partitions))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n_rows",
            (F.col("n_rows") / F.col("__total")).alias("share"),
            (F.col("n_rows") / ideal).alias("load_factor"),
        )
        .orderBy(F.col("n_rows").desc(), *keys)
        .limit(top)
    )


def skew_advice(
    report: DataFrame,
    max_load_factor: float = 4.0,
    max_salts: int = 64,
) -> dict:
    """Leave-or-restructure verdict over a :func:`key_skew_report` frame:
    ``{'action', 'reason', 'hot_keys', 'suggested_salts'}``.

    * ``'none'``    — heaviest key ≤ ``max_load_factor`` ideal quanta:
      hash partitioning (plus AQE's runtime skew-split, already on in
      session.py) absorbs it; salting would only add a dim-side
      replication cost.
    * ``'salt'``    — a key pins > ``max_load_factor`` quanta onto one
      reducer: restructure the plan with :func:`salted_join`, using
      ``suggested_salts`` (heaviest key's load factor, rounded up,
      capped at ``max_salts`` — enough to spread it back to ~1 quantum).

    Driver-side by design: the report is top-N rows, bounded by its
    ``top`` argument, never by the data.
    """
    import math

    rows = report.collect()
    if not rows:
        return {
            "action": "none",
            "reason": "no rows measured",
            "hot_keys": [],
            "suggested_salts": 1,
        }
    key_cols = [c for c in report.columns
                if c not in ("n_rows", "share", "load_factor")]
    hot = [r for r in rows if r["load_factor"] > max_load_factor]
    if not hot:
        worst = rows[0]
        return {
            "action": "none",
            "reason": (
                f"heaviest key carries {worst['load_factor']:.2f} "
                f"ideal-partition quanta (<= {max_load_factor}); hash "
                "partitioning + AQE skew-split absorb it"
            ),
            "hot_keys": [],
            "suggested_salts": 1,
        }
    salts = min(max_salts, math.ceil(hot[0]["load_factor"]))
    return {
        "action": "salt",
        "reason": (
            f"{len(hot)} key(s) pin > {max_load_factor} ideal-partition "
            f"quanta onto single reducers (worst "
            f"{hot[0]['load_factor']:.1f}); salted_join(n_salts="
            f"{salts}) spreads the worst back to ~1 quantum"
        ),
        "hot_keys": [tuple(r[c] for c in key_cols) for r in hot],
        "suggested_salts": salts,
    }
