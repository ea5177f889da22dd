"""Window-tier operators (SURVEY §2.7-§2.8).

W1 — top-1-per-group dedup — is the reference's single mandatory window
capability (``modules/IMPC.py:456-462``).  Generalized here to top-N with an
explicit deterministic tie-break, because ``row_number`` over a non-total
order is run-dependent (SURVEY §7.4 risk 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    n: int = 1,
) -> DataFrame:
    """Keep the top-N rows per group under a total ordering.

    Scale note: this is one shuffle on ``partition_by``; with AQE skew-join
    handling enabled, hot groups split automatically.  For top-1 at extreme
    cardinality prefer ``max_by``-style aggregation (no row materialization
    per group) — provided the payload fits a struct.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global ``row_number`` under a TOTAL ordering — the scale
    path that replaces ``row_number().over(Window.orderBy(...))``, whose
    empty partition spec plans a SINGLE-partition sort of the whole input
    (``WindowExec: No Partition Defined`` — the one shape that cannot
    survive a 10⁸–10⁹-row vocabulary at 100 TB).

    DataFrame-level ``RDD.zipWithIndex``:

    1. ``repartitionByRange(order_by)`` — a sampled range shuffle; partition
       *i* holds a contiguous key range strictly below partition *i+1*'s.
    2. ``sortWithinPartitions(order_by)`` — partition-LOCAL sorts, fully
       parallel (renders ``Sort [...], false`` — passes the plan audit).
    3. ``monotonically_increasing_id()`` over the sorted stream encodes
       (partition id << 33) + local ordinal; the frame is persisted FIRST so
       both consumers below observe one materialization (ids are stable on
       the cached blocks, whatever AQE did to the exchange).
    4. Per-partition row counts — ≤ ``num_partitions`` longs — come back to
       the driver in one bounded metadata action (exactly the count job
       ``RDD.zipWithIndex`` runs; this is NOT a data collect) and turn into
       a literal pid→offset map applied with ``element_at``: no join, no
       window, no global sort anywhere in the plan.

    Ranks are exact and deterministic for a total ``order_by`` regardless of
    where the sampled range boundaries land.  Cost at scale: ONE full-data
    shuffle (the range exchange) + local sorts + a counts job over the cache.
    The caller owns the cache lifetime (``.unpersist()`` the RETURNED frame's
    source via ``df_ranked`` lineage is unnecessary — blocks age out via the
    context cleaner once the frame is unreferenced).

    Parity: replaces the q11 Zipf-rank leg's vocabulary-wide unpartitioned
    window (plans/catalog.py q11); reference computes ranks single-node in
    pandas (e.g. modules/cancerBiomarkers.py-style driver frames) which the
    Spark-first design must not imitate.
    """
    from pyspark.storagelevel import StorageLevel

    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions is not None
        else df.repartitionByRange(*order_by)
    )
    tagged = ranged.sortWithinPartitions(*order_by).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
    counts = (
        tagged.groupBy(F.shiftright("__mid", 33).alias("__pid"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__c"]
    if not offsets:  # empty input: rank column still appears in the schema
        return tagged.withColumn(rank_col, F.lit(None).cast("long")).drop(
            "__mid"
        )
    off_map = F.create_map(
        *[
            F.lit(x).cast("long")
            for pid, off in offsets.items()
            for x in (pid, off)
        ]
    )
    local = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    return tagged.withColumn(
        rank_col,
        (
            local + F.element_at(off_map, F.shiftright("__mid", 33)) + F.lit(1)
        ).cast("long"),
    ).drop("__mid")
