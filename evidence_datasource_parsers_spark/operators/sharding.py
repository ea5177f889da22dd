"""Deterministic corpus shuffling + sharding for training-data output.

A training run wants the corpus (a) globally shuffled — no source/time
clumping, every shard a uniform random mix — and (b) split into fixed,
reproducible shards whose count and contents do not depend on cluster
topology, task scheduling, or Spark's partitioner.  The standard failure
mode is ``df.repartition(n).write`` with ``rand()``-based ordering: a retry
or a different executor count reshuffles the data, so two "identical" runs
train on different orderings and incremental consumers cannot diff shards.

Everything here derives from the portable 60-bit hash (functions/hashing.py):

  * ``shard    = hash(id:salt) % num_shards`` — uniform, topology-free;
  * ``shard_pos = row_number() over (partition by shard order by hash, id)``
    — a total, deterministic order WITHIN each shard: the hash delivers the
    shuffle (hash order is uncorrelated with any input attribute), the id
    breaks ties that cannot occur anyway (ids are unique) so the order is a
    total function of the input SET.

Scale shape: one shuffle on the shard key; per-shard sorting is bounded by
the shard size, so pick ``num_shards ≈ corpus_bytes / target_file_bytes``
(e.g. 100 TB / 1 GB → 100k shards) and each sort fits a task comfortably.
The hash is uniform, so shards are balanced within sampling noise — no
salting needed, unlike key-skewed joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import portable_hash


def assign_shards(
    df: DataFrame,
    id_col: str,
    num_shards: int,
    salt: str = "shard",
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
) -> DataFrame:
    """Add (``shard``, ``shard_pos``) — the deterministic global shuffle.

    ``shard`` is the stable shard assignment; ``shard_pos`` (1-based) is the
    reproducible within-shard order a trainer should read rows in.  Both are
    pure functions of ``id_col`` and the input set, reproducible by any
    engine from the same formula (the q50 oracle replays them in SQL).
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    h = portable_hash(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}"))
    )
    with_shard = df.withColumn("__sh_h", h).withColumn(
        shard_col, (F.col("__sh_h") % num_shards).cast("int")
    )
    w = Window.partitionBy(shard_col).orderBy(
        F.col("__sh_h").asc(), F.col(id_col).asc()
    )
    return (
        with_shard.withColumn(pos_col, F.row_number().over(w))
        .drop("__sh_h")
    )
