"""Small-file compaction for columnar output directories.

The perennial 100 TB operational problem: incremental appends, per-batch
writes, and high-parallelism jobs leave directories with thousands of
KB-sized files; every downstream scan then pays one task + one open per
file, and the namenode/object-store listing dominates job startup.
Compaction rewrites a directory into files near a target size WITHOUT
changing its rows.

Design:

  * ``compaction_plan`` inspects the directory listing only (no data read)
    and reports file count, byte total, and the output file count a rewrite
    would produce — cheap enough to run as a scheduled audit;
  * ``compact_files`` reads, ``coalesce``s to the planned file count (a
    partition MERGE — no shuffle; pass ``rebalance=True`` to repartition
    instead when input sizes are badly skewed and merged files would be
    uneven), writes to a sibling temp directory, and atomically swaps via
    rename.  Hive-partitioned trees (``k=v`` subdirectories) are compacted
    per leaf partition, preserving the layout and its pruning behavior.

Row-preservation contract: compaction never changes row multiplicity or
values, only file boundaries (asserted in tests by order-insensitive
comparison).  Row ORDER across files is not preserved — consumers needing a
deterministic order should use ``operators/sharding.py`` instead, which
makes order part of the data model.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _data_files(path: str) -> list[tuple[str, int]]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            p = os.path.join(root, f)
            out.append((p, os.path.getsize(p)))
    return out


def _leaf_partitions(path: str) -> list[str]:
    """Hive-style leaf partition directories under ``path`` ([] if flat)."""
    leaves = []
    for root, dirs, files in os.walk(path):
        if os.path.basename(root).count("=") == 1 and any(
            not f.startswith(("_", ".")) for f in files
        ):
            if not any("=" in d for d in dirs):
                leaves.append(root)
    return leaves


def compaction_plan(
    path: str, target_file_bytes: int = DEFAULT_TARGET_BYTES
) -> dict:
    """Listing-only audit: what would compaction do here?

    Returns ``{n_files, total_bytes, avg_bytes, n_small, target_files,
    worth_it}`` — ``worth_it`` when the rewrite would cut the file count at
    least in half (the usual trigger threshold for scheduled compaction).
    """
    files = _data_files(path)
    total = sum(s for _, s in files)
    target_files = max(1, math.ceil(total / target_file_bytes))
    n_small = sum(1 for _, s in files if s < target_file_bytes // 2)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "avg_bytes": total // len(files) if files else 0,
        "n_small": n_small,
        "target_files": target_files,
        "worth_it": len(files) >= 2 * target_files,
    }


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    fmt: str = "parquet",
    rebalance: bool = False,
) -> dict:
    """Rewrite ``path`` (flat, or a hive-partitioned tree) into
    ~``target_file_bytes`` files; returns the flat-equivalent plan executed.

    Swap is per-directory rename: the window where readers see a missing
    directory is the two renames — on object stores, write to a versioned
    prefix and flip a pointer instead (same operator shape, different
    swap)."""
    parts = _leaf_partitions(path)
    executed = []
    for sub in parts or [path]:
        plan = compaction_plan(sub, target_file_bytes)
        if plan["n_files"] == 0:
            continue
        tmp = f"{sub}__compact_{uuid.uuid4().hex[:8]}"
        df = spark.read.format(fmt).load(sub)
        n = plan["target_files"]
        out = df.repartition(n) if rebalance else df.coalesce(n)
        out.write.mode("overwrite").format(fmt).save(tmp)
        old = f"{sub}__old_{uuid.uuid4().hex[:8]}"
        os.rename(sub, old)
        os.rename(tmp, sub)
        shutil.rmtree(old)
        executed.append({"path": sub, **plan})
    return {"compacted": executed}
