"""Semantic (embedding-space) dedup — the SemDeDup pipeline.

SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540) removes
*semantic* duplicates — paraphrases, re-renders, boilerplate variants —
that no lexical fingerprint (MinHash, SimHash, n-gram Jaccard) catches:

    1. k-means cluster the embeddings               (assign_cells — one
       narrow Arrow pass, no shuffle)
    2. within each cluster, cosine-compare pairs    (blocked_cosine_pairs —
       the enforced-cap salted kernel; never all-pairs across clusters)
    3. group mutually-similar docs                  (duplicate_clusters —
       pointer-doubled connected components)
    4. flag ONE representative per group            (min id — deterministic;
       a left_anti join on the non-representatives drops the rest)

The clustering step is what makes this 100 TB-shaped: candidate pairs are
confined to Voronoi cells, so total pair work is Σ|cell|² instead of N²,
and a runaway cell is salted into bounded sub-blocks by the pair kernel.
Centroids come from ``ivf.deterministic_centroids``, which the DuckDB
oracle replays; k-means-fitted centroids drop in unchanged.

Caveat stated honestly: near-dups that straddle a cell boundary are
missed — the same recall trade SemDeDup itself makes (its paper dedups
within k-means clusters only).  Raising n_cells trades recall for speed.

Composition over invention: every stage is an already-tested operator;
this module contributes the glue, the keep-policy, and the audit frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.dedupe import (
    duplicate_clusters,
)
from evidence_datasource_parsers_spark.operators.ivf import assign_cells
from evidence_datasource_parsers_spark.operators.similarity import (
    blocked_cosine_pairs,
)


def semantic_dupe_groups(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    max_block_rows: int = 2048,
    quantize_decimals: int | None = None,
) -> DataFrame:
    """Audit frame: (``id_col``, cluster_id, is_representative) for every
    doc that belongs to a semantic-dup group of size ≥ 2.

    cluster_id is the group's min id (the kept representative), so the
    drop set is exactly the rows with ``is_representative = false``.
    Docs in no group (the overwhelming majority) are absent — the frame
    is dup-sized, not corpus-sized.
    """
    cells = assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    pairs = blocked_cosine_pairs(
        cells, "cell", id_col, vec_col, threshold, max_block_rows,
        quantize_decimals=quantize_decimals,
    )
    groups = duplicate_clusters(pairs, "id_a", "id_b")
    return groups.select(
        F.col("doc_id").alias(id_col),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )
