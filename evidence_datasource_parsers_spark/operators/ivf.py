"""IVF (inverted-file) approximate nearest neighbors.

The second scale path for similarity search (alongside the random-hyperplane
LSH in operators/similarity.py): partition the corpus into Voronoi cells
around centroids, then score each query only against its ``n_probe``
nearest cells.  This is the classic IVF-Flat index expressed relationally:

    centroids: deterministic unit-norm vectors (oracle-replayable)
    assign   : one narrow pass adding cell_id to the corpus   [no shuffle]
    probe    : query × centroids (tiny, broadcast) → top-n_probe cells
    search   : join on cell_id → cosine → window top-k        [one shuffle]

Compute ratio vs brute force ≈ n_probe / n_cells; recall grows with n_probe.
At 100 TB the assigned corpus would be written bucketed by cell_id so the
search join is shuffle-free on the corpus side.

The cell assignment is an Arrow-batched pandas UDF, not an unrolled SQL
expression, for the same two reasons the ANN-LSH bucketing is
(similarity.hyperplane_bucket_rows): n_cells literal-laden dim-term trees
(a) compile to generated methods past HotSpot's 8 KB JIT ceiling, so they
execute in the JVM's bytecode interpreter, and (b) serialize thousands of literal nodes
into every task binary (multi-MB per stage).  In the kernel the centroid
matrix is a 4 KB numpy closure constant, and the squared-distance fold
replays the IDENTICAL IEEE arithmetic the DuckDB oracle computes — products,
then pairwise balanced-tree additions in the same order — so assignments,
probes, and the final top-k match the oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.similarity import (
    cosine_pairs_udf,
    deterministic_planes,
)


def deterministic_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Unit-norm pseudo-random centroids from the same LCG family as the ANN
    hyperplanes — no RNG state, no data-dependent fit, reproducible across
    engines.  For unit-norm embeddings the Voronoi assignment then reduces to
    argmax dot product, so cells stay direction-driven and roughly balanced.

    KMeans-fitted centroids would give better cells; deterministic
    centroids let a second engine (the correctness oracle) replay an IVF
    result bit-for-bit.
    """
    cells = []
    for row in deterministic_planes(dim, n_cells):
        nrm = sum(v * v for v in row) ** 0.5
        cells.append([v / nrm for v in row])
    return cells


def _cells_udf(centroids: list[list[float]], n_probe: int):
    """Arrow pandas UDF: embedding array → the ``n_probe`` nearest cell ids,
    nearest first.  Tie-break toward the LARGER cell id, matching the
    oracle's ascending struct sort read from the top."""
    cents = [[float(v) for v in c] for c in centroids]
    n_out = n_probe

    def kernel(s):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.float64)  # (n_cells, dim)
        if len(s) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in s])
        d = V[:, None, :] - C[None, :, :]
        x = d * d  # (n, n_cells, dim) squared-diff products
        # pairwise balanced-tree fold — the association order of the
        # oracle's parenthesized sum (catalog_text._balanced_sum_sql)
        while x.shape[2] > 1:
            m = x.shape[2] // 2
            even = x[:, :, 0 : 2 * m : 2] + x[:, :, 1 : 2 * m : 2]
            x = (
                even
                if x.shape[2] % 2 == 0
                else np.concatenate([even, x[:, :, -1:]], axis=2)
            )
        negdist = -x[:, :, 0]  # (n, n_cells)
        # ascending stable sort on negdist keeps equal entries in cell order,
        # so reading from the top yields max-negdist, ties → larger cell —
        # identical to sorting (negdist, cell) structs and reversing
        order = np.argsort(negdist, axis=1, kind="stable")
        top = order[:, : -n_out - 1 : -1].astype(np.int32)  # (n, n_probe)
        return pd.Series(list(top))

    # The kernel is pure, but without the flag Catalyst clones it into the
    # join's pushed-down isnotnull(key) filter and the corpus assignment runs
    # TWICE (two ArrowEvalPython stages — 2× the dominant narrow pass at
    # scale).  asNondeterministic forbids duplicating/reordering the call, so
    # the plan evaluates each side's assignment exactly once.
    return F.pandas_udf(kernel, "array<int>").asNondeterministic()


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF search: score queries only against their n_probe nearest cells.

    One shuffle (the cell_id join); the probe side is broadcast — it carries
    |queries| × n_probe rows regardless of corpus size.

    ``corpus_assigned``: precomputed ``(corpus_id, __cv, __cell)`` rows —
    e.g. a slice of ``similarity.corpus_index_rows`` or a persisted
    :func:`assign_cells` index — sharing one corpus assignment pass
    between consumers instead of re-running the cell kernel per search.
    The assignment MUST come from the same centroids; a frame missing any
    of the three columns raises ``ValueError``."""
    probe = _cells_udf(centroids, n_probe)
    if corpus_assigned is not None:
        missing = sorted(
            {corpus_id, "__cv", "__cell"} - set(corpus_assigned.columns)
        )
        if missing:
            raise ValueError(
                f"ivf_topk: corpus_assigned lacks columns {missing}; it "
                f"must carry ({corpus_id}, __cv, __cell) rows assigned "
                "against the SAME centroids passed here"
            )
        c = corpus_assigned
    else:
        assign = _cells_udf(centroids, 1)
        c = corpus.select(
            F.col(corpus_id),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        ).withColumn("__cell", F.element_at(assign(F.col("__cv")), 1))
    q = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>").alias("__qv")
    ).withColumn("__cell", F.explode(probe(F.col("__qv"))))
    scored = c.join(F.broadcast(q), on="__cell").where(
        F.col(query_id) != F.col(corpus_id)
    ).select(
        query_id,
        corpus_id,
        cosine_pairs_udf()(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine_sim").desc(), F.col(corpus_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# Index maintenance — the operational side of IVF at 100 TB: the assigned
# corpus (id, vec, cell) IS the index, persisted bucketed by cell so the
# search join is co-located.  New batches append via assignment against the
# EXISTING centroids (no refit — assignments already in the index must never
# move, or the bucketed layout and any cached cell stats are invalidated);
# occupancy drift tells you when a refit + rebuild is actually worth it.
# ---------------------------------------------------------------------------


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persisted IVF index frame: ``(id, vec, cell)`` — one narrow pass,
    no shuffle.  Write with ``sinks.write_bucketed_store(..., ["cell"], n)``
    so ivf search joins leave the corpus side in place."""
    assign = _cells_udf(centroids, 1)
    return corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).withColumn("cell", F.element_at(assign(F.col(vec_col)), 1))
