"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
(random-hyperplane) approximate variant as the scale path.  Bucketing and
pair scoring run in Arrow-batched numpy kernels whose pairwise folds replay
the oracle's balanced-tree IEEE arithmetic bit-for-bit (unrolled expression
trees compile past HotSpot's JIT method ceiling and evaluate interpreted —
SCALE.md hazards 7–9); the per-query top-k is a window over the similarity.

Scale design: brute force is O(|Q|·|C|); keep |Q| bounded (a probe set) or
use ``ann_lsh_topk_dual`` which shuffles on hyperplane-sign buckets so each
query only scores its bucket-mates (or IVF cells — operators/ivf.py).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.sqlstr import qid, slit


# ---------------------------------------------------------------------------
# ULP-insensitive quantization.  Oracle-checked cosine values travel through
# different engines (numpy kernel vs DuckDB's C++ expression evaluator) whose
# results *should* be bit-identical under IEEE rules, yet round-4's driver
# gate recorded one environment-dependent hash mismatch (q38) that five local
# replays could not reproduce.  Rather than chase the last bit, every value
# that reaches a hash gate is quantized to 9 decimals with an arithmetic both
# engines express EXACTLY the same way — floor(x·1e9 + 0.5)/1e9, plain IEEE
# multiply/floor/divide, no library rounding semantics (Spark's F.round goes
# through Java BigDecimal HALF_UP while DuckDB rounds in C; those two can
# legitimately disagree on the last bit, this scheme cannot).  Nine decimals
# keeps the oracle's full power over any real arithmetic bug (those differ at
# 1e-2..1e-7) while making the hash insensitive to 1-ULP drift except on a
# ~1e-7-measure rounding boundary.
# ---------------------------------------------------------------------------

COS_QUANT_DECIMALS = 9


def quantize_np(x, decimals: int = COS_QUANT_DECIMALS):
    """Half-up quantization of a numpy array — floor(x·10^d + 0.5)/10^d.
    NaN passes through (floor(NaN) is NaN)."""
    import numpy as np

    q = float(10**decimals)
    return np.floor(x * q + 0.5) / q


def quantize_col(c: Column, decimals: int = COS_QUANT_DECIMALS) -> Column:
    """Column twin of :func:`quantize_np` — identical IEEE op sequence.
    Spark's ``floor`` returns LONG (|cos|·1e9 fits easily); the long→double
    cast and division reproduce numpy's values exactly."""
    q = float(10**decimals)
    return F.floor(c * F.lit(q) + F.lit(0.5)).cast("double") / F.lit(q)


def quantize_sql(expr: str, decimals: int = COS_QUANT_DECIMALS) -> str:
    """SQL twin for the DuckDB oracle — same multiply/floor/divide."""
    q = float(10**decimals)
    return f"floor(({expr}) * {q!r} + 0.5) / {q!r}"


def pairwise_fold(x):
    """Pairwise balanced-tree fold over the LAST axis of a numpy array — the
    association order of the oracle's parenthesized sum
    (``plans/catalog_text._balanced_sum_sql``), vectorized.  Adjacent
    terms add pairwise, an odd tail carries to the next level.  IEEE
    double ops are deterministic, so results are bit-identical to the
    unrolled expression tree."""
    import numpy as np

    while x.shape[-1] > 1:
        m = x.shape[-1] // 2
        even = x[..., 0 : 2 * m : 2] + x[..., 1 : 2 * m : 2]
        x = (
            even
            if x.shape[-1] % 2 == 0
            else np.concatenate([even, x[..., -1:]], axis=-1)
        )
    return x[..., 0]


def cosine_pairs_udf():
    """Arrow scalar UDF: cosine of two array<double> columns, one batch at a
    time.  This is the scoring hot path for every pair the candidate joins
    emit; as an expression tree the 64-dim dot compiles past HotSpot's 8 KB
    JIT ceiling and evaluates interpreted (~50× — SCALE.md hazard 7), while
    the numpy kernel replays the identical products + balanced-tree fold, so
    the scores still hash-match the oracle bit-for-bit."""

    def kernel(qs, cs):
        import numpy as np
        import pandas as pd

        if len(qs) == 0:
            return pd.Series([], dtype="float64")
        Q = np.asarray([np.asarray(v, dtype=np.float64) for v in qs])
        C = np.asarray([np.asarray(v, dtype=np.float64) for v in cs])
        d = pairwise_fold(Q * C)
        nq = np.sqrt(pairwise_fold(Q * Q))
        nc = np.sqrt(pairwise_fold(C * C))
        return pd.Series(d / (nq * nc))

    return F.pandas_udf(kernel, "double")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the corpus.

    O(|Q|·|C|) by definition — keep |Q| a bounded probe set; the scale paths
    are ann_lsh_topk_dual and operators/ivf.  Scoring runs in the shared Arrow
    cosine kernel (cosine_pairs_udf) — bit-identical to the oracle's
    expression tree, but JIT-friendly and free of multi-MB plan literals.

    Output: (query_id, neighbor_id, cosine_sim, rank).  Ties break by
    neighbor id ascending for determinism.
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).cast("array<double>").alias("__qv")
    )
    c = corpus.select(
        F.col(corpus_id), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            cosine_pairs_udf()(F.col("__qv"), F.col("__cv")).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def deterministic_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Pseudo-random hyperplanes from the portable-hash family (no RNG state,
    reproducible across rounds/engines)."""
    planes = []
    for j in range(n_planes):
        # simple LCG seeded by plane index; values in [-1, 1)
        x = (j * 2654435761 + 1013904223) % (2**32)
        row = []
        for d in range(dim):
            x = (1664525 * x + 1013904223) % (2**32)
            row.append((x / 2**31) - 1.0)
        planes.append(row)
    return planes


def hyperplane_bucket_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    vec_alias: str = "__v",
) -> DataFrame:
    """Multi-table hyperplane-sign bucket rows: ``(id, vec_alias, __t,
    __bucket)``, ``n_tables`` rows per vector — the shared candidate
    machinery for ANN search and incremental embedding dedup.

    Table t uses global planes [t*n_planes, (t+1)*n_planes): plane j of the
    deterministic LCG sequence depends only on j, so one generation covers
    every table's slice.

    The bucketing is an Arrow-batched pandas UDF, not an unrolled SQL
    expression: n_tables*n_planes dim-term trees in one Project exceed
    whole-stage codegen's size limit (Spark logs "codegen disabled" and
    falls back to per-row interpreted evaluation — the wrong trade at any
    scale), and building them through the Column API costs a py4j round
    trip per node.  The numpy kernel replays the IDENTICAL IEEE arithmetic
    as the DuckDB oracle: element*coefficient products, then a vectorized
    pairwise fold that performs the same balanced-tree additions in the
    same order — double ops are deterministic, so the signs (and therefore
    buckets, candidates and downstream results) match the oracle
    bit-for-bit.

    Rows with a NULL vector are excluded (they can be neither candidates
    nor stored fingerprints; the numpy kernel has no NULL representation).
    """
    all_planes = deterministic_planes(dim, n_planes * n_tables)
    planes_const = [[float(v) for v in p] for p in all_planes]
    n_t, n_p = n_tables, n_planes
    schema = ", ".join(f"bk{t} int" for t in range(n_tables))

    def bucket_kernel(s):
        import numpy as np
        import pandas as pd

        P = np.asarray(planes_const, dtype=np.float64)  # (T*J, dim)
        if len(s) == 0:
            return pd.DataFrame(
                {f"bk{t}": pd.array([], dtype="int32") for t in range(n_t)}
            )
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in s])
        x = V[:, None, :] * P[None, :, :]  # (n, T*J, dim) products
        # balanced-tree fold: add adjacent pairs, odd tail carried last —
        # the exact association order of pairwise_fold / the
        # oracle's pairwise-parenthesized sum
        while x.shape[2] > 1:
            m = x.shape[2] // 2
            even = x[:, :, 0 : 2 * m : 2] + x[:, :, 1 : 2 * m : 2]
            x = (
                even
                if x.shape[2] % 2 == 0
                else np.concatenate([even, x[:, :, -1:]], axis=2)
            )
        signs = x[:, :, 0] > 0  # (n, T*J)
        out = {}
        for t in range(n_t):
            bk = np.zeros(len(V), dtype=np.int32)
            for j in range(n_p):
                bk |= signs[:, t * n_p + j].astype(np.int32) << j
            out[f"bk{t}"] = bk
        return pd.DataFrame(out)

    bucket_udf = F.pandas_udf(bucket_kernel, schema)
    src = (
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_alias)
        )
        .withColumn("__bks", bucket_udf(F.col(vec_alias)))
    )
    # one SQL parse instead of one py4j trip per struct node (r13)
    buckets = ", ".join(
        f"struct({t} AS table, __bks.bk{t} AS bucket)"
        for t in range(n_tables)
    )
    return src.selectExpr(
        qid(id_col), qid(vec_alias), f"explode(array({buckets})) AS __b"
    ).selectExpr(
        qid(id_col), qid(vec_alias), "__b.table AS __t",
        "__b.bucket AS __bucket",
    )


def corpus_index_rows(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    centroids: list[list[float]],
    vec_alias: str = "__cv",
) -> DataFrame:
    """Fused per-vector index row: LSH table buckets AND IVF cell from ONE
    Arrow pass — ``(id, vec_alias, bk0..bk{T-1}, __cell)``, one row per
    corpus vector (r14, guide §4.1/§2.1).

    A query that searches by BOTH index structures (q39's lsh/lsh_mp + ivf
    legs) otherwise scans the corpus twice and pays two Python boundary
    crossings for kernels that share the expensive part — materializing the
    (n, dim) batch matrix.  The fused kernel computes the hyperplane
    projections and the centroid distances off the same matrix, replaying
    each oracle's IEEE arithmetic EXACTLY as the separate kernels do
    (identical products, identical balanced-tree folds, identical stable
    argsort tie-break), so buckets and cells are bit-identical to
    :func:`hyperplane_bucket_rows` / ``ivf._cells_udf``.

    Persist (or localCheckpoint) the result when feeding multiple legs —
    the two consumers otherwise each re-run the fused kernel, which is
    worse than the separate passes.  At 100 TB this frame IS the ANN index
    (the assigned/bucketed corpus the maintenance operators append to).

    Rows with a NULL vector are excluded, as in the separate kernels.
    """
    all_planes = deterministic_planes(dim, n_planes * n_tables)
    planes_const = [[float(v) for v in p] for p in all_planes]
    cents_const = [[float(v) for v in c] for c in centroids]
    n_t, n_p = n_tables, n_planes
    schema = ", ".join(
        [f"bk{t} int" for t in range(n_tables)] + ["cell int"]
    )

    def kernel(s):
        import numpy as np
        import pandas as pd

        P = np.asarray(planes_const, dtype=np.float64)  # (T*J, dim)
        C = np.asarray(cents_const, dtype=np.float64)  # (n_cells, dim)
        if len(s) == 0:
            out = {f"bk{t}": pd.array([], dtype="int32") for t in range(n_t)}
            out["cell"] = pd.array([], dtype="int32")
            return pd.DataFrame(out)
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in s])
        # LSH signs — identical fold to hyperplane_bucket_rows
        signs = pairwise_fold(V[:, None, :] * P[None, :, :]) > 0  # (n, T*J)
        out = {}
        for t in range(n_t):
            bk = np.zeros(len(V), dtype=np.int32)
            for j in range(n_p):
                bk |= signs[:, t * n_p + j].astype(np.int32) << j
            out[f"bk{t}"] = bk
        # IVF nearest cell — identical fold + stable tie-break to
        # ivf._cells_udf(centroids, 1)
        d = V[:, None, :] - C[None, :, :]
        negdist = -pairwise_fold(d * d)  # (n, n_cells)
        order = np.argsort(negdist, axis=1, kind="stable")
        out["cell"] = order[:, -1].astype(np.int32)
        return pd.DataFrame(out)

    # Pure, but flagged like ivf._cells_udf: without the flag Catalyst
    # clones the kernel into the pushed-down isnotnull(__cell) filter of an
    # un-persisted ivf_topk(corpus_assigned=...) join, and the fused pass
    # runs twice (pinned by test_corpus_index_kernel_runs_once_unpersisted)
    idx_udf = F.pandas_udf(kernel, schema).asNondeterministic()
    return (
        corpus.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias(vec_alias),
        )
        .withColumn("__idx", idx_udf(F.col(vec_alias)))
        .selectExpr(
            qid(id_col),
            qid(vec_alias),
            *[f"__idx.bk{t} AS {qid(f'__bk{t}')}" for t in range(n_tables)],
            "__idx.cell AS __cell",
        )
    )


def index_rows_to_bucket_rows(
    index_rows: DataFrame, id_col: str, n_tables: int, vec_alias: str = "__cv"
) -> DataFrame:
    """Explode :func:`corpus_index_rows` output into the
    ``(id, vec_alias, __t, __bucket)`` shape :func:`hyperplane_bucket_rows`
    emits (JVM-side explode — no extra Python crossing)."""
    buckets = ", ".join(
        f"struct({t} AS table, {qid(f'__bk{t}')} AS bucket)"
        for t in range(n_tables)
    )
    return index_rows.selectExpr(
        qid(id_col), qid(vec_alias), f"explode(array({buckets})) AS __b"
    ).selectExpr(
        qid(id_col), qid(vec_alias), "__b.table AS __t",
        "__b.bucket AS __bucket",
    )


def ann_lsh_topk_dual(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    multiprobe: int = 2,
    corpus_bucket_rows: DataFrame | None = None,
    base_method: str = "lsh",
    mp_method: str = "lsh_mp",
) -> DataFrame:
    """Base AND multi-probe top-k from ONE candidate + scoring pass (r13).

    Running a base search and a ``multiprobe=m`` search separately
    duplicates the whole pipeline — two candidate joins, two dedups, two
    Arrow scoring passes, two window sorts — even though the base
    candidate set is a SUBSET of the multi-probe one (probe position 0 in
    every table is the unflipped bucket).  This variant:

      1. generates probe rows once with the base flag
         (``hyperplane_probe_rows(..., with_base_flag=True)``);
      2. dedups candidates grouped on (query, neighbor, vec) — the same
         grouping the old ``distinct()`` used — keeping
         ``max(__is_base)``, i.e. "pair shares at least one BASE bucket";
      3. scores each pair exactly once in the shared Arrow cosine kernel
         (bit-identical values, so both legs see the scores the separate
         passes computed);
      4. ranks both legs in ONE window pass over one exchange:
         ``row_number`` is the multi-probe rank, and a running
         ``sum(CASE WHEN __in_base ...)`` over the same total order is
         the rank among base candidates (equal to the separate base
         leg's row_number by construction — the order restricted to
         base rows is the base leg's order);
      5. explodes each row into the legs it qualifies for, tagged
         ``base_method`` / ``mp_method``.

    Output: (method, query_id, corpus_id, cosine_sim, rank) — the exact
    row multiset of the two separate searches, at one candidate join, one
    dedup aggregate, one Python-boundary crossing and one shuffle fewer.
    q39's oracle replays both legs and gates the values.
    """
    q = hyperplane_probe_rows(
        queries, query_id, vec_col, dim, n_planes, n_tables,
        multiprobe, "__qv", with_base_flag=True,
    )
    c = (
        corpus_bucket_rows
        if corpus_bucket_rows is not None
        else hyperplane_bucket_rows(
            corpus, corpus_id, vec_col, dim, n_planes, n_tables, "__cv"
        )
    )
    cand = (
        c.join(
            q.select(query_id, "__t", "__bucket", "__is_base"),
            on=["__t", "__bucket"],
        )
        .where(F.col(query_id) != F.col(corpus_id))
        .groupBy(query_id, corpus_id, "__cv")
        .agg(F.max("__is_base").alias("__in_base"))
    )
    scored = cand.join(
        F.broadcast(queries.select(
            F.col(query_id), F.col(vec_col).cast("array<double>").alias("__qv")
        )),
        on=query_id,
    ).select(
        query_id,
        corpus_id,
        "__in_base",
        cosine_pairs_udf()(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
    )
    # SQL-string construction from here down (r13, guide §1.3 — the
    # scoring select above keeps the Column form because the Arrow
    # cosine UDF call cannot ride a SQL string).  Explicit NULLS
    # ordering mirrors the Column API's desc()/asc() defaults.  Unlike
    # the asof/interval/sketch twins this rewrite is VALUE-verified,
    # not plan-identical: expressing both ranks over one OVER clause
    # lets Catalyst fuse the two Window nodes into one (an intentional
    # improvement the Column form did not get).  q39's oracle gates the
    # values and test_q39_ann_plan_shape the plan shape.
    over = (
        f"OVER (PARTITION BY {qid(query_id)} ORDER BY "
        f"cosine_sim DESC NULLS LAST, {qid(corpus_id)} ASC NULLS FIRST"
    )
    ranked = scored.selectExpr(
        "*",
        f"row_number() {over}) AS __rank_mp",
        f"sum(CASE WHEN __in_base THEN 1 ELSE 0 END) {over} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __rank_base",
    )
    legs = (
        "array_compact(array("
        f"CASE WHEN __rank_mp <= {k} THEN struct("
        f"{slit(mp_method)} AS method, CAST(__rank_mp AS INT) AS rank) END, "
        f"CASE WHEN __in_base AND __rank_base <= {k} THEN struct("
        f"{slit(base_method)} AS method, CAST(__rank_base AS INT) AS rank)"
        " END))"
    )
    return (
        ranked.selectExpr(
            qid(query_id), qid(corpus_id), "cosine_sim",
            f"explode({legs}) AS __l",
        )
        .selectExpr(
            "__l.method AS method",
            qid(query_id),
            qid(corpus_id),
            "cosine_sim",
            "__l.rank AS rank",
        )
    )


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_block_rows: int = 2048,
    fold_chunk: int = 64,
    quantize_decimals: int | None = None,
) -> DataFrame:
    """All within-block embedding pairs with cosine > ``threshold`` — the
    blocked near-dup pass — with the block-size cap ENFORCED inside the
    operator, not advised in a docstring.

    Blocks larger than ``max_block_rows`` are hash-salted into ⌈n/cap⌉
    sub-blocks; every unordered sub-block pair (g1 ≤ g2) becomes one task
    group holding at most 2·cap rows, so a single skewed block (one
    templated label at corpus scale) can no longer OOM a Python worker.
    Each row replicates into ⌈n/cap⌉ groups — the unavoidable cost of
    distributing O(n²) pair work under bounded memory — and each pair is
    scored EXACTLY once: pair (a,b) with sub-blocks (ga,gb) belongs only to
    group (min(ga,gb), max(ga,gb)), and mixed groups skip same-sub-block
    pairs (they are the diagonal group's job).  Unskewed blocks take the
    nsalt=1 fast path: one group, zero replication — identical to the
    uncapped operator.

    The kernel replays the oracle's IEEE arithmetic (elementwise products,
    pairwise balanced-tree fold, one division) so cosines hash-match
    bit-for-bit regardless of how rows were salted; the fold runs in
    ``fold_chunk``-row slabs, bounding kernel memory at
    O(fold_chunk·n·dim + n²) instead of O(n²·dim).

    Output: (id_a, id_b, <block_col>, cosine_sim) with id_a < id_b, input
    id/block dtypes preserved.

    ``quantize_decimals`` (oracle-gated callers): half-up-quantize cosines
    to that many decimals BEFORE the threshold test and the output, via
    :func:`quantize_np` — kills last-bit environment sensitivity at the
    value-hash gate.
    """
    dts = dict(df.dtypes)
    out_schema = (
        f"id_a {dts[id_col]}, id_b {dts[id_col]}, "
        f"{block_col} {dts[block_col]}, cosine_sim double"
    )

    # null-safe count join: a NULL block key is a legitimate block (an
    # upstream join or bucketing step that missed), and a plain equi-join
    # would silently drop every such row before the kernel
    counts = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__cnt"))
    counts = counts.withColumnRenamed(block_col, "__blk")
    salted = (
        df.join(counts, df[block_col].eqNullSafe(counts["__blk"]))
        .drop("__blk")
        .withColumn(
            "__nsalt",
            F.ceil(F.col("__cnt") / F.lit(max_block_rows)).cast("int"),
        )
        .withColumn(
            "__g", F.pmod(F.hash(F.col(id_col)), F.col("__nsalt"))
        )
        .withColumn(
            "__h",
            F.explode(F.sequence(F.lit(0), F.col("__nsalt") - F.lit(1))),
        )
        .select(
            block_col,
            id_col,
            vec_col,
            "__g",
            F.least(F.col("__g"), F.col("__h")).alias("__g1"),
            F.greatest(F.col("__g"), F.col("__h")).alias("__g2"),
        )
    )

    def pair_kernel(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        g = pdf["__g"].to_numpy()
        mixed = pdf["__g1"].iloc[0] != pdf["__g2"].iloc[0]
        V = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        n = len(ids)
        dots = np.empty((n, n), dtype=np.float64)
        for s in range(0, n, fold_chunk):
            chunk = V[s : s + fold_chunk]
            dots[s : s + fold_chunk] = pairwise_fold(
                chunk[:, None, :] * V[None, :, :]
            )
        norms = np.sqrt(np.diagonal(dots))
        cos = dots / (norms[:, None] * norms[None, :])
        if quantize_decimals is not None:
            # quantize BEFORE the threshold test so pair membership is as
            # ULP-insensitive as the emitted value (oracle filters on the
            # identically quantized expression)
            cos = quantize_np(cos, quantize_decimals)
        mask = (ids[:, None] < ids[None, :]) & (cos > threshold)
        if mixed:  # same-sub-block pairs belong to the diagonal group
            mask &= g[:, None] != g[None, :]
        i, j = np.nonzero(mask)
        return pd.DataFrame(
            {
                "id_a": ids[i],
                "id_b": ids[j],
                block_col: pdf[block_col].to_numpy()[i],
                "cosine_sim": cos[i, j],
            }
        )

    return salted.groupBy(block_col, "__g1", "__g2").applyInPandas(
        pair_kernel, out_schema
    )


# ---------------------------------------------------------------------------
# Incremental embedding near-dup dedup — the third modality of the
# fingerprint-store pattern (exact hashes → incremental_exact_dedupe,
# lexical near-dup → incremental_lsh_dedupe / incremental_simhash_dedupe,
# semantic near-dup → here).  The state carried between runs is the retained
# corpus's embedding column itself; candidates come from the same
# multi-table hyperplane buckets as ann_lsh_topk_dual, verification is
# exact cosine.
# ---------------------------------------------------------------------------


class IncrementalEmbeddingResult(NamedTuple):
    """Result of :func:`incremental_embedding_dedupe` — same contract as the
    text-side incremental operators: ``pinned`` is the persisted batch
    bucket-row frame; unpersist it after materializing ``fresh``/``store``;
    ``delta`` is the batch's store contribution alone (survivor vectors) —
    APPEND it to advance the on-disk store in O(batch)."""

    fresh: DataFrame
    store: DataFrame
    pinned: DataFrame
    delta: DataFrame


def incremental_embedding_dedupe(
    new_batch: DataFrame,
    vector_store: DataFrame | None,
    vec_col: str,
    id_col: str,
    *,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 4,
    store_bucket_rows: DataFrame | None = None,
    quantize_decimals: int | None = None,
) -> IncrementalEmbeddingResult:
    """Batch-over-batch semantic dedup against a persisted vector store
    (``(id, vec)`` rows of every retained document; None on the first run).
    A new document is dropped when a stored vector shares >= 1
    hyperplane-sign bucket with it (``n_tables`` tables, OR-amplified) AND
    exact cosine >= ``threshold``.

    Identical vectors share every bucket, so exact re-ingests are always
    caught (cosine 1); near-duplicates are caught with recall
    ≈ 1-(1-p^n_planes)^n_tables, p = 1-θ/π — the standard LSH trade, tuned
    by the table/plane counts.  NULL vectors never match (excluded from
    bucket rows on both sides — they pass through as fresh); zero vectors
    score NaN cosine and also never match.

    Within-batch near-dups are out of scope by design (run
    ``blocked_cosine_pairs``/``ann_lsh_topk_dual`` at rest over the batch).

    Scale shape: the batch is bucketed once (Arrow numpy kernel, persisted);
    the store side is bucketed at join time OR supplied precomputed via
    ``store_bucket_rows`` (persist them alongside the store —
    ``hyperplane_bucket_rows`` output, n_tables rows/doc — so the per-batch
    cost never re-hashes the corpus; bucket them on (__t, __bucket) with
    ``sinks.write_bucketed_store`` for a co-located candidate join).  The
    candidate shuffle keys on (table, bucket); verification only scores
    bucket-mates through the shared Arrow cosine kernel.

    Returns ``(fresh, store, pinned)``: ``fresh`` = surviving batch rows
    (full payload), ``store`` = vector store ∪ survivors' ``(id, vec)``.
    """
    batch_bk = hyperplane_bucket_rows(
        new_batch, id_col, vec_col, dim, n_planes, n_tables, "__nv"
    ).persist()
    if vector_store is None:
        first_store = new_batch.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
        )
        return IncrementalEmbeddingResult(
            fresh=new_batch, store=first_store, pinned=batch_bk,
            delta=first_store,
        )
    store_bk = (
        store_bucket_rows.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__sv"),
            "__t",
            "__bucket",
        )
        if store_bucket_rows is not None
        else hyperplane_bucket_rows(
            vector_store, id_col, vec_col, dim, n_planes, n_tables, "__sv"
        )
    )
    cand = (
        batch_bk.select(id_col, "__nv", "__t", "__bucket")
        .join(store_bk.select("__sv", "__t", "__bucket"), on=["__t", "__bucket"])
        .select(id_col, "__nv", "__sv")
        # one score per (batch doc, store doc) pair even when they collide
        # in several tables — dedup BEFORE the kernel (as ann_lsh_topk_dual)
        .distinct()
    )
    score = cosine_pairs_udf()(F.col("__nv"), F.col("__sv"))
    if quantize_decimals is not None:
        # oracle-gated callers: drop decision compares the quantized score
        # (the oracle's WHERE uses the identical floor(x·10^d+0.5)/10^d),
        # so membership cannot flip on a last-bit difference
        score = quantize_col(score, quantize_decimals)
    dropped = cand.filter(score >= F.lit(threshold)).select(id_col)
    fresh = new_batch.join(dropped, on=id_col, how="left_anti")
    delta = fresh.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    new_store = vector_store.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).unionByName(delta)
    return IncrementalEmbeddingResult(
        fresh=fresh, store=new_store, pinned=batch_bk, delta=delta
    )


def hyperplane_probe_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    multiprobe: int = 0,
    vec_alias: str = "__v",
    with_base_flag: bool = False,
) -> DataFrame:
    """Query-side bucket rows WITH multi-probe: besides its own bucket in
    each table, a query also probes the buckets reached by flipping the
    ``multiprobe`` plane signs with the smallest projection margin — the
    planes the vector sits closest to, i.e. where a true neighbor most
    likely landed on the other side (Lu et al.'s multi-probe LSH, restricted
    to single-bit perturbations).  Raises per-query candidate volume
    ×(1+multiprobe) while leaving the CORPUS side and the store layout
    untouched — the cheap recall knob when adding hash tables (which
    re-replicates the corpus) is too expensive.

    ``multiprobe=0`` emits exactly :func:`hyperplane_bucket_rows`'s rows.
    """
    if multiprobe < 0 or multiprobe > n_planes:
        raise ValueError(f"multiprobe must be in [0, {n_planes}]")
    all_planes = deterministic_planes(dim, n_planes * n_tables)
    planes_const = [[float(v) for v in p] for p in all_planes]
    n_t, n_p, n_probe = n_tables, n_planes, multiprobe

    def kernel(s):
        import numpy as np
        import pandas as pd

        P = np.asarray(planes_const, dtype=np.float64)
        if len(s) == 0:
            return pd.DataFrame(
                {f"bk{t}": pd.Series([], dtype=object) for t in range(n_t)}
            )
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in s])
        x = V[:, None, :] * P[None, :, :]
        while x.shape[2] > 1:
            m = x.shape[2] // 2
            even = x[:, :, 0 : 2 * m : 2] + x[:, :, 1 : 2 * m : 2]
            x = (
                even
                if x.shape[2] % 2 == 0
                else np.concatenate([even, x[:, :, -1:]], axis=2)
            )
        proj = x[:, :, 0]  # (n, T*J) — same fold as the base bucketing
        signs = proj > 0
        out = {}
        for t in range(n_t):
            sl = slice(t * n_p, (t + 1) * n_p)
            base = np.zeros(len(V), dtype=np.int32)
            for j in range(n_p):
                base |= signs[:, t * n_p + j].astype(np.int32) << j
            margins = np.abs(proj[:, sl])  # (n, J)
            flip_order = np.argsort(margins, axis=1, kind="stable")
            rows = []
            for i in range(len(V)):
                bks = [int(base[i])]
                for m in range(n_probe):
                    bks.append(int(base[i]) ^ (1 << int(flip_order[i, m])))
                rows.append(bks)
            out[f"bk{t}"] = pd.Series(rows)
        return pd.DataFrame(out)

    schema = ", ".join(f"bk{t} array<int>" for t in range(n_tables))
    bucket_udf = F.pandas_udf(kernel, schema)
    src = (
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_alias)
        )
        .withColumn("__bks", bucket_udf(F.col(vec_alias)))
    )
    # one SQL parse instead of one py4j trip per struct node (r13)
    per_table = "array(" + ", ".join(
        f"struct({t} AS table, __bks.bk{t} AS bks)" for t in range(n_tables)
    ) + ")"
    iq, vq = qid(id_col), qid(vec_alias)
    if with_base_flag:
        # posexplode: position 0 in each table's probe list IS the
        # unflipped (base) bucket — the flag that lets one candidate pass
        # serve both the base and the multi-probe leg (ann_lsh_topk_dual)
        return (
            src.selectExpr(iq, vq, f"explode({per_table}) AS __tb")
            .selectExpr(
                iq,
                vq,
                "__tb.table AS __t",
                "posexplode(__tb.bks) AS (__pos, __bucket)",
            )
            .selectExpr(iq, vq, "__t", "__bucket", "(__pos = 0) AS __is_base")
        )
    return (
        src.selectExpr(iq, vq, f"explode({per_table}) AS __tb")
        .selectExpr(
            iq, vq, "__tb.table AS __t", "explode(__tb.bks) AS __bucket"
        )
    )
