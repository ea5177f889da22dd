"""Mergeable cardinality sketches: the incremental-analytics companion to
the fingerprint stores.

``approx_count_distinct`` answers "how many distinct NOW" but cannot be
updated — a daily 100 TB crawl would re-scan history to refresh a
distinct-URL count.  Datasketches HLL sketches (Spark 3.5+ built-ins:
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``) are
MERGEABLE: keep one small binary sketch per group as the carried state,
union each new batch's sketches in, estimate on read.  Error is the
standard HLL ±~1.6% at lgConfigK=12 (tunable), the store is O(#groups ·
2^lgK bytes), and merging N batch sketches is associative/commutative —
any merge order lands within the sketch's error bar of the one-shot
sketch over the union, and identical merge sequences are bit-stable
(both tested; exact bit-equality across DIFFERENT merge shapes is not an
HLL guarantee — the union gadget swaps the HIP estimator for the
composite one).

Store contract (mirrors the dedup fingerprint stores): a plain DataFrame
``(group_cols…, sketch binary)`` — persistable with write_bucketed_store,
readable by any Spark job, no driver state.

Advance discipline (same as every dedup store): because the sketches are
mergeable, an append HISTORY — several sketch rows per group, one per
past batch — is a valid store: probes merge per group on read
(:func:`sketch_store_estimates`), so the on-disk advance is appending
the batch's own ``hll_store`` output, O(batch) I/O at any store size,
and a replayed batch appends a redundant sketch that the register-maxima
merge absorbs (idempotent under at-least-once).
:func:`compact_sketch_store` collapses the history to one row per group
on an explicit cadence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import HEX_CHARS

# Spark-SQL string twins (r13, guide §1.3 driver path): the Column-API
# loops below (depth/k/bin fan-outs) cost one py4j round trip per
# expression node — the q42 builder alone measured ~8.3k round trips ≈
# 4s of pure driver time per build, dispersed across this family.  Each
# hot select now parses from ONE SQL string; optimized plans are
# asserted identical to the Column forms in
# tests/test_sketches.py::test_sketch_sql_twins_plan_equal_column_forms,
# so executor-side work is unchanged by construction.
_PH_SQL = (
    "CAST(conv(substring(md5({c}), 1, %d), 16, 10) AS BIGINT)" % HEX_CHARS
)

from evidence_datasource_parsers_spark.functions.sqlstr import (  # noqa: E402
    dlit as _dlit,
    qid as _qid,
    slit as _slit,
)


def _union_stores(stores: list[DataFrame]) -> DataFrame:
    """Shared union fold of the merge functions (one per family member)."""
    if not stores:
        raise ValueError("need at least one store")
    unioned = stores[0]
    for s in stores[1:]:
        unioned = unioned.unionByName(s)
    return unioned


def hll_store(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lgk: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch of ``value_col`` per group — a batch's summary.
    NULL values are ignored by the sketch (match count-distinct
    semantics)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias(sketch_col)
    )


def hll_merge_stores(
    stores: list[DataFrame],
    group_cols: list[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union N stores (e.g. yesterday's store + today's batch) into one:
    groups present in several stores merge their sketches; groups in one
    store pass through.  ONE shuffle on the group key."""
    unioned = _union_stores(stores)
    return unioned.groupBy(*group_cols).agg(
        F.hll_union_agg(F.col(sketch_col)).alias(sketch_col)
    )


def hll_estimates(
    store: DataFrame,
    sketch_col: str = "sketch",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Read side: the store with its cardinality estimates (narrow).
    Assumes one sketch row per group — reading an append HISTORY, go
    through :func:`sketch_store_estimates` (which merges first)."""
    return store.withColumn(
        out_col, F.hll_sketch_estimate(F.col(sketch_col))
    )


def compact_sketch_store(
    store: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Collapse an append-only sketch history to one merged row per
    group — the explicit-cadence O(store) maintenance step (run it when
    file counts grow, never per batch).  Output is a valid store: the
    union gadget is associative/commutative, so estimates after
    compaction match probing the raw history (same single groupBy
    merge)."""
    return hll_merge_stores([store], group_cols, sketch_col)


def sketch_store_estimates(
    store: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Probe an append-only sketch history: merge per group (one shuffle
    on the group key, map-side combined), then estimate.  Identical to
    ``hll_estimates(compact_sketch_store(...))`` — compaction merely
    persists this collapse."""
    return hll_estimates(
        compact_sketch_store(store, group_cols, sketch_col),
        sketch_col,
        out_col,
    )


def incremental_distinct_count(
    prev_store: DataFrame | None,
    batch: DataFrame,
    group_cols: list[str],
    value_col: str,
    lgk: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """The refresh step: fold a new batch into the carried store.

    First run (``prev_store=None``) just sketches the batch.  Re-ingesting
    the same values cannot inflate the REGISTERS (HLL takes maxima), so a
    re-crawled URL never grows the distinct count materially — the
    property exact counters lose the moment data re-arrives.  Precisely:
    the first union switches datasketches' estimator from HIP to the
    composite one (a ~1% one-time shift, inside the sketch's error bar);
    after that, re-ingesting the same values is bit-stable (tested).
    """
    fresh = hll_store(batch, group_cols, value_col, lgk, sketch_col)
    if prev_store is None:
        return fresh
    return hll_merge_stores([prev_store, fresh], group_cols, sketch_col)


# ---------------------------------------------------------------------------
# Mergeable fixed-edge histograms — the QUANTILE analogue of the HLL store.
#
# percentile_approx answers "what's p50 NOW" but its sketch is not exposed
# for persistence, so distribution dashboards (doc length, quality score,
# tokens/doc) over a growing corpus would re-scan history every refresh.
# A fixed-edge histogram IS mergeable — counts add elementwise — at the
# cost of choosing edges up front (cheap for pipeline metrics: bounds are
# known and log-spaced edges cover decades).  Merging is associative,
# commutative, and EXACT (integer adds, no estimator drift);
# :func:`histogram_drift` compares two stores' bin proportions.
#
# Store contract mirrors hll_store: (group_cols…, counts array<long>) with
# len(edges)+1 bins — [underflow, between-edges…, overflow].  NULL values
# are not counted.
# ---------------------------------------------------------------------------


def histogram_store(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    edges: list[float],
    counts_col: str = "counts",
) -> DataFrame:
    """One fixed-edge histogram of ``value_col`` per group: counts[i] =
    rows with edges[i-1] <= v < edges[i] (counts[0] = v < edges[0],
    counts[-1] = v >= edges[-1]).  ``edges`` must be strictly increasing
    and IDENTICAL across every run that will ever merge — persist them
    next to the store.  One map-side-combined aggregation; the bin index
    is a native array scan (no UDF, no second shuffle)."""
    if sorted(edges) != list(edges) or len(set(edges)) != len(edges):
        raise ValueError("edges must be strictly increasing")
    v = f"CAST({_qid(value_col)} AS DOUBLE)"
    earr = "array(" + ", ".join(_dlit(x) for x in edges) + ")"
    # filter() drops elements whose lambda evaluates to NULL, so a NULL v
    # would silently land in bin 0 — guard it to a NULL bin (not counted)
    bin_sql = (
        f"CASE WHEN {v} IS NOT NULL "
        f"THEN size(filter({earr}, x -> x <= {v})) END"
    )
    n_bins = len(edges) + 1
    binned = df.withColumn("__bin", F.expr(bin_sql))
    counts_sql = "array(" + ", ".join(
        f"CAST(sum(CASE WHEN __bin = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        for i in range(n_bins)
    ) + ")"
    return binned.groupBy(*group_cols).agg(
        F.expr(counts_sql).alias(counts_col)
    )


def histogram_merge_stores(
    stores: list[DataFrame],
    group_cols: list[str],
    counts_col: str = "counts",
) -> DataFrame:
    """Union N histogram stores: counts add elementwise per group (exact —
    unlike HLL there is no estimator to drift).  ONE shuffle on the group
    key; the elementwise sum is a zip_with fold over the union."""
    unioned = _union_stores(stores)
    exploded = unioned.select(
        *group_cols, F.posexplode(counts_col).alias("__bin", "__c")
    )
    return (
        exploded.groupBy(*group_cols, "__bin")
        .agg(F.sum("__c").alias("__c"))
        .groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__bin", "__c"))
            ).alias("__bc")
        )
        .selectExpr(
            *[_qid(g) for g in group_cols],
            # lambda vars are named x/y to match the Column API's fixed
            # naming (plan-identity with the pre-r13 form)
            f"transform(__bc, x -> x.__c) AS {_qid(counts_col)}",
        )
    )


def compact_histogram_store(
    store: DataFrame,
    group_cols: list[str],
    counts_col: str = "counts",
) -> DataFrame:
    """Collapse an append-only histogram history (several counts rows
    per group, one per past batch append) to one row per group — counts
    add elementwise, so this is EXACT, and the output is a valid store.
    The histogram analogue of :func:`compact_sketch_store`: advance the
    on-disk store by appending each batch's own ``histogram_store``
    output (O(batch) I/O), compact on an explicit cadence."""
    return histogram_merge_stores([store], group_cols, counts_col)


def histogram_drift(
    store_a: DataFrame,
    store_b: DataFrame,
    group_cols: list[str],
    counts_col: str = "counts",
    out_col: str = "tv_distance",
) -> DataFrame:
    """Distribution drift between two histogram stores per group, as the
    TOTAL-VARIATION distance ``TV = \u00bd\u00b7\u03a3\u1d62 |a\u1d62/A \u2212 b\u1d62/B|`` over the shared
    fixed bins — the corpus-monitoring read ("did this crawl's doc-length
    / quality / tokens-per-doc distribution move?") that two snapshots of
    the mergeable histogram store answer without rescanning either
    corpus.

    TV is chosen over KL/JS deliberately: it is RATIONAL in the bin
    counts (divisions, abs, adds — no transcendental), so the same
    expression evaluates bit-identically on any IEEE engine, in array
    order — the determinism contract divergence metrics with ``ln`` in
    them cannot honestly make cross-engine.  Range [0, 1]; 0 = identical
    distributions, 1 = disjoint support.  Raw append histories accepted
    (both sides are compacted first); groups present in only one store
    are omitted (no distribution to compare).  Edges must match across
    the two stores — they are store identity."""
    a = compact_histogram_store(store_a, group_cols, counts_col)
    b = compact_histogram_store(store_b, group_cols, counts_col).select(
        *group_cols, F.col(counts_col).alias("__cb")
    )
    cq = _qid(counts_col)
    total = (
        "CAST(aggregate({c}, CAST(0 AS BIGINT), (x, y) -> x + y)"
        " AS DOUBLE)"
    )
    joined = a.join(b, on=list(group_cols)).selectExpr(
        "*",
        total.format(c=cq) + " AS __ta",
        total.format(c="__cb") + " AS __tb",
    )
    tv = (
        f"aggregate(zip_with({cq}, __cb, (x, y) -> "
        "abs(CAST(x AS DOUBLE) / __ta - CAST(y AS DOUBLE) / __tb)), "
        "0.0D, (x, y) -> x + y) / 2.0D"
    )
    # a side with zero counted values has no distribution — NULL, not NaN
    return joined.selectExpr(
        *[_qid(g) for g in group_cols],
        f"CASE WHEN __ta > 0 AND __tb > 0 THEN {tv} END AS {_qid(out_col)}",
    )


# ---------------------------------------------------------------------------
# Mergeable count-min sketches — the FREQUENCY analogue, completing the
# counter-store family: distinct counts (HLL), quantiles (histogram),
# and now per-item frequencies, each with the same contract: a plain
# persistable frame, exact-or-estimator merge by one groupBy, append-only
# on-disk advance, explicit-cadence compaction.
#
# "How often has token/domain/url-pattern X appeared across the whole
# corpus" cannot be answered by an exact counter store at 100 TB without
# carrying one row per distinct item; the CMS carries depth × width
# integer cells per group (bounded, chosen up front) and answers with an
# OVERestimate bounded by ~2·N/width at the standard depth=4 (never an
# underestimate — the min over depth rows of additive counters).
#
# Store contract: sparse rows ``(group_cols…, __d, __bucket, n)`` — only
# touched cells materialize; an absent cell is an exact zero.  Counts add
# elementwise like histogram bins, so merging is EXACT (the estimator
# error comes from hash collisions within a cell, which merging neither
# adds nor removes).  Heavy-hitter reads join a CANDIDATE set (each
# batch's exact top-k, a batch-bounded frame) against the store — the
# standard split: the sketch answers "how frequent", candidates answer
# "which items are worth asking about".
# ---------------------------------------------------------------------------


def _cms_bucket_sql(expr: str, d: int, width: int, salt: str) -> str:
    """Row ``d``'s bucket for ``expr`` (quoted SQL) — the depth index
    rides in the hashed salt so the depth rows are independent hash
    functions."""
    h = _PH_SQL.format(
        c=f"concat(CAST({expr} AS STRING), {_slit(f':cms{d}:{salt}')})"
    )
    return f"CAST({h} % {width} AS BIGINT)"


def _cms_cell_structs_sql(
    expr: str, depth: int, width: int, salt: str
) -> str:
    """The explode payload shared by build and probe: one
    ``struct(__d, __bucket)`` per depth row, as ONE parseable string."""
    return ", ".join(
        f"struct(CAST({d} AS BIGINT) AS __d, "
        f"{_cms_bucket_sql(expr, d, width, salt)} AS __bucket)"
        for d in range(depth)
    )


def cms_store(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """One count-min sketch of ``value_col`` per group — a batch's
    summary: ``(group_cols…, __d, __bucket, n)`` with one row per
    TOUCHED cell.  NULL values are not counted (count-distinct/HLL
    convention).  One explode over ``depth`` rows + one map-side-combined
    aggregation; the hash parameters (``depth``, ``width``, ``salt``)
    are part of the sketch identity and must match across every store
    that will ever merge."""
    structs = _cms_cell_structs_sql(_qid(value_col), depth, width, salt)
    cells = df.where(F.col(value_col).isNotNull()).selectExpr(
        *[_qid(g) for g in group_cols],
        f"explode(array({structs})) AS __cell",
    )
    return cells.groupBy(
        *group_cols, F.col("__cell.__d").alias("__d"),
        F.col("__cell.__bucket").alias("__bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


def cms_merge_stores(
    stores: list[DataFrame],
    group_cols: list[str],
) -> DataFrame:
    """Union N sketch stores: cell counts add EXACTLY (same guarantee as
    the histogram store).  ONE shuffle on (group, depth, bucket)."""
    unioned = _union_stores(stores)
    return unioned.groupBy(*group_cols, "__d", "__bucket").agg(
        F.sum("n").alias("n")
    )


def compact_cms_store(
    store: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Collapse an append-only CMS history (one row set per past batch)
    to one row per touched cell — EXACT, output is a valid store; the
    explicit-cadence sibling of :func:`compact_histogram_store`."""
    return cms_merge_stores([store], group_cols)


def cms_estimate(
    store: DataFrame,
    items: DataFrame,
    group_cols: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
    out_col: str = "est_count",
) -> DataFrame:
    """Frequency estimates for ``items`` (``group_cols… + value_col``
    rows): min over the depth rows of the matching cell counts — ≥ the
    true count always, = it when no heavier item shares all ``depth``
    cells.  Reads an append HISTORY directly (the per-cell sum happens
    in the aggregate).  The probe explodes items × depth (item-bounded),
    joins the store on (group, depth, bucket) — broadcast while the
    store is small, bucket-keyed at scale — and never shuffles more
    than the probe side.  ``items`` is deduplicated on (group, value)
    first: the documented heavy-hitter pattern unions per-batch
    candidate lists, and a duplicate probe row would double every cell
    it matches before the per-depth sum — inflating exactly the repeat
    candidates the read exists to rank."""
    items = items.dropDuplicates([*group_cols, value_col])
    gq = [_qid(g) for g in group_cols]
    structs = _cms_cell_structs_sql(_qid(value_col), depth, width, salt)
    probes = items.selectExpr(
        *gq,
        _qid(value_col),
        f"explode(array({structs})) AS __cell",
    ).selectExpr(
        *gq, _qid(value_col),
        "__cell.__d AS __d",
        "__cell.__bucket AS __bucket",
    )
    joined = probes.join(
        store, on=[*group_cols, "__d", "__bucket"], how="left"
    )
    # per (item, depth): sum the history's rows for that cell (absent =
    # exact 0), THEN min across depths — two-stage agg, item-bounded
    per_depth = joined.groupBy(*group_cols, value_col, "__d").agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("__cn")
    )
    return per_depth.groupBy(*group_cols, value_col).agg(
        F.min("__cn").alias(out_col)
    )


def frequent_items(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 20,
) -> DataFrame:
    """A batch's EXACT per-group top-``k`` items by count — the
    candidate generator for cross-batch heavy hitters: union each
    batch's candidates (k·batches rows, tiny), estimate against the
    carried CMS store with :func:`cms_estimate`, rank on the estimate.
    Group-bounded window (never a global sort)."""
    from pyspark.sql import Window

    counts = df.where(F.col(value_col).isNotNull()).groupBy(
        *group_cols, value_col
    ).agg(F.count(F.lit(1)).alias("batch_count"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("batch_count").desc(), F.col(value_col)
    )
    return (
        counts.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def _bottomk(rows: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Keep each group's ``k`` smallest ``(__hk, value)`` rows — the
    bottom-k reduction shared by build and probe.  Identical
    ``(__hk, value)`` rows collapse first: that is what makes the
    reduction IDEMPOTENT (a replayed batch's rows are exact duplicates
    and must not occupy two sample slots); a genuine 60-bit hash
    collision between two same-valued rows costs one slot with
    probability ~n²/2⁶⁰ — negligible and deterministic.  The value
    tiebreak then makes the kept value multiset deterministic under
    collisions between UNequal values."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(*group_cols).orderBy("__hk", "value")
    return (
        rows.dropDuplicates([*group_cols, "__hk", "value"])
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def bottomk_sample_store(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    value_col: str,
    k: int = 256,
    salt: str = "bk",
) -> DataFrame:
    """One deterministic uniform row-sample of ``value_col`` per group —
    a batch's summary: ``(group_cols…, __hk, value)`` with at most ``k``
    rows per group, the rows whose ``portable_hash(id)`` rank smallest.

    The QUANTILE member of the counter-store family for distributions
    whose range is unknown up front (the fixed-edge histogram store needs
    edges chosen before the first batch; this one does not): a bottom-k
    sample by a uniform hash of the row id is a uniform k-sample without
    replacement, so ``sample_quantiles`` estimates any quantile with the
    standard O(1/√k) rank error — and unlike a random reservoir it is
    MERGEABLE AND DETERMINISTIC: bottom-k of a union of per-batch
    bottom-ks equals bottom-k of the union (an idempotent, commutative,
    associative reduction — HLL-class replay safety), and the identical
    arithmetic replays in any engine with the portable hash.

    ``id_col`` must uniquely identify rows ACROSS batches (the store
    contract every incremental operator shares); duplicate ids would
    collapse in the sample.  NULL values are ignored (family
    convention).  ``k``/``salt`` are the sample identity."""
    hk = _PH_SQL.format(
        c=f"concat(CAST({_qid(id_col)} AS STRING), {_slit(':' + salt)})"
    )
    rows = df.where(F.col(value_col).isNotNull()).selectExpr(
        *[_qid(g) for g in group_cols],
        f"{hk} AS __hk",
        f"{_qid(value_col)} AS value",
    )
    return _bottomk(rows, group_cols, k)


def sample_quantiles(
    store: DataFrame,
    group_cols: list[str],
    probs: list[float],
    k: int = 256,
    out_cols: list[str] | None = None,
) -> DataFrame:
    """Interpolated quantile estimates per group from a bottom-k sample
    store (raw append HISTORY accepted — the bottom-k re-reduction
    happens first, so stale rows a later batch displaced never bias the
    estimate).  Exact-interpolation semantics identical to
    ``F.percentile`` over the sample, which both Spark and DuckDB
    (``quantile_cont``) implement bit-for-bit over integer values.

    ``k`` MUST NOT exceed the store's BUILD k: each batch contributed
    at most its own bottom-``build_k`` rows, so probing with a larger k
    would return a batch-stratified union — small batches overrepresented
    — instead of a uniform sample.  Probing with a smaller k is exact
    (bottom-k of a bottom-K superset, k ≤ K, is the global bottom-k)."""
    if out_cols is None:
        out_cols = [f"q{str(p).replace('.', '_')}" for p in probs]
    if len(out_cols) != len(probs):
        raise ValueError("out_cols must match probs")
    sampled = _bottomk(store, group_cols, k)
    return sampled.groupBy(*group_cols).agg(*[
        F.percentile("value", F.lit(float(p))).alias(c)
        for p, c in zip(probs, out_cols)
    ])


def _bloom_bit_sql(expr: str, d: int, m_bits: int, salt: str) -> str:
    """Hash ``d``'s bit position for ``expr`` (quoted SQL) — the hash
    index rides in the salt, same independence trick as the CMS
    buckets."""
    h = _PH_SQL.format(
        c=f"concat(CAST({expr} AS STRING), {_slit(f':bf{d}:{salt}')})"
    )
    return f"CAST({h} % {m_bits} AS BIGINT)"


def _bloom_bits_sql(expr: str, k: int, m_bits: int, salt: str) -> str:
    """The k hash bit positions as one parseable ``array(...)`` body."""
    return ", ".join(
        _bloom_bit_sql(expr, d, m_bits, salt) for d in range(k)
    )


#: __bit → (word index, mask) — the shared word/mask projection of the
#: Bloom build and probe sides (Column twins: ``(__bit/64).cast("long")``
#: and the shiftleft expr the store always used).
_BLOOM_WORD_SQL = "CAST(__bit / 64 AS BIGINT) AS __w"
_BLOOM_MASK_SQL = (
    "shiftleft(CAST(1 AS BIGINT), CAST(__bit % 64 AS INT)) AS __mask"
)


def bloom_store(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 4,
    m_bits: int = 65536,
    salt: str = "bloom",
) -> DataFrame:
    """One Bloom filter of ``value_col`` per group — a batch's summary:
    ``(group_cols…, __w, bits)`` with one row per TOUCHED 64-bit word
    (``__w`` = word index, ``bits`` = the word's set bits as a long).
    The membership member of the mergeable counter-store family (HLL =
    distinct, histogram = distribution, CMS = frequency, Bloom =
    membership): merging is ``bit_or`` — associative, commutative AND
    idempotent, so like HLL (and unlike the exact counters) a replayed
    batch's redundant rows are absorbed by the merge itself.

    NULL values are ignored (the family's convention).  ``k``/``m_bits``/
    ``salt`` are the filter identity and must match across every store
    that will ever merge (standard sizing: m = −n·ln p / (ln 2)²,
    k = ⌈(m/n)·ln 2⌉ for n items at false-positive rate p).  One explode
    over ``k`` rows + one map-side-combined aggregation; the store is at
    most ``#groups · m_bits/64`` rows and usually far fewer (only touched
    words materialize)."""
    gq = [_qid(g) for g in group_cols]
    bits = df.where(F.col(value_col).isNotNull()).selectExpr(
        *gq,
        f"explode(array({_bloom_bits_sql(_qid(value_col), k, m_bits, salt)}))"
        " AS __bit",
    )
    return (
        bits.selectExpr(*gq, _BLOOM_WORD_SQL, _BLOOM_MASK_SQL)
        .groupBy(*group_cols, "__w")
        .agg(F.bit_or("__mask").alias("bits"))
    )


def bloom_merge_stores(
    stores: list[DataFrame],
    group_cols: list[str],
) -> DataFrame:
    """Union N Bloom stores: words OR together — one shuffle on
    (group, word), and the OR is idempotent so duplicate history rows
    (at-least-once replays) change nothing."""
    unioned = _union_stores(stores)
    return unioned.groupBy(*group_cols, "__w").agg(
        F.bit_or("bits").alias("bits")
    )


def compact_bloom_store(
    store: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Collapse an append-only Bloom history to one row per touched word
    — EXACT (OR is idempotent), output is a valid store."""
    return bloom_merge_stores([store], group_cols)


def bloom_member(
    store: DataFrame,
    items: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 4,
    m_bits: int = 65536,
    salt: str = "bloom",
    out_col: str = "maybe_member",
) -> DataFrame:
    """Membership probe: for each ``items`` row, true iff ALL ``k`` of
    its bits are set in the group's filter — no false negatives; false
    positives at the filter's design rate.  Reads
    an append HISTORY directly: the per-word OR happens in the
    aggregate, exactly like :func:`cms_estimate` sums cells.  The probe
    explodes items × k (item-bounded), joins the store on (group, word)
    — broadcast while the store is small, word-keyed at scale — and
    never shuffles more than the probe side."""
    items = items.dropDuplicates([*group_cols, value_col])
    gq = [_qid(g) for g in group_cols]
    probes = items.selectExpr(
        *gq,
        _qid(value_col),
        f"explode(array({_bloom_bits_sql(_qid(value_col), k, m_bits, salt)}))"
        " AS __bit",
    ).selectExpr(
        *gq, _qid(value_col), "__bit", _BLOOM_WORD_SQL, _BLOOM_MASK_SQL
    )
    joined = probes.join(store, on=[*group_cols, "__w"], how="left")
    # per (item, bit): OR the history's rows for that word (absent word
    # = no bits), then test the mask; membership = every bit hit
    per_bit = joined.groupBy(*group_cols, value_col, "__bit").agg(
        (
            F.bit_or(F.coalesce(F.col("bits"), F.lit(0)))
            .bitwiseAND(F.first("__mask"))
            != 0
        ).alias("__hit")
    )
    return per_bit.groupBy(*group_cols, value_col).agg(
        F.bool_and("__hit").alias(out_col)
    )
