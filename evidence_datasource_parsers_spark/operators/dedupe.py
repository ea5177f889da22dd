"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
join) and SimHash — all expressed with built-in DataFrame ops and the
*portable* md5-derived hash family (functions/hashing.py) so results are
reproducible across engines (and verifiable against the DuckDB oracle).

Scale design:
  * the scale-path signature (:func:`minhash_signatures_exploded`) is
    explode + codegen'd scalar hashing + map-side-combined min aggregates —
    no interpreted HOF lambdas in the hot path;
  * candidate generation shuffles on (band, band-hash) buckets, never on raw
    text; pair verification only touches bucket-mates;
  * everything is deterministic (fixed permutation family, fixed shingle
    width) so incremental re-runs dedupe consistently.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import (
    HEX_CHARS,
    P_BASE,
    minhash_perm_sql,
    portable_hash,
)

# Spark-SQL string twins of normalized_text / portable_hash, used to build
# hot expression trees in ONE py4j round trip (r13 — the Column-API forms
# cost one driver round trip per node; q33/q34 spent ~half their measured
# bench time constructing plans).  '\\\\s+' reaches the SQL parser as
# '\\s+', whose string literal is the regex \s+ — the exact pattern
# normalized_text passes.  Generated plans are asserted identical to the
# Column forms in tests/test_dedupe_similarity.py.
_NORM_SQL = "regexp_replace(lower(trim({c})), '\\\\s+', ' ')"
_PH_SQL = (
    "CAST(conv(substring(md5({c}), 1, %d), 16, 10) AS BIGINT)" % HEX_CHARS
)


def normalized_text(col: Column | str) -> Column:
    """Canonical text form for hashing: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def content_hash(col: Column | str) -> Column:
    """60-bit portable content hash of normalized text (fingerprint)."""
    return portable_hash(normalized_text(col))


def exact_dedupe(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup: group by content hash, keep one representative id.

    One shuffle on the 60-bit hash — uniformly distributed, no skew.  At
    100 TB, hash first and group on the hash (8 bytes) rather than the text.
    """
    agg = F.min(F.col(id_col)) if keep == "min" else F.max(F.col(id_col))
    return (
        df.withColumn("__h", content_hash(text_col))
        .groupBy("__h")
        .agg(agg.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .withColumnRenamed("__h", "content_hash")
    )


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """k-character shingle set of normalized text, as array<string>.

    Built with sequence+transform (JVM-side); distinct to make it a set.
    """
    c = normalized_text(col)
    n = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(k))))


def minhash_signatures_exploded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "minhash_sig",
    num_perm: int = 16,
    k: int = 5,
    mode: str = "char",
    content_hash_col: str | None = None,
) -> DataFrame:
    """MinHash via explode + aggregate — the fully-codegen'd scale path.

    Higher-order lambdas (transform/aggregate) are CodegenFallback in Spark —
    always interpreted, boxing every element.  Reformulated relationally:

        explode shingles → md5 base (scalar, codegen'd) →
        groupBy(id).agg(min(perm_i(base)) × num_perm)

    md5 runs in generated code, the 16 permutation minima are ordinary
    aggregates with MAP-SIDE PARTIAL COMBINE, and the shuffle carries only
    16 longs per (doc × partition).  ``array_distinct`` is dropped entirely:
    min over a multiset equals min over its set.

    Returns (id_col, out_col) — signature only (group-by loses payload
    cols).  ``content_hash_col`` optionally threads the exact 60-bit
    content hash (NULL text → -1 sentinel) through the same explode+agg
    pass (carried as one long per shingle row, min-combined — constant per
    doc, so min is the value), saving incremental pipelines a second scan
    of the text.
    """
    # Expression trees are built as SQL strings parsed JVM-side in ONE py4j
    # round trip per select (r13): the Column-API form cost ~300 py4j round
    # trips (~0.3s of DRIVER time per invocation — q33/q34 build half their
    # bench seconds in plan construction).  The optimized logical plans are
    # verified IDENTICAL (modulo expr ids) to the Column form for
    # char/word × with/without content hash, so results cannot differ.
    t = _NORM_SQL.format(c=f"`{text_col}`")
    ch_sel = (
        [f"coalesce({_PH_SQL.format(c=t)}, -1) AS __ch"]
        if content_hash_col
        else []
    )
    ch_carry = ["__ch"] if content_hash_col else []
    if mode == "char":
        staged = df.selectExpr(f"`{id_col}`", f"{t} AS __t", *ch_sel)
        exploded = staged.selectExpr(
            f"`{id_col}`",
            "__t",
            *ch_carry,
            f"explode(sequence(1, greatest(length(__t) - {k - 1}, 1))) AS __i",
        )
        shingle = f"substr(__t, __i, {k})"
    else:
        staged = df.selectExpr(
            f"`{id_col}`", f"split({t}, ' ') AS __tk", *ch_sel
        )
        exploded = staged.selectExpr(
            f"`{id_col}`",
            "__tk",
            *ch_carry,
            f"explode(sequence(1, greatest(size(__tk) - {k - 1}, 1))) AS __i",
        )
        shingle = f"array_join(slice(__tk, __i, {k}), ' ')"
    based = exploded.selectExpr(
        f"`{id_col}`",
        f"({_PH_SQL.format(c=shingle)} % {P_BASE}) AS __b",
        *ch_carry,
    )
    aggs = []
    for i in range(num_perm):
        aggs.append(
            F.expr(f"min({minhash_perm_sql('__b', i)}) AS __m{i}")
        )
    if content_hash_col:
        aggs.append(F.expr("min(__ch) AS __ch"))
    agg = based.groupBy(id_col).agg(*aggs)
    arr = ", ".join(f"__m{i}" for i in range(num_perm))
    return agg.selectExpr(
        f"`{id_col}`",
        *(
            [f"__ch AS `{content_hash_col}`"] if content_hash_col else []
        ),
        f"array({arr}) AS `{out_col}`",
    )


def minhash_bands_sql(sig_name: str, num_perm: int, bands: int) -> str:
    """Split a signature column NAME into LSH bands:
    array<struct<band:int, key:string>>, built as ONE SQL string — one py4j
    round trip instead of one per node (r13 driver-time shave; the parsed
    tree is identical to the Column form it replaced: named_struct IS what
    aliased F.struct compiles to)."""
    rows_per_band = num_perm // bands
    structs = []
    for b in range(bands):
        els = ", ".join(
            f"element_at(`{sig_name}`, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        structs.append(
            f"struct({b} AS band, concat_ws('_', {els}) AS key)"
        )
    return f"array({', '.join(structs)})"


def lsh_candidate_pairs_from_buckets(
    buckets: DataFrame, id_col: str
) -> DataFrame:
    """Candidate pairs from precomputed bucket rows ``(id, band, key)`` —
    e.g. :func:`lsh_fingerprints` output.  Share ONE fingerprint pass
    between at-rest pair mining and the incremental store instead of
    hashing the corpus once per consumer (the single-scan rule that
    matters at 100 TB, where the signature pass IS the corpus scan).

    Formulation (r14, guide §2.4): grouping the bucket rows once and
    expanding each bucket's sorted id set locally replaces the (band, key)
    self-join — under the at-scale SMJ regime that was TWO full shuffles
    plus two sorts of the bucket rows (0 ReuseExchange: the renamed sides
    never canonicalize equal) for the SAME pair multiset.  Now the bucket
    rows cross the network ONCE (hash on (band, key), map-side partial
    collect) and the quadratic pair expansion runs inside the task, row
    by row via the two chained explodes — no n² array is materialized.
    Memory trade, stated honestly: one bucket's distinct id set must fit
    in its task (8 bytes/id; SMJ buffered the same key group spillably),
    but a bucket big enough to hurt produces an unusable quadratic pair
    count under EITHER formulation — that failure mode is governed by
    ``hot_bucket_cap`` on the incremental path, not by join strategy.
    """
    # collect_set mirrors the join semantics under duplicate bucket rows
    # (a duplicate (id, band, key) must not pair an id with itself);
    # sort_array makes position order = id order, so (i < j) ⇔ (id_a < id_b).
    pairs = (
        buckets.groupBy("band", "key")
        .agg(F.sort_array(F.collect_set(id_col)).alias("__ids"))
        .where(F.size("__ids") >= 2)
        .select(F.posexplode("__ids").alias("__i", "id_a"), F.col("__ids"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("__ids"), F.col("__i") + F.lit(2), F.size("__ids"))
            ).alias("id_b"),
        )
        .distinct()
    )
    return pairs


def _simhash_bits(hashes: Column, nbits: int) -> Column:
    """Pack majority-vote bits of a materialized token-hash array.

    bit_j = 1 iff 2 * |{h : bit j of h set}| > n  (equivalent to the ±1-sum
    formulation, but pure integer counting — engine-portable)."""
    n = F.size(hashes)
    out = F.lit(0).cast("long")
    for j in range(nbits):
        ones = F.size(
            F.filter(
                hashes,
                lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == F.lit(1),
            )
        )
        out = out + F.when(2 * ones > n, F.lit(1 << j)).otherwise(F.lit(0)).cast(
            "long"
        )
    return out


def simhash(col: Column | str, nbits: int = 16) -> Column:
    """SimHash over distinct whitespace tokens (single-Column form).

    Scale hazard: each bit leg inlines the token-hash pipeline (no CSE in
    interpreted HOF evaluation).  Corpus-scale plans use
    :func:`simhash_fingerprints`.
    """
    c = normalized_text(col)
    hashes = F.transform(
        F.array_distinct(F.split(c, " ")), lambda t: portable_hash(t)
    )
    return _simhash_bits(hashes, nbits)


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (Spark >= 3.3)."""
    return F.bit_count(a.bitwiseXOR(b))


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: the stage AFTER
    LSH in a dedup pipeline — pairs (a~b, b~c) become one cluster {a,b,c}
    keeping min(id) as the canonical representative.

    Algorithm: minimum-label propagation with POINTER DOUBLING.  Each node
    starts labeled with itself; every round each node adopts the smallest
    of (its label, its neighbors' labels, its label's label).  The last
    term — following the label pointer one extra hop, the shortcutting
    step of classic PRAM connectivity — halves pointer-chain lengths each
    round, so convergence is O(log diameter) rounds, not O(diameter):
    a 2^20-node chain fits the default 20-round cap, where plain
    hook-only propagation would need a round per hop (templated near-dup
    pages DO form long chains).  Labels only ever decrease and only to ids
    inside the same component, so the fixed point is exactly min(id) per
    component.

    If the cap is exhausted before the fixed point the function RAISES —
    silently returning partial labels would hand downstream
    canonical-representative selection wrong cluster ids.

    Each round is two joins that both shuffle on node id (edge hook +
    pointer jump), so a 1000-executor run reuses the same hash
    partitioning round to round; the edge list is persisted once;
    convergence is checked with a cheap count of changed labels (the only
    driver-side action per round).

    Each round's labels are localCheckpoint'ed, not merely persisted:
    iterative plans nest one round deeper every pass, and analysis cost
    (even rendering the plan string) grows without bound unless lineage is
    CUT per iteration.  On a real cluster prefer reliable checkpointing so
    a long chain survives executor loss.

    Input: one undirected edge per row (id_a, id_b).  Output:
    (doc_id, cluster_id) for every node that appears in any pair —
    singletons never enter the edge list and keep their own id implicitly.
    """
    # symmetrize once; self-loops are harmless but dropped for less shuffle
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    # label_0 = min(id, min neighbor) — exactly what round 1 computes from
    # the identity start (the jump term is the identity then), folded into
    # the node-enumeration aggregate that was a distinct anyway: same
    # exchange on src, one fewer full 3-join round for every input (r13).
    # min(self, neighbor) is always an id inside the component, so the
    # only-decrease invariant and the fixpoint are untouched.
    labels = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__nb"))
        .select("id", F.least(F.col("id"), F.col("__nb")).alias("label"))
        .localCheckpoint(eager=True)
    )
    try:
        converged = False
        for _ in range(max_iterations):
            neighbor_min = (
                e.join(labels, e.dst == labels.id)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            # shortcut: my label's own label (one pointer jump) — labels
            # only shrink, so label(label(id)) is always a valid (smaller
            # or equal) label for id's component
            jump = labels.select(
                F.col("id").alias("jid"), F.col("label").alias("jump_label")
            )
            # the old label rides along as __old so convergence is a
            # filter-count over THIS round's checkpointed frame — the
            # per-round new⋈old join the check used to pay is gone (r13)
            stepped = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .join(jump, labels.label == jump.jid, "left")
                .select(
                    "id",
                    F.col("label").alias("__old"),
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_label"), F.col("label")),
                        F.coalesce(F.col("jump_label"), F.col("label")),
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = stepped.where(F.col("label") != F.col("__old")).count()
            labels = stepped.select("id", "label")
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"duplicate_clusters did not converge in {max_iterations} "
                "rounds — raise max_iterations (O(log diameter) rounds "
                "are needed; 20 covers a ~10^6-hop chain)"
            )
        return labels.select(
            F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
        )
    finally:
        e.unpersist()


class IncrementalExactResult(NamedTuple):
    """Result of :func:`incremental_exact_dedupe`.  ``delta`` is the
    batch's contribution alone (the store rows NOT already in the carried
    store) — persist the on-disk store by APPENDING ``delta``, never by
    rewriting ``store``: the sides are disjoint by construction (the
    anti-join removed every carried hash from the batch), so append-only
    advance is exact and O(batch) instead of O(store) per round."""

    fresh: DataFrame
    store: DataFrame
    delta: DataFrame


def incremental_exact_dedupe(
    new_batch: DataFrame,
    seen_hashes: DataFrame | None,
    text_col: str,
    id_col: str,
) -> IncrementalExactResult:
    """Batch-over-batch dedup: drop documents already ingested in ANY prior
    run, using a persisted fingerprint store instead of re-reading the
    historical corpus.

    ``seen_hashes`` is the store from previous runs — one ``content_hash``
    column (8 bytes/doc, the only state the pipeline carries forward;
    pass None on the first run).  Returns
    :class:`IncrementalExactResult` ``(fresh, store, delta)``:

      * ``fresh`` — the new batch minus exact dups WITHIN the batch (min
        id kept, same rule as :func:`exact_dedupe`) and minus anything in
        the store (left_anti on the hash: one co-partitioned shuffle, or a
        broadcast when the store is small — AQE's call);
      * ``store`` — store ∪ new hashes (in-plan view for the next
        increment); ``delta`` — the new hashes alone.  At 100 TB the
        store is ~0.1% the corpus size, written bucketed by hash so the
        next run's anti-join is co-located (:func:`write_bucketed_store`
        + :func:`read_bucketed_store` in sources/sinks.py — plan-proven
        shuffle-free on the store side) and ADVANCED by appending
        ``delta`` (:func:`sources.sinks.append_bucketed_store`), never by
        rewriting ``store``.

    The returned ``fresh`` frame is persisted (both outputs share its
    lineage); call ``fresh.unpersist()`` after materializing both.
    """
    # NULL text hashes to a sentinel, not NULL: a NULL join key never
    # matches in the anti-join, which would leak one "fresh" NULL-text doc
    # per batch and grow the store with NULL rows forever
    hashed = new_batch.withColumn(
        "__ch", F.coalesce(content_hash(F.col(text_col)), F.lit(-1))
    )
    # min-id representative via min_by aggregation — map-side combined, so
    # a virally-duplicated doc does NOT funnel every copy into one window
    # task (the skew exact_dedupe's design note promises to avoid)
    row_struct = F.struct(*[F.col(c) for c in hashed.columns])
    in_batch = (
        hashed.groupBy("__ch")
        .agg(F.min_by(row_struct, F.col(id_col)).alias("__row"))
        .select("__row.*")
    )
    if seen_hashes is not None:
        store = seen_hashes.select(F.col("content_hash").alias("__ch"))
        fresh = in_batch.join(store, on="__ch", how="left_anti")
    else:
        fresh = in_batch
    # Both return values consume this lineage; persist so materializing
    # (fresh → sink, store → next increment) runs the hash+agg+anti-join
    # ONCE.  The RETURNED frame is the persisted one — fresh.unpersist()
    # in caller code releases the actual cached blocks (persisting an
    # internal frame and returning a derived plan would leak one cache
    # entry per batch in a long-running pipeline).  The store recomputes
    # the content hash from the persisted rows: deterministic (md5 of
    # normalized text) and cheap relative to the batch scan, so the store
    # still records exactly the docs that were emitted.
    fresh = fresh.drop("__ch").persist()
    delta = fresh.select(
        F.coalesce(content_hash(F.col(text_col)), F.lit(-1)).alias(
            "content_hash"
        )
    )
    new_store = delta
    if seen_hashes is not None:
        new_store = seen_hashes.select("content_hash").unionByName(delta)
    return IncrementalExactResult(fresh=fresh, store=new_store, delta=delta)


# ---------------------------------------------------------------------------
# Incremental NEAR-dup dedup — the fingerprint-store pattern extended from
# exact hashes to MinHash-LSH, so a re-crawled page with one changed byte is
# still dropped on re-ingest without re-reading the historical corpus.
# ---------------------------------------------------------------------------


class IncrementalLshResult(NamedTuple):
    """Result of :func:`incremental_lsh_dedupe`.

    ``pinned`` is the fingerprint frame both outputs derive from; call
    ``pinned.unpersist()`` after materializing ``fresh`` and ``store``
    (returning the handle instead of hiding the persist is what keeps a
    long-running incremental pipeline from leaking cache blocks).  It is
    persisted by the operator ONLY on the self-computed path; when the
    caller supplies ``batch_fingerprints`` (which it should itself have
    persisted, per the single-scan contract) no second cache copy is
    made and the unpersist is a harmless no-op.
    ``delta`` is the batch's store contribution alone (fingerprints of the
    retained docs — disjoint from the carried store by construction):
    advance the on-disk store by APPENDING it
    (:func:`sources.sinks.append_bucketed_store`), never by rewriting
    ``store`` — O(batch) I/O per round instead of O(store)."""

    fresh: DataFrame
    store: DataFrame
    pinned: DataFrame
    delta: DataFrame


def estimated_jaccard(
    sig_a: Column | str, sig_b: Column | str, num_perm: int
) -> Column:
    """Jaccard similarity estimated from two MinHash signatures: the
    fraction of matching components (the standard unbiased estimator —
    P[min-hash collision] = J).  NULL components (NULL/empty text) never
    match, so degenerate signatures estimate 0, not 1.

    Unrolled element_at comparisons, NOT zip_with+aggregate: higher-order
    array lambdas are CodegenFallback (interpreted, per-element boxing)
    and this expression runs once per CANDIDATE PAIR — the hottest row
    count in the incremental near-dup join.  16 codegen'd comparisons
    stay far under the JIT method ceiling (SCALE.md hazard 7).  The
    unroll grows linearly with ``num_perm`` at plan-build time, so the
    bound is ENFORCED: past ~64 terms the generated method risks
    Janino's 64KB limit and a silent interpreted fallback — exactly the
    regression the unroll exists to avoid (ADVICE r10).  Signatures that
    long are the wrong tool anyway (LSH band granularity, not estimator
    precision, is what more perms buy)."""
    if num_perm > 64:
        raise ValueError(
            f"estimated_jaccard unrolls {num_perm} codegen'd comparisons; "
            "past 64 the generated method can exceed Janino's 64KB limit "
            "and silently fall back to interpreted evaluation — use "
            "num_perm <= 64 (or a zip_with formulation if you truly need "
            "longer signatures and accept the interpreted cost)"
        )
    if isinstance(sig_a, str) and isinstance(sig_b, str):
        # column-NAME fast path (r13): the unrolled CASE chain as one
        # parsed SQL string — one py4j round trip instead of ~7 per term
        # of pure driver time.  Same left-nested adds, same CASE WHEN
        # nodes, same int/int Divide → double as the Column form below.
        terms = " + ".join(
            f"(CASE WHEN element_at(`{sig_a}`, {i + 1}) = "
            f"element_at(`{sig_b}`, {i + 1}) THEN 1 ELSE 0 END)"
            for i in range(num_perm)
        )
        return F.expr(f"(0 + {terms}) / {num_perm}")
    matches = F.lit(0)
    for i in range(num_perm):
        matches = matches + F.when(
            F.element_at(sig_a, i + 1) == F.element_at(sig_b, i + 1), 1
        ).otherwise(0)
    return matches / F.lit(num_perm)


def lsh_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    k: int = 5,
    mode: str = "char",
) -> DataFrame:
    """Per-document LSH fingerprint rows — the state an incremental near-dup
    pipeline carries between runs: ``(id, content_hash, band, key, sig)``,
    ``bands`` rows per document.

    One explode+agg pass computes signature AND exact content hash (shared
    scan); the band explosion is post-aggregate, so the md5-per-shingle work
    is never duplicated.  The signature array is denormalized onto every
    band row (num_perm longs × bands per doc) so candidate verification is
    ONE equi-join on (band, key) with no second lookup join — at 16 perms /
    4 bands that is ~600 bytes per document, ~0.1% of a multi-KB web page,
    the same store-to-corpus ratio as the exact-hash store.
    """
    sig = minhash_signatures_exploded(
        df, id_col, text_col, "__sig", num_perm, k, mode,
        content_hash_col="content_hash",
    )
    banded = sig.selectExpr(
        f"`{id_col}`",
        "content_hash",
        "__sig",
        f"explode({minhash_bands_sql('__sig', num_perm, bands)}) AS __b",
    )
    return banded.selectExpr(
        f"`{id_col}`",
        "content_hash",
        "__b.band AS band",
        "__b.key AS key",
        "__sig AS sig",
    )


def incremental_lsh_dedupe(
    new_batch: DataFrame,
    fingerprint_store: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    num_perm: int = 16,
    bands: int = 4,
    k: int = 5,
    mode: str = "char",
    threshold: float = 0.5,
    batch_fingerprints: DataFrame | None = None,
    hot_bucket_cap: int | None = None,
    persist_fp: bool | None = None,
) -> IncrementalLshResult:
    """Batch-over-batch NEAR-dup dedup against a persisted LSH fingerprint
    store (:func:`lsh_fingerprints` rows from every prior run; None on the
    first).  A new document is dropped when it

      * exactly matches a stored content hash (semi-join on the 8-byte
        hash — catches NULL/degenerate text the signature path can't), or
      * shares ≥1 LSH band bucket with a stored document AND the
        signature-estimated Jaccard (:func:`estimated_jaccard`) is ≥
        ``threshold`` — the verification step that kills band-collision
        false positives without storing (or re-reading) any historical
        text.

    Within the batch itself, exact dups collapse to the min-id
    representative first (same rule as :func:`exact_dedupe`); within-batch
    NEAR-dups are out of scope by design — run
    :func:`lsh_candidate_pairs_from_buckets` over :func:`lsh_fingerprints`
    at rest for that (an incremental refresh batch is small next to the
    corpus, so the at-rest pass over it is cheap).

    Returns :class:`IncrementalLshResult` ``(fresh, store, pinned)``:
    ``fresh`` = surviving new documents (full payload), ``store`` = input
    store ∪ fingerprints of the survivors (carry to the next run; write it
    with ``sinks.write_bucketed_store`` so the next run's joins are
    co-located), ``pinned`` = the persisted fingerprint frame to unpersist
    after both are materialized.

    Scale shape: the batch text is scanned ONCE (signature + content hash
    in one explode+agg); the store is never scanned more than once per leg;
    all joins key on band buckets or 8-byte hashes, never text.  With the
    store bucketed by its join key, the per-batch cost is O(|batch|) work
    plus co-located joins against ~0.1% of corpus mass.

    Determinism contract (two-action audit): ``fresh`` recomputes the
    batch scan while ``store`` reads the pinned fingerprints, so
    ``new_batch`` must be deterministic under re-execution (a file scan,
    or persisted by the caller) and ``id_col`` must be unique per row —
    a nondeterministic source (e.g. a fresh uuid column) or duplicate
    ids with differing payloads could emit fresh rows whose fingerprints
    disagree with the store.  Every lineage INSIDE the operator is
    deterministic (portable md5 hashes, min_by on the unique id).

    ``batch_fingerprints``: optional precomputed :func:`lsh_fingerprints`
    rows for ``new_batch`` (single-scan reuse when the same batch also
    feeds at-rest pair mining).  The hash parameters MUST match the ones
    passed here; the operator then derives the within-batch survivors
    from the fingerprints' content hashes instead of rescanning the text.

    ``hot_bucket_cap``: ENFORCED guard for the web-scale failure mode the
    candidate join otherwise has no answer to — a boilerplate band key
    (template chrome dominating the shingle set) whose store bucket holds
    millions of rows turns the (band, key) join into bucket×batch
    fan-out.  When set, each store bucket contributes at most ``cap``
    DETERMINISTIC representatives (lowest content_hash, then id) to the
    join, bounding candidate multiplicity at bands × cap per batch doc.
    Recall caveat, stated honestly: a true near-dup hiding in a hot
    bucket is still caught when it matches one of the representatives or
    shares ANY other band bucket (near-dups agree on most bands by
    construction); a miss requires disagreeing on every other band AND
    differing from all ``cap`` representatives — at that point the
    "bucket" is boilerplate collision, not similarity.  Default ``None``
    preserves exact semantics (the oracle-gated q34 path).
    """
    if batch_fingerprints is None:
        # 1. within-batch exact dedup, min-id representative (NULL text → -1
        # sentinel so NULL join keys can't leak through the anti-joins below)
        hashed = new_batch.withColumn(
            "__ch", F.coalesce(content_hash(F.col(text_col)), F.lit(-1))
        )
        row_struct = F.struct(*[F.col(c) for c in hashed.columns])
        survivors = (
            hashed.groupBy("__ch")
            .agg(F.min_by(row_struct, F.col(id_col)).alias("__row"))
            .select("__row.*")
            .drop("__ch")
        )
        # 2. fingerprints of the in-batch survivors — persisted: consumed by
        # the exact leg, the near leg, and the store update (the
        # md5-per-shingle signature pass must run once, not three times)
        fp = lsh_fingerprints(
            survivors, text_col, id_col, num_perm, bands, k, mode
        ).persist()
    else:
        # reuse path: min id per content hash picks the same representatives
        # as min_by over full rows (ids are unique by contract)
        # no distinct first: min over the (id, hash) multiset — one row per
        # (doc, band) — equals min over the set, and the groupBy's map-side
        # combine collapses the duplicates without the extra full shuffle
        surv_ids = (
            batch_fingerprints.select(id_col, "content_hash")
            .groupBy("content_hash")
            .agg(F.min(F.col(id_col)).alias(id_col))
            .select(id_col)
        )
        survivors = new_batch.join(surv_ids, on=id_col, how="left_semi")
        # Persist discipline, storage-level-gated: when the caller already
        # persisted batch_fingerprints (the single-scan contract — q34
        # does), a second cache materialization of the semi-joined slice
        # cost ~15% of q34's incremental leg for nothing, so we skip it
        # and pinned's unpersist degrades to a no-op.  An UNPERSISTED
        # input would instead re-run the md5-per-shingle pass for every
        # downstream consumer (candidate join, delta, cap-mode exact
        # leg), so that case keeps the operator-side persist.
        fp = batch_fingerprints.join(surv_ids, on=id_col, how="left_semi")
        from pyspark import StorageLevel

        # persist_fp=None auto-detects: a frame with no DIRECT persist is
        # treated as uncached.  A caller feeding a cheap DERIVATIVE of a
        # persisted frame (q34 passes a filter of its cached
        # fingerprints) should pass persist_fp=False explicitly — the
        # storageLevel probe cannot see upstream caches.
        if (
            persist_fp
            if persist_fp is not None
            else batch_fingerprints.storageLevel == StorageLevel.NONE
        ):
            fp = fp.persist()
    if fingerprint_store is None:
        return IncrementalLshResult(
            fresh=survivors, store=fp, pinned=fp, delta=fp
        )
    # 3. exact AND near cross-batch dups in ONE band-bucket join.  Identical
    # text produces identical signatures and therefore identical band keys
    # (including the degenerate all-NULL-signature case, whose keys are all
    # ''), so every exact dup is a bucket-mate of its stored copy and a
    # separate hash semi-join would be a redundant shuffle.  The verify
    # predicate needs BOTH terms: estimated Jaccard for near dups, content
    # hash equality for degenerate text (NULL signature components never
    # compare equal, so two NULL-text docs estimate 0.0).  The shuffle key
    # is (band, key) — bounded buckets, never text.
    store_side = fingerprint_store.select(
        "band",
        "key",
        F.col("content_hash").alias("__sch"),
        F.col("sig").alias("__ssig"),
        F.col(id_col).alias("__sid"),
    )
    if hot_bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "key").orderBy(
            F.col("__sch").asc(), F.col("__sid").asc()
        )
        store_side = (
            store_side.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= hot_bucket_cap)
            .drop("__rk")
        )
    cand = fp.select(
        id_col, "content_hash", "band", "key", F.col("sig").alias("__nsig")
    ).join(store_side.drop("__sid"), on=["band", "key"])
    # duplicate candidate ids (several bands / several store mates) are fine
    # on the right of a left_anti — no distinct, one less shuffle; candidate
    # multiplicity is bounded by bands × bucket occupancy (or bands × cap).
    dropped = cand.filter(
        (
            estimated_jaccard("__nsig", "__ssig", num_perm)
            >= F.lit(threshold)
        )
        | (F.col("content_hash") == F.col("__sch"))
    ).select(id_col)
    if hot_bucket_cap is not None:
        # the representatives may not include an exact twin's row, so cap
        # mode restores EXACT re-crawl catching with a separate 8-byte-hash
        # semi-join (store hashes are unique per retained doc — no fan-out)
        exact_hit = fp.select(id_col, "content_hash").join(
            fingerprint_store.select("content_hash").distinct(),
            on="content_hash",
            how="left_semi",
        ).select(id_col)
        dropped = dropped.unionByName(exact_hit)
    if batch_fingerprints is None:
        fresh = survivors.join(dropped, on=id_col, how="left_anti")
    else:
        # the fresh id set is fully determined by fingerprint-derived
        # frames (surv_ids ∖ dropped), so the new_batch lineage — often a
        # rebalanced corpus scan — feeds ONE semi-join instead of a
        # semi-then-anti chain
        fresh_ids = surv_ids.join(dropped, on=id_col, how="left_anti")
        fresh = new_batch.join(fresh_ids, on=id_col, how="left_semi")
    delta = fp.join(dropped, on=id_col, how="left_anti")
    new_store = fingerprint_store.unionByName(delta)
    return IncrementalLshResult(
        fresh=fresh, store=new_store, pinned=fp, delta=delta
    )


# ---------------------------------------------------------------------------
# Incremental SimHash near-dup dedup — the hamming-distance counterpart of
# incremental_lsh_dedupe.  Where MinHash-LSH approximates Jaccard similarity
# of shingle sets, SimHash packs the whole document into ONE fixed-width
# fingerprint, and "near duplicate" means hamming distance <= d.  The
# candidate machinery is the block-combination pigeonhole scheme of Manku,
# Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling" (WWW 2007):
# split the fingerprint into n_blocks bit blocks; if two fingerprints differ
# in <= d bits, the differing bits fall in <= d blocks, so SOME
# (n_blocks - d)-subset of blocks matches exactly.  Keying a lookup table on
# every such subset turns "hamming <= d" into C(n_blocks, d) exact equi-joins
# on ~(1 - d/n_blocks) * nbits-bit keys — wide enough keys that buckets stay
# small at web scale (64-bit fingerprints, d=3, 6 blocks -> 20 tables keyed
# on ~32 bits), and never a cartesian product.
# ---------------------------------------------------------------------------


def _simhash_blocks(nbits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) per block, widths as equal as integer split allows."""
    base, rem = divmod(nbits, n_blocks)
    out, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


def _simhash_bits_sql(h: str, nbits: int) -> str:
    """SQL-string twin of :func:`_simhash_bits` over a column NAME — the
    identical majority-vote tree parsed in one py4j round trip (r13; the
    Column form cost ~0.9s of driver time per call at nbits=32).  Operand
    orders mirror the Column builder exactly (``ones * 2`` — Python's
    ``2 * col`` dispatches through ``__rmul__`` which emits
    ``Multiply(col, 2)``) so the optimized plans are identical."""
    terms = ["CAST(0 AS BIGINT)"]
    for j in range(nbits):
        ones = f"size(filter({h}, h -> (shiftright(h, {j}) & 1) = 1))"
        terms.append(
            f"CAST(CASE WHEN ({ones} * 2) > size({h}) "
            f"THEN {1 << j} ELSE 0 END AS BIGINT)"
        )
    return "(" + " + ".join(terms) + ")"


def simhash_combo_keys_sql(
    sim: str, nbits: int, max_hamming: int, n_blocks: int
) -> str:
    """SQL-string twin of :func:`simhash_combo_keys` over a column NAME
    (same tree, one parse — r13 driver-time shave)."""
    from itertools import combinations

    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    blocks = _simhash_blocks(nbits, n_blocks)
    keep = n_blocks - max_hamming
    entries = []
    for ci, combo in enumerate(combinations(range(n_blocks), keep)):
        key = "CAST(0 AS BIGINT)"
        shift = 0
        for b in combo:
            off, w = blocks[b]
            block_val = f"(shiftright({sim}, {off}) & {(1 << w) - 1})"
            key = f"({key} + shiftleft(CAST({block_val} AS BIGINT), {shift}))"
            shift += w
        entries.append(
            f"struct(CAST({ci} AS INT) AS combo, {key} AS key)"
        )
    return f"array({', '.join(entries)})"


def simhash_combo_keys(
    sim: Column, nbits: int, max_hamming: int, n_blocks: int
) -> Column:
    """Array of (combo, key) structs — one per (n_blocks - max_hamming)-block
    combination — for pigeonhole candidate generation over a simhash column.

    ``key`` packs the selected blocks' bits (in block order) into one long;
    ``combo`` identifies which subset was selected, so keys from different
    subsets never collide in the equi-join.  Pure integer shift/mask
    arithmetic, identical in the DuckDB oracle.
    """
    from itertools import combinations

    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    blocks = _simhash_blocks(nbits, n_blocks)
    keep = n_blocks - max_hamming
    entries = []
    for ci, combo in enumerate(combinations(range(n_blocks), keep)):
        key = F.lit(0).cast("long")
        shift = 0
        for b in combo:
            off, w = blocks[b]
            block_val = F.shiftright(sim, off).bitwiseAND(F.lit((1 << w) - 1))
            key = key + F.shiftleft(block_val.cast("long"), shift)
            shift += w
        entries.append(
            F.struct(
                F.lit(ci).cast("int").alias("combo"), key.alias("key")
            )
        )
    return F.array(*entries)


class IncrementalSimhashResult(NamedTuple):
    """Result of :func:`incremental_simhash_dedupe` — same contract as
    :class:`IncrementalLshResult`: ``pinned`` is the persisted fingerprint
    frame both outputs derive from; unpersist it after materializing;
    ``delta`` is the batch's store contribution to APPEND on disk."""

    fresh: DataFrame
    store: DataFrame
    pinned: DataFrame
    delta: DataFrame


def simhash_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    nbits: int = 32,
) -> DataFrame:
    """Per-document SimHash fingerprint rows ``(id, content_hash, simhash)``
    — ONE row per document (vs ``bands`` rows for the MinHash store): the
    combo keys are rederived from the fingerprint by shift/mask at join
    time, so the persisted state is 16 bytes of hashes per document.

    Two-stage: the token-hash array materializes once, then the nbits
    majority-vote legs read the materialized column — never nbits copies
    of the tokenize+hash pipeline.
    """
    # SQL-string construction (r13): one parsed select per stage instead
    # of ~1000 py4j round trips for the nbits majority-vote legs — the
    # tree is identical (see _simhash_bits_sql) and q35's whole plan is
    # asserted equal to the Column build in the round's plan diff.
    t = _NORM_SQL.format(c=f"`{text_col}`")
    staged = df.selectExpr(
        f"`{id_col}`",
        f"coalesce({_PH_SQL.format(c=t)}, -1) AS content_hash",
        f"transform(array_distinct(split({t}, ' ')), "
        f"t -> {_PH_SQL.format(c='t')}) AS __th",
    )
    return staged.selectExpr(
        f"`{id_col}`",
        "content_hash",
        f"coalesce({_simhash_bits_sql('__th', nbits)}, 0) AS simhash",
    )


def _simhash_batch_survivors(
    new_batch: DataFrame,
    text_col: str,
    id_col: str,
    nbits: int,
    batch_fingerprints: DataFrame | None,
):
    """Shared within-batch preamble of the classic AND key-index simhash
    operators — ONE implementation so the equivalence the indexed twin
    promises can never drift: exact dups collapse to the min-id
    representative, and the retained docs' fingerprints are persisted.
    Returns ``(survivors, fp)`` with ``fp`` pinned (caller contract:
    ``pinned.unpersist()`` after materialization)."""
    if batch_fingerprints is None:
        hashed = new_batch.withColumn(
            "__ch", F.coalesce(content_hash(F.col(text_col)), F.lit(-1))
        )
        row_struct = F.struct(*[F.col(c) for c in hashed.columns])
        survivors = (
            hashed.groupBy("__ch")
            .agg(F.min_by(row_struct, F.col(id_col)).alias("__row"))
            .select("__row.*")
            .drop("__ch")
        )
        fp = simhash_fingerprints(survivors, text_col, id_col, nbits).persist()
    else:
        surv_ids = (
            batch_fingerprints.groupBy("content_hash")
            .agg(F.min(F.col(id_col)).alias(id_col))
            .select(id_col)
        )
        survivors = new_batch.join(surv_ids, on=id_col, how="left_semi")
        fp = batch_fingerprints.join(
            surv_ids, on=id_col, how="left_semi"
        ).persist()
    return survivors, fp


def incremental_simhash_dedupe(
    new_batch: DataFrame,
    fingerprint_store: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    nbits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 6,
    batch_fingerprints: DataFrame | None = None,
) -> IncrementalSimhashResult:
    """Batch-over-batch near-dup dedup against a persisted SimHash store
    (:func:`simhash_fingerprints` rows; None on the first run).  A new
    document is dropped when a stored fingerprint lies within hamming
    distance ``max_hamming`` of its own ``nbits``-bit SimHash — candidates
    generated by the Manku-Jain-Das-Sarma block-combination tables (module
    comment above), then verified with ``bit_count(xor)``.  Exact copies
    need no separate hash leg: identical text fingerprints identically, so
    they are combo-key mates at hamming 0.  (The ``content_hash`` column in
    the store exists for interop with the exact-dedup store format and for
    audit joins, not for the drop rule.)

    Net semantics (what the oracle replays): dropped iff exact-hash match
    OR min hamming to the store <= max_hamming — the pigeonhole guarantees
    the candidate step loses nothing, and verification kills every
    block-collision false positive.

    Within-batch exact dups collapse to the min-id representative first
    (same rule as the other incremental operators); within-batch NEAR dups
    are left to an at-rest pass over the (small) batch.

    Scale shape: the batch text is scanned once; both sides explode into
    C(n_blocks, max_hamming) rows keyed on (combo, packed-block-bits) —
    with 64-bit fingerprints / d=3 / 6 blocks that is 20 rows per doc
    joined on ~32-bit keys, so bucket occupancy stays ~|corpus| / 2^32 per
    table and the verify step touches only bucket-mates.  The store is one
    16-byte row per document; write it with ``sinks.write_bucketed_store``
    (bucketed by ``content_hash``) so the exact leg is co-located.

    Returns ``(fresh, store, pinned)`` as :class:`IncrementalSimhashResult`.

    ``batch_fingerprints``: optional precomputed :func:`simhash_fingerprints`
    rows for ``new_batch`` (single-scan reuse; same contract as
    ``incremental_lsh_dedupe``'s parameter — ``nbits`` must match).
    """
    survivors, fp = _simhash_batch_survivors(
        new_batch, text_col, id_col, nbits, batch_fingerprints
    )
    if fingerprint_store is None:
        return IncrementalSimhashResult(
            fresh=survivors, store=fp, pinned=fp, delta=fp
        )
    # Pigeonhole candidate tables: explode both sides on (combo, key).  NO
    # separate exact-hash leg: identical text gives identical fingerprints,
    # so an exact dup is a combo-key mate at hamming 0 — strictly inside
    # the hamming <= max_hamming rule (including degenerate text, which
    # fingerprints to simhash 0 on both sides).
    combo_sql = simhash_combo_keys_sql("simhash", nbits, max_hamming, n_blocks)
    batch_keys = fp.selectExpr(
        f"`{id_col}`",
        "simhash AS __nsim",
        f"explode({combo_sql}) AS __k",
    ).select(id_col, "__nsim", "__k.combo", "__k.key")
    store_keys = fingerprint_store.selectExpr(
        "simhash AS __ssim",
        f"explode({combo_sql}) AS __k",
    ).select("__ssim", "__k.combo", "__k.key")
    # duplicate ids on the anti-join's right are harmless — no distinct
    dropped = (
        batch_keys.join(store_keys, on=["combo", "key"])
        .filter(
            hamming_distance(F.col("__nsim"), F.col("__ssim"))
            <= F.lit(max_hamming)
        )
        .select(id_col)
    )
    fresh = survivors.join(dropped, on=id_col, how="left_anti")
    delta = fp.join(dropped, on=id_col, how="left_anti")
    new_store = fingerprint_store.unionByName(delta)
    return IncrementalSimhashResult(
        fresh=fresh, store=new_store, pinned=fp, delta=delta
    )


def simhash_key_index(
    fp: DataFrame, id_col: str, nbits: int, max_hamming: int, n_blocks: int
) -> DataFrame:
    """Explode :func:`simhash_fingerprints` rows into the persisted
    KEY-INDEX form ``(combo int, key long, simhash long, id)`` — one row
    per (doc, block-combination), C(n_blocks, n_blocks - max_hamming)
    rows per document.  The one-shot builder for migrating a classic
    fingerprint store into :func:`incremental_simhash_dedupe_indexed`'s
    layout (write it with ``sinks.write_bucketed_store(...,
    ["combo", "key"], n)``)."""
    return fp.selectExpr(
        f"`{id_col}`",
        "simhash",
        f"explode({simhash_combo_keys_sql('simhash', nbits, max_hamming, n_blocks)})"
        " AS __k",
    ).select("__k.combo", "__k.key", "simhash", id_col)


def incremental_simhash_dedupe_indexed(
    new_batch: DataFrame,
    key_store: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    nbits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 6,
    batch_fingerprints: DataFrame | None = None,
) -> IncrementalSimhashResult:
    """:func:`incremental_simhash_dedupe` against a PRE-EXPLODED key-index
    store — the hamming modality joining the bucketed-store lifecycle the
    canon segment index uses.

    The classic operator re-derives the store side's block-combination
    keys from the 16-byte fingerprints EVERY batch: O(store ×
    C(n_blocks, d)) rows generated per probe — at 10⁹ stored docs and
    the default 6-choose-3 split that is 2·10¹⁰ exploded rows of pure
    re-computation per micro-batch, dwarfing the join itself.  Here the
    explosion is paid ONCE, at store-advance time: the persisted state is
    ``(combo, key, simhash, id)`` — C(n_blocks, n_blocks - d) rows per
    document (20× the classic store's row count, still ~0.3% of a
    multi-KB corpus) — and the per-batch probe is a direct equi-join on
    STORED columns, so the store carried as a bucketed table on
    ``(combo, key)`` is read in place with zero store-side Exchange
    (plan-asserted in tests/test_plan_shapes.py).

    Drop rule, within-batch collapse, and return contract are IDENTICAL
    to the classic operator (equivalence-tested batch-for-batch):
    dropped iff min hamming to the store <= max_hamming, exact dups
    being hamming-0 combo mates.  ``delta`` is the batch's exploded
    index rows — append it to advance (O(batch · combos) I/O);
    (nbits, max_hamming, n_blocks) are store identity: probing a store
    built under a different split silently MISSES near-dups.
    """
    survivors, fp = _simhash_batch_survivors(
        new_batch, text_col, id_col, nbits, batch_fingerprints
    )
    if key_store is None:
        delta = simhash_key_index(fp, id_col, nbits, max_hamming, n_blocks)
        return IncrementalSimhashResult(
            fresh=survivors, store=delta, pinned=fp, delta=delta
        )
    batch_keys = fp.selectExpr(
        f"`{id_col}`",
        "simhash AS __nsim",
        f"explode({simhash_combo_keys_sql('simhash', nbits, max_hamming, n_blocks)})"
        " AS __k",
    ).select(id_col, "__nsim", "__k.combo", "__k.key")
    # the probe joins STORED columns — no per-batch store-side explode,
    # and a (combo, key)-bucketed table is read in place
    store_side = key_store.select(
        "combo", "key", F.col("simhash").alias("__ssim")
    )
    dropped = (
        batch_keys.join(store_side, on=["combo", "key"])
        .filter(
            hamming_distance(F.col("__nsim"), F.col("__ssim"))
            <= F.lit(max_hamming)
        )
        .select(id_col)
    )
    fresh = survivors.join(dropped, on=id_col, how="left_anti")
    # the batch's exploded rows already exist in batch_keys — derive the
    # delta from them instead of paying a second Generate over fp
    delta = batch_keys.join(dropped, on=id_col, how="left_anti").select(
        "combo", "key", F.col("__nsim").alias("simhash"), id_col
    )
    new_store = key_store.select(
        "combo", "key", "simhash", id_col
    ).unionByName(delta)
    return IncrementalSimhashResult(
        fresh=fresh, store=new_store, pinned=fp, delta=delta
    )
