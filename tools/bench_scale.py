"""Scale-stress bench: the headline queries at ~10× the largest test SF.

The sandbox ships sf0.1 as its largest dataset; this tool synthesizes a
10×-replicated copy (key-shifted so join cardinalities scale LINEARLY, not
quadratically) and times every ``bench=True`` catalog query at both scales,
reporting the per-query scaling factor.  A factor ≲ 10 means the plan
scales with the data (shuffle/partitioning holds up); ≫ 10 flags a
super-linear stage (pair blowup, skew collapse, broadcast miss) the sf0.1
numbers can't surface.

Replication design — each replica r ∈ [0, N):
  * every entity key (orderkey/custkey/suppkey/partkey/doc_id/vec_id/
    event_id/user_id) shifts by ``r * 10**9`` so cross-replica joins never
    match and fan-out stays linear;
  * nation/region are spec-bounded dims and are NOT replicated;
  * document text gets every token suffixed ``_r`` — within-replica
    near-dup structure is preserved exactly (both pair members transform
    identically) while cross-replica shingle overlap vanishes, so
    MinHash/LSH candidate pairs scale ×N, not ×N²;
  * embeddings rotate by ``6r`` positions — rotation preserves norms and
    within-replica cosines EXACTLY (dot(Rv, Rw) = dot(v, w)) while
    decorrelating cross-replica vectors, so q37/q38/q39 workloads scale
    linearly too.

Usage:  python tools/bench_scale.py [replicas] [base_sf_dir]
Writes one JSON line to stdout and BENCH_SCALE.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

KEY_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
COPY_ONLY = ["nation", "region"]
OFFSET = 10**9
FUZZY_PREFIX_ALPHABET = "0123456789abcdefghijklmnopqrstuvwxyz"


def build_scaled(spark, base: str, out: str, replicas: int) -> None:
    from evidence_datasource_parsers_spark.plans.catalog import load

    os.makedirs(out, exist_ok=True)
    for table in COPY_ONLY:
        shutil.copy(f"{base}/{table}.parquet", f"{out}/{table}.parquet")
    for table, keys in KEY_COLS.items():
        src = load(spark, base, table)
        parts = []
        for r in range(replicas):
            rep = src
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(r * OFFSET))
            if table == "documents":
                rep = rep.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", rf"$1_{r}"),
                )
            if table == "embeddings" and r:
                shift = (6 * r) % 64
                rep = rep.withColumn(
                    "embedding",
                    F.concat(
                        F.slice(F.col("embedding"), shift + 1, 64 - shift),
                        F.slice(F.col("embedding"), 1, shift),
                    ),
                )
            parts.append(rep)
        scaled = parts[0]
        for p in parts[1:]:
            scaled = scaled.unionByName(p)
        # one file per table keeps the dir layout identical to testdata;
        # the queries' own rebalance/AQE handles re-fanning the scan out
        scaled.coalesce(4).write.mode("overwrite").parquet(
            f"{out}/{table}.parquet"
        )



#: bench.py's sampling discipline, ported here (VERDICT r12 item 1): the
#: one-timed-sample rows this harness used to record produced a phantom —
#: the embedding store's 20× advance factor jumped 1.05→6.25 between
#: rounds on untouched code, indistinguishable from a real regression
#: without samples/medians in the artifact itself.
SAMPLES = 3


def record_samples(row: dict, key: str, runs: list[float]) -> None:
    """Median + raw samples + relative spread for one measurement —
    the same three fields bench.py records, so a cross-round factor
    change can be adjudicated from the artifact alone."""
    from statistics import median

    row[key] = round(median(runs), 3)
    row[f"{key}_samples"] = [round(r, 3) for r in runs]
    row[f"{key}_spread"] = round((max(runs) - min(runs)) / min(runs), 3)


def probe_median(spark, run, row: dict, label: str) -> None:
    """Discarded warm-up + median-of-N for a store PROBE (repeatable:
    probes never mutate).  clearCache before each sample keeps the SQL
    cache from turning later samples into cache reads."""
    run()  # discarded warm-up (codegen, shuffle-service, JIT)
    runs = []
    for _ in range(SAMPLES):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run()
        runs.append(time.perf_counter() - t0)
    record_samples(row, label, runs)


def advance_median(do_append, row: dict, label: str) -> None:
    """Discarded warm-up + median-of-N for a store ADVANCE.  Appends
    mutate the store, but every append costs O(batch) write + O(files)
    metadata regardless of what the rows contain, so re-appending the
    SAME materialized delta is a faithful re-sample of the advance cost
    — the store dir is discarded after the case, so content duplication
    is irrelevant."""
    do_append()  # discarded warm-up
    runs = []
    for _ in range(SAMPLES):
        t0 = time.perf_counter()
        do_append()
        runs.append(time.perf_counter() - t0)
    record_samples(row, f"advance_{label}", runs)


def free_case_state(spark) -> None:
    """Drop every persisted RDD block between cases.  Each case
    localCheckpoints its own stores/batches and nothing crosses case
    boundaries, so after a case returns the blocks are garbage — left
    alone they accumulate executor memory across the ~11 cases and push
    the LATER cases into spill (observed in the first median-based run:
    monotone 4s → 39s → 46s probe samples in a case that runs a stable
    3s in isolation).  Must run ONLY at case boundaries: unpersisting a
    localCheckpointed frame a case still holds severs its lineage."""
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        # BLOCKING: non-blocking removal races the next case's samples —
        # the background block drops perturb exactly the measurements
        # the cleanup exists to protect
        jrdd.unpersist(True)
    # settle the JVM between measured regions: a heap full of dead
    # case state otherwise pays its GC inside someone else's sample
    spark.sparkContext._jvm.System.gc()


def time_delta_advance(delta, seed_store, label, row, prefix):
    """Time a store ADVANCE under the append-only discipline: seed a dir
    with the carried store (untimed), MATERIALIZE the delta (untimed —
    its lineage re-runs the store probe, which the base/scaled numbers
    already measure; the advance claim is about the append I/O, and the
    real sinks checkpoint fresh/delta before appending anyway), then
    time appending it — warm-up + median-of-N via
    :func:`advance_median`.  The cost must track the batch, not the
    store, so advance_factor ≈ 1.0 is the pass condition."""
    adir = tempfile.mkdtemp(prefix=f"{prefix}_adv_{label}_")
    try:
        store_dir = os.path.join(adir, "store")
        seed_store.write.mode("overwrite").parquet(store_dir)
        delta_mat = delta.localCheckpoint(eager=True)
        advance_median(
            lambda: delta_mat.write.mode("append").parquet(store_dir),
            row, label,
        )
    except Exception as exc:  # noqa: BLE001
        print(f"{prefix}_advance@{label} failed: {exc}", file=sys.stderr)
        row[f"advance_{label}"] = -1.0
    finally:
        shutil.rmtree(adir, ignore_errors=True)


def add_advance_factor(row):
    if row.get("advance_base", -1) > 0 and row.get("advance_scaled", -1) > 0:
        row["advance_factor"] = round(
            row["advance_scaled"] / row["advance_base"], 2
        )


def incremental_refresh_case(spark, base: str, out_dir: str, materialize):
    """The incremental-triad scale question the headline queries can't ask:
    a FIXED-SIZE refresh batch (the base corpus's odd doc_ids) deduped
    against a bucketed on-disk LSH fingerprint store at base size vs 10×
    size.  Store BUILD time is excluded — the store is the state carried
    between runs; what must stay flat as the corpus grows is the per-batch
    cost (store-side scan stays in place — plan-proven in
    tests/test_plan_shapes.py — so the factor should track the store scan,
    far below the replica count)."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe,
        lsh_fingerprints,
    )
    from evidence_datasource_parsers_spark.plans.catalog import load
    from evidence_datasource_parsers_spark.sources.sinks import (
        append_bucketed_store,
        read_bucketed_store,
        write_bucketed_store,
    )

    batch = (
        load(spark, base, "documents")
        .filter(F.col("doc_id") % 2 == 1)
    )
    row: dict = {}
    for label, sf_dir in (("base", base), ("scaled", out_dir)):
        table = f"bench_incr_store_{label}"
        store_path = os.path.join(
            os.environ.get("SPARK_GRAFT_SCALE_DIR",
                           "/tmp/spark_graft_scale_store"),
            f"lsh_store_{label}",
        )
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            write_bucketed_store(
                lsh_fingerprints(
                    load(spark, sf_dir, "documents").filter(
                        F.col("doc_id") % 2 == 0
                    ),
                    "text", "doc_id", mode="word",
                ),
                store_path, table, ["band", "key"], 32,
            )
            def one_probe():
                res = incremental_lsh_dedupe(
                    batch, read_bucketed_store(spark, table),
                    "text", "doc_id", mode="word",
                )
                materialize(res.fresh)
                res.pinned.unpersist()

            probe_median(spark, one_probe, row, label)
            # ADVANCE: append the batch's delta into the bucketed store —
            # O(batch) by design; median-of-N re-appends of the same
            # materialized delta (see advance_median)
            res = incremental_lsh_dedupe(
                batch, read_bucketed_store(spark, table),
                "text", "doc_id", mode="word",
            )
            delta_mat = res.delta.localCheckpoint(eager=True)
            advance_median(
                lambda: append_bucketed_store(
                    delta_mat, table, ["band", "key"], 32
                ),
                row, label,
            )
            res.pinned.unpersist()
        except Exception as exc:  # noqa: BLE001
            print(f"incremental@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def incremental_simhash_index_case(spark, base, out_dir, materialize):
    """SimHash twin of the incremental-refresh case, measuring the
    round-12 KEY-INDEX store against the classic form it replaces: a
    FIXED batch (the base corpus's odd doc_ids) probed against a store
    of even doc_ids at base vs scaled size.

    * ``base/scaled`` — the INDEXED probe (pre-exploded (combo, key)
      rows carried as a bucketed table, read in place): must stay ~flat.
    * ``advance_*`` — appending the batch's exploded delta into the
      bucketed table: O(batch · combos), flat by construction.

    A classic-vs-indexed probe A/B was measured and REMOVED: at sf0.1
    both store forms sit under the broadcast threshold, so the
    difference is noise (one sample showed the classic probe 4× FASTER
    against a 10× larger store — impossible, pure measurement floor).
    The classic form's extra cost is structural — a per-batch
    O(store × combos) Generate over the store side — and is pinned
    scale-independently by the plan assertion in
    tests/test_plan_shapes.py::test_simhash_key_index_store_never_shuffles
    (zero store-side Exchange AND zero store-side Generate).
    """
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe_indexed,
        simhash_fingerprints,
        simhash_key_index,
    )
    from evidence_datasource_parsers_spark.plans.catalog import load
    from evidence_datasource_parsers_spark.sources.sinks import (
        append_bucketed_store,
        read_bucketed_store,
        write_bucketed_store,
    )

    batch = (
        load(spark, base, "documents")
        .filter(F.col("doc_id") % 2 == 1)
    )
    # The probe's md5-per-token fingerprint pass over the (fixed) batch
    # costs ~2-3s and is store-INDEPENDENT — timed inline it drowns the
    # store-coupled work this case exists to measure (observed: base
    # label reading SLOWER than scaled on identical code, pure noise).
    # Both operators take precomputed batch_fingerprints for exactly this
    # single-scan reuse, so the timed runs measure survivor collapse +
    # candidate join + anti-join — the part that touches the store.
    bfp = simhash_fingerprints(batch, "text", "doc_id").localCheckpoint(
        eager=True
    )
    # untimed warm-up of BOTH operators' plan shapes: unlike the LSH case
    # (warmed by q34 in the catalog loop), no bench query exercises the
    # simhash paths, and the base label is always measured first
    tiny = load(spark, "/root/testdata/sf0.001", "documents")
    wfp = simhash_fingerprints(
        tiny.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    warm = incremental_simhash_dedupe_indexed(
        tiny, simhash_key_index(wfp, "doc_id", 32, 3, 6),
        "text", "doc_id",
    )
    materialize(warm.fresh)
    warm.pinned.unpersist()
    row: dict = {}
    for label, sf_dir in (("base", base), ("scaled", out_dir)):
        table = f"bench_shidx_store_{label}"
        root = os.environ.get(
            "SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale_store"
        )
        idx_path = os.path.join(root, f"shidx_store_{label}")
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            store_fp = simhash_fingerprints(
                load(spark, sf_dir, "documents").filter(
                    F.col("doc_id") % 2 == 0
                ),
                "text", "doc_id",
            )
            write_bucketed_store(
                simhash_key_index(store_fp, "doc_id", 32, 3, 6),
                idx_path, table, ["combo", "key"], 32,
            )
            def one_probe():
                res = incremental_simhash_dedupe_indexed(
                    batch, read_bucketed_store(spark, table),
                    "text", "doc_id", batch_fingerprints=bfp,
                )
                materialize(res.fresh)
                res.pinned.unpersist()

            probe_median(spark, one_probe, row, label)
            # ADVANCE: append the exploded delta — O(batch · combos)
            res = incremental_simhash_dedupe_indexed(
                batch, read_bucketed_store(spark, table),
                "text", "doc_id", batch_fingerprints=bfp,
            )
            delta_mat = res.delta.localCheckpoint(eager=True)
            advance_median(
                lambda: append_bucketed_store(
                    delta_mat, table, ["combo", "key"], 32
                ),
                row, label,
            )
            res.pinned.unpersist()
        except Exception as exc:  # noqa: BLE001
            print(f"simhash_index@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def incremental_span_case(spark, base, out_dir, materialize):
    """Span-dedup twin of the incremental-refresh case: a FIXED batch of
    documents cleaned against the saturating gram-count store built from
    the even-doc_id half of the corpus at base vs 10× size.  What must stay
    ~flat is the batch-vs-store full-outer merge on gram_hash — the store
    side is bucketed on gram_hash so only (hash, count) pairs shuffle,
    never text; cost should track the BATCH's anchor inventory, not the
    store row count."""
    from evidence_datasource_parsers_spark.operators.span_dedup import (
        incremental_span_dedupe,
    )
    from evidence_datasource_parsers_spark.plans.catalog import load
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    batch = load(spark, base, "documents").filter(F.col("doc_id") % 2 == 1)
    row: dict = {}
    for label, sf_dir in (("base", base), ("scaled", out_dir)):
        table = f"bench_incr_span_store_{label}"
        store_path = os.path.join(
            os.environ.get(
                "SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale_store"
            ),
            f"span_store_{label}",
        )
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            seed = incremental_span_dedupe(
                load(spark, sf_dir, "documents").filter(
                    F.col("doc_id") % 2 == 0
                ),
                None,
            )
            write_bucketed_store(
                seed.store, store_path, table, ["gram_hash"], 32
            )
            seed.pinned.unpersist()
            def one_probe():
                res = incremental_span_dedupe(
                    batch, read_bucketed_store(spark, table)
                )
                materialize(res.cleaned)
                res.pinned.unpersist()

            probe_median(spark, one_probe, row, label)
            # ADVANCE: the gram store is append-only too (capped
            # per-batch counts; probes take the capped sum per gram)
            res = incremental_span_dedupe(
                batch, read_bucketed_store(spark, table)
            )
            time_delta_advance(
                res.delta, read_bucketed_store(spark, table),
                label, row, "span",
            )
            res.pinned.unpersist()
        except Exception as exc:  # noqa: BLE001
            print(f"span@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def incremental_phash_case(spark, materialize, replicas: int):
    """Media twin of the incremental-refresh case: a FIXED batch of image
    fingerprints deduped against a pHash store at base vs ``replicas``×
    size.  The store is synthesized directly — (media_id, phash) longs ARE
    the carried state; decode cost is per-image and scale-invariant, so
    what must stay flat as the image corpus grows is the combo-key
    candidate join against the store.  ~5% of the batch is seeded as
    2-bit-flipped near-dups of store hashes so the drop path executes."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_phash_dedupe,
    )

    base_n, batch_n = 20_000, 2_000
    mask63 = F.lit((1 << 63) - 1)

    def mk_store(n: int):
        return spark.range(n).select(
            F.col("id").alias("media_id"),
            F.xxhash64(F.col("id")).bitwiseAND(mask63).alias("phash"),
        )

    batch_fp = spark.range(batch_n).select(
        (F.col("id") + F.lit(10**9)).alias("media_id"),
        F.when(
            F.col("id") % 20 == 0,
            F.xxhash64((F.col("id") * 7) % F.lit(base_n))
            .bitwiseAND(mask63)
            .bitwiseXOR(F.lit(3)),
        )
        .otherwise(
            F.xxhash64(F.col("id") + F.lit(10**9)).bitwiseAND(mask63)
        )
        .alias("phash"),
    ).localCheckpoint(eager=True)
    batch = batch_fp.select(
        "media_id", F.lit(None).cast("binary").alias("blob")
    )
    row: dict = {}
    for label, n in (("base", base_n), ("scaled", base_n * replicas)):
        try:
            store = mk_store(n).localCheckpoint(eager=True)  # build untimed

            def one_probe():
                res = incremental_phash_dedupe(
                    batch, store, batch_phashes=batch_fp
                )
                materialize(res.fresh)
                res.pinned.unpersist()

            probe_median(spark, one_probe, row, label)
            res = incremental_phash_dedupe(
                batch, store, batch_phashes=batch_fp
            )
            time_delta_advance(res.delta, store, label, row, "phash")
            res.pinned.unpersist()
        except Exception as exc:  # noqa: BLE001
            print(f"phash@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def incremental_remux_case(spark, materialize, replicas: int):
    """Round-8 elementary-stream tier: a FIXED batch of clip stream
    hashes deduped against a (media_id, stream_hash) store at base vs
    ``replicas``× size.  The container walk + md5 are per-clip and
    scale-invariant, so the store is synthesized directly; what must
    stay flat as the clip corpus grows is the single exact equi-join
    (the fingerprint core at max_hamming=0: ONE combo key = the full
    hash).  ~5% of the batch is seeded as exact re-uploads of store
    hashes so the drop path executes."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_remux_dedupe,
    )

    base_n, batch_n = 20_000, 2_000

    def mk_store(n: int):
        return spark.range(n).select(
            F.col("id").alias("media_id"),
            F.xxhash64(F.col("id")).alias("stream_hash"),
        )

    batch_fp = spark.range(batch_n).select(
        (F.col("id") + F.lit(10**9)).alias("media_id"),
        F.when(
            F.col("id") % 20 == 0,
            F.xxhash64((F.col("id") * 7) % F.lit(base_n)),
        )
        .otherwise(F.xxhash64(F.col("id") + F.lit(10**9)))
        .alias("stream_hash"),
    ).localCheckpoint(eager=True)
    batch = batch_fp.select(
        "media_id", F.lit(None).cast("binary").alias("blob")
    )
    row: dict = {}
    for label, n in (("base", base_n), ("scaled", base_n * replicas)):
        try:
            store = mk_store(n).localCheckpoint(eager=True)  # build untimed

            def one_probe():
                res = incremental_remux_dedupe(
                    batch, store, batch_stream_hashes=batch_fp
                )
                materialize(res.fresh)
                res.pinned.unpersist()

            probe_median(spark, one_probe, row, label)
            res = incremental_remux_dedupe(
                batch, store, batch_stream_hashes=batch_fp
            )
            time_delta_advance(res.delta, store, label, row, "remux")
            res.pinned.unpersist()
        except Exception as exc:  # noqa: BLE001
            print(f"remux@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def counter_bloom_case(spark, materialize, replicas: int):
    """The Bloom membership store's three scale numbers: probing a RAW
    append history grows with history length (motivating the compaction
    cadence), probing the COMPACTED history is flat (word rows are
    m_bits-bounded per group regardless of corpus), and the advance is
    O(batch).  Mirrors the siblings: base = 1-batch history, scaled =
    ``replicas``-batch history over distinct urls."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        bloom_member,
        bloom_store,
        compact_bloom_store,
    )

    n = 200_000
    k, m_bits = 4, 1 << 20

    def mk_batch(b: int):
        return (
            spark.range(n)
            .select(
                F.lit("g").alias("g"),
                F.concat(
                    F.lit(f"http://host{b}.example/p"), F.col("id")
                ).alias("url"),
            )
        )

    def mk_history(batches: int):
        h = None
        for b in range(batches):
            piece = bloom_store(
                mk_batch(b), ["g"], "url", k=k, m_bits=m_bits
            )
            h = piece if h is None else h.unionByName(piece)
        return h.localCheckpoint(eager=True)

    items = (
        spark.range(2000)
        .select(
            F.lit("g").alias("g"),
            F.concat(F.lit("http://host0.example/p"), F.col("id")).alias(
                "url"
            ),
        )
        .localCheckpoint(eager=True)
    )
    row = {}
    for label, batches in (("base", 1), ("scaled", replicas)):
        history = mk_history(batches)
        probe_median(
            spark,
            lambda: materialize(
                bloom_member(history, items, ["g"], "url", k, m_bits)
            ),
            row, label,
        )
        if label == "scaled":
            compacted = compact_bloom_store(history, ["g"]).localCheckpoint(
                eager=True
            )
            probe_median(
                spark,
                lambda: materialize(
                    bloom_member(compacted, items, ["g"], "url", k, m_bits)
                ),
                row, "scaled_compacted",
            )
            time_delta_advance(
                bloom_store(mk_batch(99), ["g"], "url", k=k, m_bits=m_bits),
                history,
                label,
                row,
                "bloom",
            )
    # base advance: append the same batch beside a 1-batch store
    time_delta_advance(
        bloom_store(mk_batch(99), ["g"], "url", k=k, m_bits=m_bits),
        mk_history(1),
        "base",
        row,
        "bloom",
    )
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
        if row.get("scaled_compacted", -1) > 0:
            row["compacted_factor"] = round(
                row["scaled_compacted"] / row["base"], 2
            )
    add_advance_factor(row)
    return row


def fuzzy_join_case(spark, materialize, base: str, replicas: int):
    """Edit-distance self-join at ~Nx the corpus: pair count and candidate
    fan-out must scale LINEARLY (the pigeonhole blocking's whole claim).

    The generic replication can't be reused here: its per-token ``_r``
    suffix leaves cross-replica twins within edit distance 2, which makes
    same-origin titles match across every replica pair — a quadratic pair
    explosion the REPLICATION manufactures, not the operator.  Instead
    each replica's titles get a distinct 3-char prefix (``rrr ``: any two
    replicas differ by 3 substitutions > k=2) and shifted ids — within-
    replica distances are preserved EXACTLY, cross-replica pairs are
    impossible, so the true pair count scales xN."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        edit_distance_self_join,
    )
    from evidence_datasource_parsers_spark.plans.catalog_text import (
        ed_title_col,
    )

    docs = spark.read.parquet(f"{base}/documents.parquet")
    titles = docs.select("doc_id", ed_title_col().alias("title"))

    # one distinct char per replica repeated 3x: any two replica prefixes
    # differ in all three positions (> k=2), so cross-replica pairs are
    # impossible; base-36 bounds the case at 36 replicas (r % 10 would
    # collide at replicas > 10 and manufacture the quadratic explosion
    # the docstring rules out — review finding, round 10).  Bound is
    # validated up front in main() so an oversized run fails BEFORE the
    # tens-of-minutes build, not after every other case has run.
    alphabet = FUZZY_PREFIX_ALPHABET
    if replicas > len(alphabet):
        raise ValueError(f"fuzzy_join_case supports <= {len(alphabet)} replicas")

    def mk(n_rep: int):
        parts = [
            titles.select(
                (F.col("doc_id") + F.lit(r * 10**9)).alias("doc_id"),
                F.concat(F.lit(alphabet[r] * 3 + " "), F.col("title"))
                .alias("title"),
            )
            for r in range(n_rep)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.localCheckpoint(eager=True)

    row = {}
    for label, n_rep in (("base", 1), ("scaled", replicas)):
        frame = mk(n_rep)
        probe_median(
            spark,
            lambda: materialize(
                edit_distance_self_join(frame, "title", "doc_id", 2)
            ),
            row, label,
        )
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    return row


def incremental_canon_case(spark, materialize, base: str, replicas: int):
    """Fuzzy-canon twin of the incremental-refresh case: a FIXED batch of
    titles mapped against the bucketed canon SEGMENT store
    (fuzzy_join.canon_segment_rows) at base vs N× representative count.

    Replication reuses fuzzy_join_case's distinct-prefix trick (any two
    replica prefixes differ in 3 positions > k=2), so the batch's store
    neighborhood is IDENTICAL at both scales: half the batch is a
    one-edit rewrite of replica-0 reps (must converge on the store), half
    carries an uppercase prefix no replica uses (elects new reps
    in-batch).  The store side of the probe join rides zero Exchange
    (plan-asserted in tests/test_plan_shapes.py), so the probe factor
    should track the store scan, far below N; the advance appends k+1
    segment rows per NEW representative — O(batch), ~flat."""
    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        incremental_canonicalize_indexed,
    )
    from evidence_datasource_parsers_spark.plans.catalog_text import (
        ed_title_col,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        append_bucketed_store,
        read_bucketed_store,
        write_bucketed_store,
    )

    alphabet = FUZZY_PREFIX_ALPHABET
    if replicas > len(alphabet):
        raise ValueError(
            f"incremental_canon_case supports <= {len(alphabet)} replicas"
        )
    docs = spark.read.parquet(f"{base}/documents.parquet")
    titles = docs.select("doc_id", ed_title_col().alias("title"))

    def mk_reps(n_rep: int):
        parts = [
            titles.select(
                (F.col("doc_id") + F.lit(r * 10**9)).alias("canonical_id"),
                F.concat(
                    F.lit(alphabet[r] * 3 + " "), F.col("title")
                ).alias("canonical"),
            )
            for r in range(n_rep)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    batch = titles.select(
        (F.col("doc_id") + F.lit(5 * 10**9)).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(alphabet[0] * 3 + " "), F.col("title"), F.lit("x")
            ),
        )
        .otherwise(F.concat(F.lit("ZZZ "), F.col("title")))
        .alias("title"),
    ).localCheckpoint(eager=True)

    row: dict = {}
    for label, n_rep in (("base", 1), ("scaled", replicas)):
        table = f"bench_incr_canon_store_{label}"
        store_path = os.path.join(
            os.environ.get(
                "SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale_store"
            ),
            f"canon_store_{label}",
        )
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            write_bucketed_store(
                canon_segment_rows(mk_reps(n_rep), max_dist=2),
                store_path, table, ["seg_key"], 32,
            )
            def one_probe():
                res = incremental_canonicalize_indexed(
                    batch, read_bucketed_store(spark, table),
                    "title", "doc_id", max_dist=2,
                )
                materialize(res.mapping)

            probe_median(spark, one_probe, row, label)
            # ADVANCE: append the batch's new-rep segment rows into the
            # bucketed store — O(batch) by design; median-of-N re-appends
            # of the same materialized delta
            res = incremental_canonicalize_indexed(
                batch, read_bucketed_store(spark, table),
                "title", "doc_id", max_dist=2,
            )
            delta_mat = res.delta.localCheckpoint(eager=True)
            advance_median(
                lambda: append_bucketed_store(
                    delta_mat, table, ["seg_key"], 32
                ),
                row, label,
            )
        except Exception as exc:  # noqa: BLE001
            print(f"canon@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def incremental_embedding_case(spark, materialize, base: str, replicas: int):
    """Semantic-dedup twin of the incremental cases: a FIXED batch of
    float vectors (the base table's odd vec_ids) deduped against the
    INT8-quantized vector store at base vs N× size, via the documented
    at-scale path — the store's hyperplane bucket rows are PRECOMPUTED
    and carried alongside it (untimed, like the store build), so the
    per-batch cost is the batch's own bucketing + the (table, bucket)
    candidate join + Arrow cosine verify over bucket-mates.  Replicas
    rotate the store vectors (norms and within-replica cosines exactly
    preserved, cross-replica decorrelated — the same trick the generic
    replication uses), so the batch's TRUE match set is identical at
    both scales and any factor growth is join/scan cost, not work.
    Advance = appending the survivors' quantized delta — O(batch)."""
    from evidence_datasource_parsers_spark.operators.quantize import (
        dequantize_embeddings,
        incremental_embedding_dedupe_quantized,
        quantize_vector_store,
    )
    from evidence_datasource_parsers_spark.operators.similarity import (
        hyperplane_bucket_rows,
    )

    DIM, N_PLANES, N_TABLES = 64, 8, 4
    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    batch = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .localCheckpoint(eager=True)
    )

    def mk_vectors(n_rep: int):
        parts = []
        for r in range(n_rep):
            rep = emb.filter(F.col("vec_id") % 2 == 0).select(
                (F.col("vec_id") + F.lit(r * 10**9)).alias("vec_id"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            if r:
                shift = (6 * r) % DIM
                rep = rep.withColumn(
                    "embedding",
                    F.concat(
                        F.slice(F.col("embedding"), shift + 1, DIM - shift),
                        F.slice(F.col("embedding"), 1, shift),
                    ),
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    row: dict = {}
    for label, n_rep in (("base", 1), ("scaled", replicas)):
        try:
            q_store = quantize_vector_store(
                mk_vectors(n_rep), "embedding", "vec_id"
            ).localCheckpoint(eager=True)
            store_f = dequantize_embeddings(
                q_store, out_col="embedding"
            ).select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            sbr = hyperplane_bucket_rows(
                store_f, "vec_id", "embedding", DIM, N_PLANES, N_TABLES,
                "embedding",
            ).localCheckpoint(eager=True)
            def one_probe():
                res = incremental_embedding_dedupe_quantized(
                    batch, q_store, "embedding", "vec_id",
                    dim=DIM, n_planes=N_PLANES, n_tables=N_TABLES,
                    store_bucket_rows=sbr,
                )
                materialize(res.fresh)
                res.pinned.unpersist()

            probe_median(spark, one_probe, row, label)
            res = incremental_embedding_dedupe_quantized(
                batch, q_store, "embedding", "vec_id",
                dim=DIM, n_planes=N_PLANES, n_tables=N_TABLES,
                store_bucket_rows=sbr,
            )
            time_delta_advance(res.delta, q_store, label, row, "emb")
            res.pinned.unpersist()
        except Exception as exc:  # noqa: BLE001
            print(f"embedding@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def incremental_df_case(spark, materialize, base: str, out_dir: str):
    """Document-frequency store at base vs N× VOCABULARY: the generic
    replication suffixes every token per replica, so the scaled corpus's
    term space is N× the base — exactly the axis the df store grows
    along.  A FIXED batch (the replica-0 slice, so its term space is
    constant) is BM25-scored against the bucketed store for that store's
    own top-3 terms (computed untimed; replica-0 term df profiles are
    identical across scales by construction).  The probe should stay
    ~flat: the query-term filter prunes the bucketed scan, the surviving
    ≤|query| rows broadcast, and the batch-side tokenize/tf cost is
    scale-invariant.  Advance = appending the batch's additive delta."""
    from evidence_datasource_parsers_spark.operators.df_store import (
        bm25_against_store,
        df_store_delta,
    )
    from evidence_datasource_parsers_spark.plans.catalog import load
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    row: dict = {}
    for label, sf_dir in (("base", base), ("scaled", out_dir)):
        table = f"bench_incr_df_store_{label}"
        store_path = os.path.join(
            os.environ.get(
                "SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale_store"
            ),
            f"df_store_{label}",
        )
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            docs = load(spark, sf_dir, "documents")
            batch = docs.filter(
                (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 10**9)
            ).localCheckpoint(eager=True)
            write_bucketed_store(
                df_store_delta(docs, "text", "doc_id"),
                store_path, table, ["term"], 32,
            )
            st = read_bucketed_store(spark, table)
            q_terms = [
                r.term
                for r in st.where(F.col("kind") == "df")
                .orderBy(F.col("n").desc(), F.col("term"))
                .limit(3)
                .collect()
            ]
            probe_median(
                spark,
                lambda: materialize(
                    bm25_against_store(
                        batch, st, q_terms, "text", "doc_id"
                    )
                ),
                row, label,
            )
            delta_mat = df_store_delta(
                batch, "text", "doc_id"
            ).localCheckpoint(eager=True)
            from evidence_datasource_parsers_spark.sources.sinks import (
                append_bucketed_store,
            )

            advance_median(
                lambda: append_bucketed_store(
                    delta_mat, table, ["term"], 32
                ),
                row, label,
            )
        except Exception as exc:  # noqa: BLE001
            print(f"df@{label} failed: {exc}", file=sys.stderr)
            row[label] = -1.0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
    if row.get("base", -1) > 0 and row.get("scaled", -1) > 0:
        row["factor"] = round(row["scaled"] / row["base"], 2)
    add_advance_factor(row)
    return row


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    if replicas > len(FUZZY_PREFIX_ALPHABET):
        raise SystemExit(
            f"replicas must be <= {len(FUZZY_PREFIX_ALPHABET)} "
            "(fuzzy_join_case prefix alphabet) — fail fast, before the build"
        )
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scale{replicas}"
    )

    from evidence_datasource_parsers_spark.plans import CATALOG
    from evidence_datasource_parsers_spark.session import get_spark

    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        t0 = time.perf_counter()
        build_scaled(spark, base, out_dir, replicas)
        print(
            f"built {out_dir} in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    names = [n for n, q in CATALOG.items() if q.bench]
    # q63 is deliberately NOT bench=True (adding a ~4s query would break
    # round-over-round headline comparability) but its scale behavior is
    # the whole point of the suffix-array formulation — stress it here.
    # The replicated documents table preserves within-replica duplicate
    # structure (every token suffixed _r), so spans scale ×N.
    names.append("q63_span_dedup")
    # q11 carries the global_rank distributed Zipf rank (replaced the
    # vocabulary-wide unpartitioned window) — stress that its range-shuffle
    # + offsets formulation scales with the vocabulary.
    names.append("q11_explode_tokens")
    for name in names:  # codegen/JIT warm-up, untimed
        materialize(CATALOG[name].builder(spark, "/root/testdata/sf0.001"))

    results: dict[str, dict] = {}
    for name in names:
        row = {}
        for label, sf_dir in (("base", base), ("scaled", out_dir)):
            try:
                probe_median(
                    spark,
                    lambda: materialize(CATALOG[name].builder(spark, sf_dir)),
                    row, label,
                )
            except Exception as exc:
                print(f"{name}@{label} failed: {exc}", file=sys.stderr)
                row[label] = -1.0
        if row["base"] > 0 and row["scaled"] > 0:
            row["factor"] = round(row["scaled"] / row["base"], 2)
        results[name] = row
        # queries that checkpoint internally (q34's cluster rounds) leak
        # blocks per sample — free them before the next query measures
        free_case_state(spark)

    free_case_state(spark)  # catalog queries' persisted frames are done
    cases = [
        ("incremental_lsh_refresh",
         lambda: incremental_refresh_case(spark, base, out_dir, materialize)),
        ("incremental_phash_refresh",
         lambda: incremental_phash_case(spark, materialize, replicas)),
        ("incremental_simhash_index",
         lambda: incremental_simhash_index_case(
             spark, base, out_dir, materialize)),
        ("incremental_span_refresh",
         lambda: incremental_span_case(spark, base, out_dir, materialize)),
        ("incremental_remux_refresh",
         lambda: incremental_remux_case(spark, materialize, replicas)),
        ("counter_bloom_store",
         lambda: counter_bloom_case(spark, materialize, replicas)),
        ("fuzzy_edit_join",
         lambda: fuzzy_join_case(spark, materialize, base, replicas)),
        ("incremental_canon_refresh",
         lambda: incremental_canon_case(spark, materialize, base, replicas)),
        ("incremental_embedding_refresh",
         lambda: incremental_embedding_case(
             spark, materialize, base, replicas)),
        ("incremental_df_refresh",
         lambda: incremental_df_case(spark, materialize, base, out_dir)),
    ]
    for cname, fn in cases:
        results[cname] = fn()
        # free each case's checkpointed stores BEFORE the next case — the
        # accumulated blocks are what degraded the late cases' samples
        free_case_state(spark)

    line = json.dumps(
        {
            "metric": "scale_stress",
            "replicas": replicas,
            "base": base,
            "queries": results,
        }
    )
    print(line)
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCH_SCALE.json"),
        "w",
    ) as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
