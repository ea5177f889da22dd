"""Plan-shape regression tests: the scale properties the engine promises
(pushdown, pruning, broadcast, partial aggregation, no cartesian blowups)
asserted against the actual physical plans — not just timings."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.plans import CATALOG


def _plan(spark, name, sf_dir):
    df = CATALOG[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _nodes(plan: str) -> list[str]:
    """Node names from the formatted plan's detail headers '(N) NodeName'."""
    import re

    return [
        m.group(1)
        for m in re.finditer(r"^\(\d+\) (\w+)", plan, flags=re.MULTILINE)
    ]


def test_q01_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, "q01_pricing_summary", sf_dir)
    assert "LessThanOrEqual(l_shipdate" in plan          # filter at the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert _nodes(plan).count("Exchange") == 1           # one shuffle (agg)


def test_q04_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, "q04_region_rollup", sf_dir)
    assert _nodes(plan).count("BroadcastHashJoin") == 2  # nation + region
    assert "SortMergeJoin" not in plan                   # no fact shuffle join


def test_q05_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "q05_customer_order_stats", sf_dir)
    assert "BroadcastHashJoin" in plan
    # exactly one data shuffle (the final groupBy)
    assert _nodes(plan).count("Exchange") == 1


def test_q59_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, "q59_shipping_priority", sf_dir)
    assert "TakeOrderedAndProject" in plan               # heap, not full sort


def test_q60_six_table_join_all_broadcast(spark, sf_dir):
    """TPC-H Q5 shape: every join side except the lineitem fact fits the
    broadcast threshold, so the fact table must never shuffle for a join —
    the plan is 5 BroadcastHashJoins and the only data Exchange is the final
    aggregation.  supplier's hint is size-gated (broadcast_if_small), so
    this asserts the small-SF leg; the oversized fallback is covered by
    test_broadcast_gate_falls_back_when_oversized."""
    plan = _plan(spark, "q60_local_supplier_volume", sf_dir)
    nodes = _nodes(plan)
    assert nodes.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    # _nodes names are exact, so "Exchange" counts only shuffle exchanges
    # (BroadcastExchange is its own node name)
    assert nodes.count("Exchange") == 1


def test_broadcast_gate_applies_hint_under_threshold(spark, sf_dir):
    """broadcast_if_small keeps the BHJ plan while the dim is small..."""
    from evidence_datasource_parsers_spark.operators.joins import (
        broadcast_if_small,
        plan_size_bytes,
    )

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert plan_size_bytes(s) > 0
    gated = broadcast_if_small(s, threshold_bytes=1 << 30)
    plan = l.join(gated, l["l_suppkey"] == gated["s_suppkey"])._jdf \
        .queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    assert "BroadcastHashJoin" in plan


def test_broadcast_gate_falls_back_when_oversized(spark, sf_dir):
    """...and above the threshold it yields to the optimizer — the scale
    guard that keeps a supplier-shaped (SF-proportional) dim from being
    force-broadcast into an executor OOM at 100×.  Auto-broadcast is
    disabled for the assertion so the fallback is visible as an SMJ."""
    from evidence_datasource_parsers_spark.operators.joins import (
        broadcast_if_small,
    )

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # explicit tiny threshold: the gate must refuse the hint
        gated = broadcast_if_small(s, threshold_bytes=1)
        plan = l.join(gated, l["l_suppkey"] == gated["s_suppkey"])._jdf \
            .queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan
        # default threshold comes from the session conf: -1 disables the
        # hint even for a tiny table
        ungated = broadcast_if_small(s)
        assert ungated is s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q39_ann_plan_shape(spark, sf_dir):
    """ANN vector math must stay off the interpreted slow paths: bucketing,
    assignment, and pair scoring each run in ONE Arrow-batched Python stage
    (not giant JIT-breaking SQL projections — SCALE.md hazards 7–9), and
    candidate generation is a bucket equi-join, never a cross product."""
    plan = _plan(spark, "q39_ann_topk", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    nodes = _nodes(plan)
    # Arrow-stage budget across the THREE legs (r14 fused-index shape): ONE
    # fused corpus kernel computes LSH buckets AND the IVF cell off one
    # embeddings scan (corpus_index_rows, persisted — distinct stage 1),
    # the base-LSH and multi-probe legs stay fused (r13: probe-expanded
    # q-bucketing + ONE scoring pass = 2), and IVF adds q-probe + scoring
    # (2).  1+2+2 = 5 distinct kernels; a 6th would mean Catalyst cloned a
    # kernel (e.g. into a pushed join-key filter), the fused index stopped
    # being shared, or a leg fusion regressed.  The formatted plan prints
    # the cached fused kernel once per InMemoryTableScan reference (2
    # consumers), so count DISTINCT node ids.
    import re

    arrow_ids = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) ArrowEvalPython", plan)
    }
    assert len(arrow_ids) == 5, sorted(arrow_ids)
    # exactly ONE persist — the fused corpus index feeding both legs; a
    # second DISTINCT cache would be dead weight (memory pinned for no
    # reuse).  The formatted plan re-enumerates the shared InMemoryRelation
    # per reference, so distinct caches are told apart by their argument
    # signature (output attributes + storage level), not by node id.
    imr_args = {
        re.sub(r"#\d+L?", "", m.group(1))  # each reference re-ids the attrs
        for m in re.finditer(
            r"\(\d+\) InMemoryRelation\nArguments: (\[[^\]]*\])", plan
        )
    }
    assert len(imr_args) == 1, sorted(imr_args)


def test_corpus_index_kernel_runs_once_unpersisted(spark):
    """An UN-persisted corpus_index_rows frame feeding
    ivf_topk(corpus_assigned=...) runs the fused kernel in ONE Arrow stage:
    the kernel is flagged nondeterministic, so Catalyst cannot clone it
    into the join's pushed-down isnotnull(__cell) filter (without the flag
    the plan holds two ArrowEvalPython nodes over the same embedding
    input).  The answer equals the unshared path's, which assigns cells
    with ivf's own kernel."""
    import random
    import re

    from evidence_datasource_parsers_spark.operators.ivf import (
        deterministic_centroids,
        ivf_topk,
    )
    from evidence_datasource_parsers_spark.operators.similarity import (
        corpus_index_rows,
    )

    rng = random.Random(3)
    e = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    cents = deterministic_centroids(8, 4)
    idx = corpus_index_rows(c, "neighbor_id", "embedding", 8, 4, 2, cents)
    shared = ivf_topk(
        q, c, cents, k=3, n_probe=2,
        corpus_assigned=idx.select("neighbor_id", "__cv", "__cell"),
    )
    plan = shared._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    fused = {
        m.group(1)
        for m in re.finditer(
            r"^\((\d+)\) ArrowEvalPython\n[^\n]*\nArguments: "
            r"\[\w+\(embedding#",
            plan, flags=re.MULTILINE,
        )
    }
    assert len(fused) == 1, plan
    unshared = ivf_topk(q, c, cents, k=3, n_probe=2)
    assert sorted(shared.collect()) == sorted(unshared.collect())


def test_q34_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "q34_lsh_candidates", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q46_asof_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "q46_asof_join", sf_dir)
    assert "CartesianProduct" not in plan
    # union + window: shuffles on user_id only (+AQE coalesce reads)
    assert plan.count("SortMergeJoin") == 0


def test_salted_join_spreads_keys(spark):
    from evidence_datasource_parsers_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(1000)],
        "row_id long, k string",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C")], "k string, label string"
    )
    out = salted_join(fact, dim, on="k", n_salts=8, salt_source="row_id")
    rows = out.groupBy("label").count().collect()
    got = {r["label"]: r["count"] for r in rows}
    assert got == {"H": 900, "C": 100}
    # salt actually spreads the hot key across multiple values
    spread = (
        fact.withColumn(
            "__salt",
            __import__(
                "evidence_datasource_parsers_spark.functions.hashing",
                fromlist=["portable_hash"],
            ).portable_hash(F.col("row_id").cast("string")) % 8,
        )
        .where(F.col("k") == "hot")
        .select("__salt")
        .distinct()
        .count()
    )
    assert spread == 8


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """The 100TB co-location claim, concretely: two tables bucketed on the
    join key join with ZERO Exchange operators (only scans + sort + SMJ)."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    try:
        for df, key, name in (
            (orders.select("o_orderkey", "o_totalprice"), "o_orderkey",
             f"bk_orders_{suffix}"),
            (lineitem, "l_orderkey", f"bk_lineitem_{suffix}"),
        ):
            (
                df.write.mode("overwrite").format("parquet")
                .bucketBy(8, key).sortBy(key)
                .option("path", str(tmp_path / name)).saveAsTable(name)
            )
        o = spark.table(f"bk_orders_{suffix}")
        l = spark.table(f"bk_lineitem_{suffix}")
        joined = o.join(l, o.o_orderkey == l.l_orderkey)
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert _nodes(plan).count("Exchange") == 0, plan
        assert joined.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS bk_orders_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS bk_lineitem_{suffix}")


def test_q38_blocked_pairs_plan_shape(spark, sf_dir):
    """The capped blocked near-dup pass must stay a bucketed shuffle: no
    cartesian/nested-loop joins anywhere (the count agg + salt explode +
    one applyInPandas group stage is the whole plan)."""
    plan = _plan(spark, "q38_embedding_dupes", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the pair kernel actually runs


def test_bucketed_exact_store_never_shuffles(spark, sf_dir, tmp_path):
    """Incremental exact dedup against a bucketed fingerprint store: the
    anti-join shuffles ONLY the new batch into the store's bucket layout —
    the store side has no Exchange.  Auto-broadcast is disabled so the
    co-location is visible as an SMJ instead of being masked by a
    broadcast of the small test store."""
    import uuid

    from evidence_datasource_parsers_spark.operators.dedupe import (
        content_hash,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    table = f"bk_store_{uuid.uuid4().hex[:8]}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.coalesce(content_hash(F.col("text")), F.lit(-1)).alias(
            "content_hash"
        )
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_store(
            store, str(tmp_path / "store"), table, ["content_hash"], 8
        )
        st = read_bucketed_store(spark, table)
        batch = docs.filter(F.col("doc_id") % 2 == 1).select(
            F.coalesce(content_hash(F.col("text")), F.lit(-1)).alias(
                "content_hash"
            )
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fresh = batch.join(st, on="content_hash", how="left_anti")
        plan = fresh._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # exactly ONE shuffle: the batch side re-clustering into the
        # store's 8 buckets; a second Exchange would mean the store moved
        assert _nodes(plan).count("Exchange") == 1, plan
        assert "SortMergeJoin" in plan
        assert fresh.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_lsh_store_never_shuffles(spark, sf_dir, tmp_path):
    """The LSH fingerprint store bucketed on (band, key): the candidate
    join of a new batch's fingerprints against the store leaves the store
    in place.  The batch side owns both Exchanges (its signature agg on
    doc_id, then re-clustering to (band, key)); the store side has none."""
    import uuid

    from evidence_datasource_parsers_spark.operators.dedupe import (
        lsh_fingerprints,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    table = f"bk_lsh_{uuid.uuid4().hex[:8]}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_store(
            lsh_fingerprints(
                docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id",
                mode="word", k=3,
            ),
            str(tmp_path / "lsh"), table, ["band", "key"], 8,
        )
        st = read_bucketed_store(spark, table)
        batch_fp = lsh_fingerprints(
            docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id",
            mode="word", k=3,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = batch_fp.select(
            "doc_id", "band", "key", F.col("sig").alias("__nsig")
        ).join(
            st.select("band", "key", F.col("sig").alias("__ssig")),
            on=["band", "key"],
        )
        plan = cand._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert _nodes(plan).count("Exchange") == 2, plan
        assert "SortMergeJoin" in plan
        assert cand.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_canon_store_never_shuffles(spark, tmp_path):
    """The fuzzy canon segment store bucketed on seg_key: a batch probe's
    candidate join reads the store in place — the store side has no
    Exchange, the single Exchange is the batch's ≤29-rows-per-string
    probe set re-clustering into the store's bucket layout.  This is the
    zero-Exchange store-side contract the exact/LSH stores already meet
    (tests above); round 11 extends it to the fuzzy family."""
    import uuid

    from evidence_datasource_parsers_spark.operators.fuzzy_join import (
        canon_segment_rows,
        canon_store_hits,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    table = f"bk_canon_{uuid.uuid4().hex[:8]}"
    reps = spark.createDataFrame(
        [(i, f"label number {i:04d}") for i in range(0, 400, 2)],
        "canonical_id long, canonical string",
    )
    batch = spark.createDataFrame(
        [(1000 + i, f"label numbes {i:04d}") for i in range(1, 400, 2)],
        "id long, s string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_store(
            canon_segment_rows(reps, max_dist=2),
            str(tmp_path / "canon"), table, ["seg_key"], 8,
        )
        st = read_bucketed_store(spark, table)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hits = canon_store_hits(st, batch, "s", "id", max_dist=2)
        plan = hits._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # TWO Exchanges, neither carrying store rows: the batch's probe
        # set re-clustering into the store's bucket layout, plus the
        # length-prune's distinct aggregate (one combined row per
        # DISTINCT LENGTH — bounded by the label length range, never by
        # the store).  The store's own scan still feeds the candidate
        # join with zero Exchange (Bucketed: true below).
        assert _nodes(plan).count("Exchange") == 2, plan
        assert "Bucketed: true" in plan, plan
        assert "SortMergeJoin" in plan
        assert "CartesianProduct" not in plan
        assert hits.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_simhash_pigeonhole_join_is_equi_join(spark, sf_dir):
    """The incremental SimHash candidate step joins on (combo, key) — a
    plain equi-join the planner can hash/sort-merge.  No CartesianProduct
    and no BroadcastNestedLoopJoin may appear even though the predicate
    family ("hamming distance <= d") is not itself an equi-condition: the
    Manku block-combination tables reduce it to one."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe,
        simhash_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    store = simhash_fingerprints(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    res = incremental_simhash_dedupe(
        docs.filter(F.col("doc_id") % 2 == 1), store, "text", "doc_id"
    )
    try:
        plan = res.fresh._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert res.fresh.count() > 0
    finally:
        res.pinned.unpersist()


def _df_plan(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_perceptual_pair_ops_never_cartesian(spark):
    """The media fingerprint stores must stay on combo-key equi-joins: no
    CartesianProduct and no non-broadcast nested loop in the image pHash
    or the video remux incremental store."""
    from evidence_datasource_parsers_spark.operators.multimodal import (
        incremental_phash_dedupe,
        incremental_remux_dedupe,
    )

    batch = spark.createDataFrame(
        [(1, bytes(64)), (2, bytes(64))], "media_id long, blob binary"
    )
    phash_store = spark.createDataFrame(
        [(9, 12345)], "media_id long, phash long"
    )
    stream_store = spark.createDataFrame(
        [(9, 12345)], "media_id long, stream_hash long"
    )
    plans = {
        "incr_phash": _df_plan(
            incremental_phash_dedupe(batch, phash_store).fresh
        ),
        "incr_remux": _df_plan(
            incremental_remux_dedupe(batch, stream_store).fresh
        ),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        nodes = _nodes(plan)
        for i, n in enumerate(nodes):
            if n == "BroadcastNestedLoopJoin":
                raise AssertionError(f"{name}: BNLJ in plan")


def test_seen_store_table_read_never_shuffles(spark, tmp_path):
    """A seen-URL store written by ``write_bucketed_store`` and read back
    through ``read_bucketed_store``: a batch's anti-join on the
    canonical-URL hash reads the store in place.  Comparative assert — the
    table-read plan has exactly ONE fewer Exchange than the identical
    plain-read plan (the store side's) — plus bucket metadata on the
    scan."""
    import uuid

    from evidence_datasource_parsers_spark.functions.hashing import (
        portable_hash,
    )
    from evidence_datasource_parsers_spark.functions.urls import (
        canonicalize_url_sql,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    table = f"seenplan_{uuid.uuid4().hex[:8]}"
    store = str(tmp_path / "seen_store")
    plain = str(tmp_path / "seen_plain")
    rows = spark.range(500).select(
        portable_hash(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.lit(1.0).alias("last_fetch_ts"),
    )
    rows.write.parquet(plain)
    batch = spark.range(200).select(
        portable_hash(F.expr(canonicalize_url_sql(
            "concat('http://d', CAST(id % 7 AS STRING), '.example/p', "
            "CAST(id AS STRING))"
        ))).alias("url_hash")
    )

    def exchanges(seen):
        plan = (
            batch.join(seen, on="url_hash", how="left_anti")
            ._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        )
        return _nodes(plan).count("Exchange"), plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_store(rows, store, table, ["url_hash"], 8)
        n_plain, _ = exchanges(spark.read.parquet(plain))
        n_table, plan = exchanges(read_bucketed_store(spark, table))
        assert n_table == n_plain - 1, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_simhash_key_index_store_never_shuffles(spark, sf_dir, tmp_path):
    """The simhash KEY-INDEX store bucketed on (combo, key): a batch
    probe's candidate join reads the store in place — no store-side
    Exchange AND no store-side Generate (the classic form's per-batch
    O(store × combos) explode is gone from the plan); the batch side
    owns the one Exchange, re-clustering its exploded keys into the
    store's buckets."""
    import uuid

    from evidence_datasource_parsers_spark.operators.dedupe import (
        simhash_fingerprints,
        simhash_key_index,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    table = f"bk_shidx_{uuid.uuid4().hex[:8]}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        store_fp = simhash_fingerprints(
            docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
        )
        write_bucketed_store(
            simhash_key_index(store_fp, "doc_id", 32, 3, 6),
            str(tmp_path / "shidx"), table, ["combo", "key"], 8,
        )
        st = read_bucketed_store(spark, table)
        from evidence_datasource_parsers_spark.operators.dedupe import (
            simhash_combo_keys,
        )

        batch_keys = simhash_fingerprints(
            docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id"
        ).select(
            "doc_id",
            F.col("simhash").alias("__nsim"),
            F.explode(
                simhash_combo_keys(F.col("simhash"), 32, 3, 6)
            ).alias("__k"),
        ).select("doc_id", "__nsim", "__k.combo", "__k.key")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = batch_keys.join(
            st.select("combo", "key", F.col("simhash").alias("__ssim")),
            on=["combo", "key"],
        )
        plan = cand._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        nodes = _nodes(plan)
        assert nodes.count("Exchange") == 1, plan     # batch side only
        assert nodes.count("Generate") == 1, plan     # batch explode only
        assert "SortMergeJoin" in plan
        assert cand.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bloom_store_table_probe_never_shuffles_store(spark, tmp_path):
    """Table-backed Bloom counter store (VERDICT r12 item 5): the
    (group, word) membership probe reads the carried history in place —
    one fewer Exchange than the plain read, bucket metadata on the
    scan."""
    import uuid

    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.operators.sketches import (
        bloom_member,
        bloom_store,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    table = f"bloomplan_{uuid.uuid4().hex[:8]}"
    store = str(tmp_path / "bloom_store")
    plain = str(tmp_path / "bloom_plain")
    # groups must be DATA-DRIVEN: a literal group constant-folds the g
    # join key on the store side, and the planner then disables the
    # bucketed scan as useless ('disabled by query planner')
    src = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("http://h.example/p"), F.col("id")).alias("url"),
    )
    history = bloom_store(src, ["g"], "url", k=4, m_bits=1 << 16)
    history.write.parquet(plain)
    items = spark.range(50).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("http://h.example/p"), F.col("id")).alias("url"),
    )

    def exchanges(st):
        probe = bloom_member(st, items, ["g"], "url", 4, 1 << 16)
        plan = probe._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        return _nodes(plan).count("Exchange"), plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_store(history, store, table, ["g", "__w"], 8)
        n_plain, _ = exchanges(spark.read.parquet(plain))
        n_table, plan = exchanges(read_bucketed_store(spark, table))
        assert n_table == n_plain - 1, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_hll_store_table_estimate_never_shuffles(spark, tmp_path):
    """Table-backed HLL counter store: the per-group register-maxima
    merge rides the bucket layout — ZERO Exchange in the whole estimate
    plan (the groupBy keys are the bucket keys)."""
    import uuid

    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.operators.sketches import (
        hll_store,
        sketch_store_estimates,
    )
    from evidence_datasource_parsers_spark.sources.sinks import (
        read_bucketed_store,
        write_bucketed_store,
    )

    table = f"hllplan_{uuid.uuid4().hex[:8]}"
    store = str(tmp_path / "hll_store")
    src = spark.range(2000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").alias("v"),
    )
    history = hll_store(src, ["g"], "v")
    try:
        write_bucketed_store(history, store, table, ["g"], 4)
        est = sketch_store_estimates(read_bucketed_store(spark, table), ["g"])
        plan = est._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        assert _nodes(plan).count("Exchange") == 0, plan
        assert "Bucketed: true" in plan, plan
        assert est.count() == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
