"""HLL sketch stores: merge-order invariance, incremental ≡ one-shot,
re-ingest idempotence, accuracy, parquet persistence of the binary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.sketches import (
    hll_estimates,
    hll_merge_stores,
    hll_store,
    incremental_distinct_count,
)


def _batch(spark, dom, lo, hi):
    return spark.createDataFrame(
        [(dom, f"url{u}") for u in range(lo, hi)], "domain string, url string"
    )


def _est(store):
    return {
        r.domain: r.approx_distinct for r in hll_estimates(store).collect()
    }


def test_accuracy_and_groups(spark):
    df = _batch(spark, "a", 0, 1000).union(_batch(spark, "b", 0, 50))
    est = _est(hll_store(df, ["domain"], "url"))
    assert est["a"] == pytest.approx(1000, rel=0.05)
    assert est["b"] == pytest.approx(50, rel=0.05)


def test_incremental_equals_one_shot_and_merge_order(spark):
    b1 = _batch(spark, "a", 0, 400)
    b2 = _batch(spark, "a", 300, 700)   # overlaps b1
    b3 = _batch(spark, "a", 650, 900).union(_batch(spark, "b", 0, 10))

    store = None
    for b in (b1, b2, b3):
        store = incremental_distinct_count(store, b, ["domain"], "url")
    inc = _est(store)

    # merging batch sketches estimates the union within HLL error (the
    # union gadget's register coercion makes it near- but not bit-equal
    # to the one-shot sketch)
    one_shot = _est(hll_store(b1.union(b2).union(b3), ["domain"], "url"))
    for k in one_shot:
        assert inc[k] == pytest.approx(one_shot[k], rel=0.02)

    reordered = _est(
        hll_merge_stores(
            [hll_store(b, ["domain"], "url") for b in (b3, b1, b2)],
            ["domain"],
        )
    )
    for k in one_shot:
        assert reordered[k] == pytest.approx(one_shot[k], rel=0.02)

    # determinism: the same incremental fold re-run is bit-identical
    store2 = None
    for b in (b1, b2, b3):
        store2 = incremental_distinct_count(store2, b, ["domain"], "url")
    assert _est(store2) == inc


def test_reingest_is_idempotent(spark):
    """Re-ingesting identical values cannot inflate the registers; the
    first union switches the estimator (HIP → composite, ~1% shift), after
    which further re-ingests are bit-stable."""
    b = _batch(spark, "a", 0, 500)
    once = incremental_distinct_count(None, b, ["domain"], "url")
    twice = incremental_distinct_count(once, b, ["domain"], "url")
    thrice = incremental_distinct_count(twice, b, ["domain"], "url")
    assert _est(twice)["a"] == pytest.approx(_est(once)["a"], rel=0.02)
    assert _est(thrice) == _est(twice)


def test_store_survives_parquet_roundtrip(spark, tmp_path):
    b = _batch(spark, "a", 0, 300)
    store = hll_store(b, ["domain"], "url")
    path = str(tmp_path / "hll_store")
    store.write.mode("overwrite").parquet(path)
    loaded = spark.read.parquet(path)
    merged = incremental_distinct_count(
        loaded, _batch(spark, "a", 250, 600), ["domain"], "url"
    )
    assert _est(merged)["a"] == pytest.approx(600, rel=0.05)


def test_empty_store_list_raises(spark):
    with pytest.raises(ValueError, match="at least one"):
        hll_merge_stores([], ["domain"])


def test_sketch_append_advance_equivalence(spark, tmp_path):
    """The sketch store is append-only like the dedup stores: advancing
    an on-disk dir by appending each batch's own sketches and probing
    the raw history (merge per group on read) estimates the same
    cardinalities as the in-plan merged fold, and compaction collapses
    the history without changing estimates."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        compact_sketch_store,
        sketch_store_estimates,
    )

    batches = [
        _batch(spark, "a", 0, 400),
        _batch(spark, "a", 300, 700).union(_batch(spark, "b", 0, 40)),
        _batch(spark, "a", 650, 900),
    ]
    path = str(tmp_path / "hll_history")

    merged = None
    for b in batches:
        hll_store(b, ["domain"], "url").write.mode("append").parquet(path)
        merged = incremental_distinct_count(merged, b, ["domain"], "url")

    history = spark.read.parquet(path)
    # raw history: one row per (group, batch)
    assert history.count() == 4  # a×3 + b×1
    probed = {
        r.domain: r.approx_distinct
        for r in sketch_store_estimates(history, ["domain"]).collect()
    }
    folded = _est(merged)
    for k in folded:
        assert probed[k] == pytest.approx(folded[k], rel=0.02)
    assert probed["a"] == pytest.approx(900, rel=0.05)
    assert probed["b"] == pytest.approx(40, rel=0.05)

    # compaction: one row per group, estimates unchanged (same single
    # groupBy merge the probe runs)
    compacted = compact_sketch_store(history, ["domain"])
    assert compacted.count() == 2
    assert {
        r.domain: r.approx_distinct
        for r in hll_estimates(compacted).collect()
    } == probed
    # a compacted store is a valid input to further appends
    compacted.write.mode("overwrite").parquet(str(tmp_path / "c"))
    hll_store(
        _batch(spark, "b", 30, 100), ["domain"], "url"
    ).write.mode("append").parquet(str(tmp_path / "c"))
    est2 = {
        r.domain: r.approx_distinct
        for r in sketch_store_estimates(
            spark.read.parquet(str(tmp_path / "c")), ["domain"]
        ).collect()
    }
    assert est2["b"] == pytest.approx(100, rel=0.05)
    assert est2["a"] == pytest.approx(900, rel=0.05)


def test_histogram_store_and_exact_merge(spark):
    """Fixed-edge histograms merge EXACTLY: split-then-merge must equal the
    one-shot histogram bin-for-bin, regardless of merge order."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        histogram_merge_stores,
        histogram_store,
    )

    edges = [10.0, 100.0, 1000.0]
    rows = [("a", float(v)) for v in [1, 5, 10, 50, 99, 100, 500, 5000]]
    rows += [("b", float(v)) for v in [200, 300]]
    rows += [("a", None)]  # NULL not counted
    df = spark.createDataFrame(rows, "g string, v double")

    one_shot = {
        r["g"]: r["counts"]
        for r in histogram_store(df, ["g"], "v", edges).collect()
    }
    assert one_shot["a"] == [2, 3, 2, 1]  # <10 | [10,100) | [100,1000) | >=1000
    assert one_shot["b"] == [0, 0, 2, 0]

    odd = df.where("v % 2 = 1 or v is null")
    even = df.where("v % 2 = 0")
    merged = {
        r["g"]: r["counts"]
        for r in histogram_merge_stores(
            [
                histogram_store(odd, ["g"], "v", edges),
                histogram_store(even, ["g"], "v", edges),
            ],
            ["g"],
        ).collect()
    }
    assert merged == one_shot


def test_histogram_append_advance_equivalence(spark, tmp_path):
    """The histogram store is append-only like every other store — and
    EXACTLY so (integer bin adds): appending each batch's own histogram
    to a dir and compacting the history matches the one-shot histogram
    bin-for-bin."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        compact_histogram_store,
        histogram_store,
    )

    edges = [10.0, 100.0, 1000.0]
    rows = [("a", float(v)) for v in [1, 5, 10, 50, 99, 100, 500, 5000]]
    rows += [("b", float(v)) for v in [200, 300]]
    df = spark.createDataFrame(rows, "g string, v double")
    batches = [
        df.where("v < 60"),
        df.where("v >= 60 and v < 400"),
        df.where("v >= 400"),
    ]
    path = str(tmp_path / "hist_history")

    for b in batches:
        histogram_store(b, ["g"], "v", edges).write.mode(
            "append"
        ).parquet(path)
    one_shot = histogram_store(df, ["g"], "v", edges)

    history = spark.read.parquet(path)
    assert history.count() > 2  # raw history: one row per (group, batch)
    compacted = {
        r["g"]: r["counts"]
        for r in compact_histogram_store(history, ["g"]).collect()
    }
    assert compacted == {
        r["g"]: r["counts"] for r in one_shot.collect()
    }
    assert compacted["a"] == [2, 3, 2, 1]
    assert compacted["b"] == [0, 0, 2, 0]


def test_histogram_store_rejects_bad_edges(spark):
    from evidence_datasource_parsers_spark.operators.sketches import (
        histogram_store,
    )

    df = spark.createDataFrame([("g", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="strictly increasing"):
        histogram_store(df, ["g"], "v", [1.0, 1.0, 2.0])


def test_cms_store_estimates_and_exact_merge(spark):
    """CMS estimates never underestimate, equal the true count on sparse
    data, ignore NULLs, and split-then-merge equals the one-shot sketch
    cell-for-cell (exact integer adds)."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        cms_estimate,
        cms_merge_stores,
        cms_store,
    )

    rows = (
        [("a", "x")] * 5 + [("a", "y")] * 3 + [("a", "z")]
        + [("b", "x")] * 2 + [("a", None)]
    )
    df = spark.createDataFrame(rows, "g string, v string")
    store = cms_store(df, ["g"], "v")

    items = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", "z"), ("a", "w"), ("b", "x"),
         ("b", "y")],
        "g string, v string",
    )
    est = {
        (r.g, r.v): r.est_count
        for r in cms_estimate(store, items, ["g"], "v").collect()
    }
    true = {("a", "x"): 5, ("a", "y"): 3, ("a", "z"): 1, ("a", "w"): 0,
            ("b", "x"): 2, ("b", "y"): 0}
    for k, t in true.items():
        assert est[k] >= t  # CMS guarantee
    # at 9 items in 4×1024 cells collisions are absent: estimates exact
    assert est == true

    odd = df.where("v is null or length(v) >= 0 and hash(v) % 2 = 1")
    even = df.exceptAll(odd)
    merged = cms_merge_stores(
        [cms_store(odd, ["g"], "v"), cms_store(even, ["g"], "v")],
        ["g"],
    )
    one_shot = {tuple(r) for r in store.collect()}
    assert {tuple(r) for r in merged.collect()} == one_shot


def test_cms_append_advance_equivalence(spark, tmp_path):
    """The CMS store is append-only like its siblings: appending each
    batch's own sketch rows, probing the raw history, and compacting all
    agree — exactly (integer adds)."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        cms_estimate,
        cms_store,
        compact_cms_store,
    )

    batches = [
        spark.createDataFrame(
            [("a", f"t{i % 4}") for i in range(8)], "g string, v string"
        ),
        spark.createDataFrame(
            [("a", f"t{i % 2}") for i in range(6)], "g string, v string"
        ),
    ]
    path = str(tmp_path / "cms_history")
    for b in batches:
        cms_store(b, ["g"], "v").write.mode("append").parquet(path)

    history = spark.read.parquet(path)
    items = spark.createDataFrame(
        [("a", "t0"), ("a", "t1"), ("a", "t2"), ("a", "t3")],
        "g string, v string",
    )
    # true: t0 = 2+3, t1 = 2+3, t2 = 2, t3 = 2
    est_raw = {
        r.v: r.est_count
        for r in cms_estimate(history, items, ["g"], "v").collect()
    }
    assert est_raw == {"t0": 5, "t1": 5, "t2": 2, "t3": 2}

    compacted = compact_cms_store(history, ["g"])
    assert compacted.count() < history.count()  # shared cells collapsed
    est_cmp = {
        r.v: r.est_count
        for r in cms_estimate(compacted, items, ["g"], "v").collect()
    }
    assert est_cmp == est_raw


def test_cms_heavy_hitters_pipeline(spark):
    """The cross-batch heavy-hitter read: per-batch exact candidates
    (frequent_items) unioned, estimated against the accumulated CMS, and
    ranked — finds the GLOBAL top item even when it never tops any one
    batch."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        cms_estimate,
        cms_merge_stores,
        cms_store,
        frequent_items,
    )

    # 'steady' is #2 in each batch but #1 overall
    b1 = spark.createDataFrame(
        [("a", "burst1")] * 6 + [("a", "steady")] * 5,
        "g string, v string",
    )
    b2 = spark.createDataFrame(
        [("a", "burst2")] * 6 + [("a", "steady")] * 5,
        "g string, v string",
    )
    store = cms_merge_stores(
        [cms_store(b, ["g"], "v") for b in (b1, b2)], ["g"]
    )
    # NO distinct: 'steady' appears in both batches' candidate lists,
    # and cms_estimate must dedup the probe side itself (a duplicate
    # probe row would double-count every matched cell)
    cands = frequent_items(b1, ["g"], "v", k=2).unionByName(
        frequent_items(b2, ["g"], "v", k=2)
    ).select("g", "v")
    ranked = cms_estimate(store, cands, ["g"], "v").orderBy(
        F.desc("est_count"), "v"
    ).collect()
    assert [r.v for r in ranked] == ["steady", "burst1", "burst2"]
    assert ranked[0].est_count == 10


def test_windowed_counter_probe_by_partition_pruning(spark, tmp_path):
    """Time-windowed counts fall out of the append-only layout for
    free: append each day's sketch rows under a day= partition and a
    windowed probe is a partition-pruned read of the history — no
    decay machinery, no rewrite.  Works identically for all three
    counter stores; shown here on CMS."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        cms_estimate,
        cms_store,
    )

    path = str(tmp_path / "daily_cms")
    days = {
        "2026-08-13": [("a", "x")] * 4 + [("a", "y")],
        "2026-08-14": [("a", "x")] * 2,
        "2026-08-15": [("a", "y")] * 3,
    }
    for day, rows in days.items():
        df = spark.createDataFrame(rows, "g string, v string")
        cms_store(df, ["g"], "v").withColumn(
            "day", F.lit(day)
        ).write.mode("append").partitionBy("day").parquet(path)

    items = spark.createDataFrame(
        [("a", "x"), ("a", "y")], "g string, v string"
    )
    history = spark.read.parquet(path)

    full = {
        r.v: r.est_count
        for r in cms_estimate(
            history.drop("day"), items, ["g"], "v"
        ).collect()
    }
    assert full == {"x": 6, "y": 4}

    last2 = history.where(F.col("day") >= "2026-08-14")
    windowed = {
        r.v: r.est_count
        for r in cms_estimate(
            last2.drop("day"), items, ["g"], "v"
        ).collect()
    }
    assert windowed == {"x": 2, "y": 3}
    # the window is partition pruning, not a scan-and-filter: the day
    # predicate must appear INSIDE the PartitionFilters segment (the
    # segment itself prints on every partitioned scan, pruned or not)
    import re

    plan = last2._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*day[^\]]*2026-08-14", plan)
    assert m, plan


def test_bloom_membership_basics(spark):
    """No false negatives ever; false positives at ~the design rate for
    a properly sized filter (here: generously sized, so zero on a small
    probe set)."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        bloom_member,
        bloom_store,
    )

    present = [f"url-{i}" for i in range(200)]
    df = spark.createDataFrame(
        [("a", u) for u in present], "g string, v string"
    )
    store = bloom_store(df, ["g"], "v", k=4, m_bits=16384)
    items = spark.createDataFrame(
        [("a", u) for u in present[:50]]
        + [("a", f"absent-{i}") for i in range(50)],
        "g string, v string",
    )
    got = {
        r.v: r.maybe_member
        for r in bloom_member(
            store, items, ["g"], "v", k=4, m_bits=16384
        ).collect()
    }
    assert all(got[u] for u in present[:50])  # no false negatives
    fp = sum(1 for i in range(50) if got[f"absent-{i}"])
    # 200 items in 16384 bits with k=4: theoretical FPR ~ 2e-5; even 1
    # hit in 50 probes would be ~3 sigma past the design rate
    assert fp == 0
    # an unknown GROUP is all-absent (left join finds no words)
    other = spark.createDataFrame([("zz", "url-0")], "g string, v string")
    assert bloom_member(
        store, other, ["g"], "v", k=4, m_bits=16384
    ).collect()[0].maybe_member is False


def test_bloom_append_advance_equivalence(spark, tmp_path):
    """Append-only like its siblings, PLUS replay-idempotent at the
    merge itself (OR absorbs duplicate history rows — HLL-class safety,
    not exact-counter-class)."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        bloom_member,
        bloom_store,
        compact_bloom_store,
    )

    b1 = spark.createDataFrame(
        [("a", "x"), ("a", "y")], "g string, v string"
    )
    b2 = spark.createDataFrame([("a", "z")], "g string, v string")
    path = str(tmp_path / "bloom_history")
    for b in (b1, b2, b2):  # b2 twice = a replayed batch
        bloom_store(b, ["g"], "v", k=3, m_bits=4096).write.mode(
            "append"
        ).parquet(path)

    history = spark.read.parquet(path)
    items = spark.createDataFrame(
        [("a", v) for v in ("x", "y", "z", "w")], "g string, v string"
    )

    def probe(store):
        return {
            r.v: r.maybe_member
            for r in bloom_member(
                store, items, ["g"], "v", k=3, m_bits=4096
            ).collect()
        }

    raw = probe(history)
    assert raw == {"x": True, "y": True, "z": True, "w": False}
    compacted = compact_bloom_store(history, ["g"])
    assert compacted.count() <= history.count()
    assert probe(compacted) == raw
    # one-shot over the union == merged history (OR associativity)
    oneshot = bloom_store(
        b1.unionByName(b2), ["g"], "v", k=3, m_bits=4096
    )
    assert probe(oneshot) == raw


def test_bottomk_sample_store_merge_equals_oneshot(spark):
    """Bottom-k of a union of per-batch bottom-ks IS the bottom-k of the
    union — the exact mergeable-sample algebra, deterministic across
    replays (a duplicated batch changes nothing)."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        _bottomk,
        bottomk_sample_store,
    )

    b1 = spark.createDataFrame(
        [("a", i, float(i % 50)) for i in range(300)],
        "g string, id long, v double",
    )
    b2 = spark.createDataFrame(
        [("a", 1000 + i, float(i % 90)) for i in range(300)],
        "g string, id long, v double",
    )
    k = 64
    batch1 = bottomk_sample_store(b1, ["g"], "id", "v", k=k)
    batch2 = bottomk_sample_store(b2, ["g"], "id", "v", k=k)
    merged = _bottomk(
        batch1.unionByName(batch2).unionByName(batch2),  # replayed batch 2
        ["g"],
        k,
    )
    oneshot = bottomk_sample_store(
        b1.unionByName(b2), ["g"], "id", "v", k=k
    )
    m = sorted((r["__hk"], r["value"]) for r in merged.collect())
    o = sorted((r["__hk"], r["value"]) for r in oneshot.collect())
    assert len(o) == k
    assert m == o


def test_bottomk_quantiles_track_exact(spark, tmp_path):
    """Sample quantiles from the append history land within the
    standard O(1/sqrt(k)) rank error of the exact quantiles."""
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.operators.sketches import (
        bottomk_sample_store,
        sample_quantiles,
    )

    n, k = 5000, 256
    df = spark.range(n).select(
        F.lit("a").alias("g"),
        F.col("id"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    path = str(tmp_path / "bk_history")
    for lo, hi in ((0, 2000), (2000, 5000)):
        batch = df.where((F.col("id") >= lo) & (F.col("id") < hi))
        bottomk_sample_store(batch, ["g"], "id", "v", k=k).write.mode(
            "append"
        ).parquet(path)

    history = spark.read.parquet(path)
    got = sample_quantiles(
        history, ["g"], [0.5, 0.9], k=k, out_cols=["p50", "p90"]
    ).collect()[0]
    # exact p50/p90 of (id % 1000 over 5000 rows) ≈ 499.5 / 899.x;
    # rank error ~ 2/sqrt(256) ≈ 12.5% → generous ±80 value tolerance
    assert abs(got["p50"] - 500) < 80
    assert abs(got["p90"] - 900) < 80


def test_bottomk_null_skip_and_out_cols_contract(spark):
    from evidence_datasource_parsers_spark.operators.sketches import (
        bottomk_sample_store,
        sample_quantiles,
    )
    import pytest

    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, None), ("a", 3, 7.0)],
        "g string, id long, v double",
    )
    store = bottomk_sample_store(df, ["g"], "id", "v", k=8)
    assert store.count() == 2  # NULL skipped
    with pytest.raises(ValueError, match="out_cols"):
        sample_quantiles(store, ["g"], [0.5], out_cols=["a", "b"])


def test_histogram_drift_properties(spark):
    """TV drift between histogram stores: 0 on identical distributions,
    1 on disjoint support, symmetric, hand-checkable, NULL when a side
    counted nothing, and raw append histories accepted."""
    from evidence_datasource_parsers_spark.operators.sketches import (
        histogram_drift,
        histogram_store,
    )

    edges = [10.0, 20.0]

    def store_of(vals, reps=1):
        df = spark.createDataFrame(
            [("a", float(v)) for v in vals], "g string, v double"
        )
        s = histogram_store(df, ["g"], "v", edges)
        for _ in range(reps - 1):
            s = s.unionByName(histogram_store(df, ["g"], "v", edges))
        return s

    lo = store_of([5, 5, 15])          # bins (2, 1, 0)
    hi = store_of([25, 25, 15])        # bins (0, 1, 2)
    same_scaled = store_of([5, 5, 15], reps=3)  # same distribution, 3x mass

    def tv(a, b):
        return histogram_drift(a, b, ["g"]).collect()[0]["tv_distance"]

    assert tv(lo, lo) == 0.0
    assert tv(lo, same_scaled) == 0.0  # mass-invariant (proportions)
    assert tv(store_of([5, 5]), store_of([25, 25])) == 1.0  # disjoint
    got = tv(lo, hi)
    assert abs(got - 2 / 3) < 1e-12  # |2/3-0|+|1/3-1/3|+|0-2/3| over 2
    assert got == tv(hi, lo)  # symmetric
    # zero-count side (all NULL values) → NULL, never NaN
    nulls = spark.createDataFrame(
        [("a", None)], "g string, v double"
    )
    zs = histogram_store(nulls, ["g"], "v", edges)
    assert histogram_drift(lo, zs, ["g"]).collect()[0]["tv_distance"] is None


def test_sketch_sql_twins_plan_equal_column_forms(spark):
    """The r13 SQL-string builders in the sketch family (cms/bloom/
    histogram/bottom-k — one py4j round trip per hot select instead of
    one per expression node) must generate the SAME optimized logical
    plan as the Column-API forms they replaced — identical plans cannot
    produce different values, so the oracle-replayed bucket arithmetic
    is unchanged by construction.  Each reconstruction below is the
    pre-r13 Column code, verbatim."""
    import re

    from pyspark.sql import Window

    from evidence_datasource_parsers_spark.functions.hashing import (
        portable_hash,
    )
    from evidence_datasource_parsers_spark.operators.sketches import (
        _bottomk,
        bloom_member,
        bloom_store,
        bottomk_sample_store,
        cms_estimate,
        cms_store,
        histogram_drift,
        histogram_merge_stores,
        histogram_store,
    )

    def _cms_bucket(value, d, width, salt):
        return (
            portable_hash(
                F.concat(value.cast("string"), F.lit(f":cms{d}:{salt}"))
            )
            % width
        ).cast("long")

    def _bloom_bit(value, d, m_bits, salt):
        return (
            portable_hash(
                F.concat(value.cast("string"), F.lit(f":bf{d}:{salt}"))
            )
            % m_bits
        ).cast("long")

    def canon(s):
        # expr ids, then the Column API's lambda-variable freshness
        # suffix (``lambda x_1`` vs SQL's ``lambda x`` — alpha-equivalent)
        s = re.sub(r"#\d+", "#", s)
        return re.sub(r"lambda ([A-Za-z]\w*?)_\d+#", r"lambda \1#", s)

    def opt(df):
        return canon(df._jdf.queryExecution().optimizedPlan().toString())

    def same(new, old):
        assert opt(new) == opt(old)
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )

    df = spark.createDataFrame(
        [("a", "x", 1, 10.0), ("a", "y", 2, 25.0), ("b", "x", 3, None),
         ("b", None, 4, 40.0), ("a", "x", 5, 55.5)],
        "g string, v string, id int, q double",
    )
    depth, width, k, m_bits = 4, 1024, 4, 1024
    edges = [10.0, 25.0, 40.0]

    # --- CMS build: explode(array(struct(__d, __bucket)…)) ---
    def cms_store_cols(d):
        v = F.col("v")
        cells = d.where(v.isNotNull()).select(
            "g",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).cast("long").alias("__d"),
                        _cms_bucket(v, i, width, "cms").alias("__bucket"),
                    )
                    for i in range(depth)
                ])
            ).alias("__cell"),
        )
        return cells.groupBy(
            "g", F.col("__cell.__d").alias("__d"),
            F.col("__cell.__bucket").alias("__bucket"),
        ).agg(F.count(F.lit(1)).alias("n"))

    same(cms_store(df, ["g"], "v"), cms_store_cols(df))

    # --- CMS probe ---
    store = cms_store(df, ["g"], "v")
    items = df.select("g", "v").where(F.col("v").isNotNull()).distinct()

    def cms_estimate_cols(st, it):
        it = it.dropDuplicates(["g", "v"])
        probes = it.select(
            "g",
            F.col("v"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).cast("long").alias("__d"),
                        _cms_bucket(F.col("v"), i, width, "cms")
                        .alias("__bucket"),
                    )
                    for i in range(depth)
                ])
            ).alias("__cell"),
        ).select(
            "g", "v",
            F.col("__cell.__d").alias("__d"),
            F.col("__cell.__bucket").alias("__bucket"),
        )
        joined = probes.join(st, on=["g", "__d", "__bucket"], how="left")
        per_depth = joined.groupBy("g", "v", "__d").agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("__cn")
        )
        return per_depth.groupBy("g", "v").agg(
            F.min("__cn").alias("est_count")
        )

    same(
        cms_estimate(store, items, ["g"], "v"),
        cms_estimate_cols(store, items),
    )

    # --- Bloom build ---
    def bloom_store_cols(d):
        v = F.col("v")
        bits = d.where(v.isNotNull()).select(
            "g",
            F.explode(
                F.array(*[
                    _bloom_bit(v, i, m_bits, "bloom") for i in range(k)
                ])
            ).alias("__bit"),
        )
        return (
            bits.select(
                "g",
                (F.col("__bit") / 64).cast("long").alias("__w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(__bit % 64 AS INT))"
                ).alias("__mask"),
            )
            .groupBy("g", "__w")
            .agg(F.bit_or("__mask").alias("bits"))
        )

    same(bloom_store(df, ["g"], "v", k=k, m_bits=m_bits), bloom_store_cols(df))

    # --- Bloom probe ---
    bstore = bloom_store(df, ["g"], "v", k=k, m_bits=m_bits)

    def bloom_member_cols(st, it):
        it = it.dropDuplicates(["g", "v"])
        probes = it.select(
            "g",
            F.col("v"),
            F.explode(
                F.array(*[
                    _bloom_bit(F.col("v"), i, m_bits, "bloom")
                    for i in range(k)
                ])
            ).alias("__bit"),
        ).select(
            "g", "v", "__bit",
            (F.col("__bit") / 64).cast("long").alias("__w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__bit % 64 AS INT))"
            ).alias("__mask"),
        )
        joined = probes.join(st, on=["g", "__w"], how="left")
        per_bit = joined.groupBy("g", "v", "__bit").agg(
            (
                F.bit_or(F.coalesce(F.col("bits"), F.lit(0)))
                .bitwiseAND(F.first("__mask"))
                != 0
            ).alias("__hit")
        )
        return per_bit.groupBy("g", "v").agg(
            F.bool_and("__hit").alias("maybe_member")
        )

    same(
        bloom_member(bstore, items, ["g"], "v", k=k, m_bits=m_bits),
        bloom_member_cols(bstore, items),
    )

    # --- Histogram build ---
    def histogram_store_cols(d):
        v = F.col("q").cast("double")
        e = F.array(*[F.lit(float(x)) for x in edges])
        bin_ = F.when(v.isNotNull(), F.size(F.filter(e, lambda x: x <= v)))
        n_bins = len(edges) + 1
        binned = d.withColumn("__bin", bin_)
        return binned.groupBy("g").agg(
            F.array(
                *[
                    F.sum(
                        F.when(F.col("__bin") == i, F.lit(1))
                        .otherwise(F.lit(0))
                    ).cast("long")
                    for i in range(n_bins)
                ]
            ).alias("counts")
        )

    same(histogram_store(df, ["g"], "q", edges), histogram_store_cols(df))

    # --- Histogram merge (transform tail) + drift ---
    h0 = histogram_store(df.where("id % 2 = 0"), ["g"], "q", edges)
    h1 = histogram_store(df.where("id % 2 = 1"), ["g"], "q", edges)

    def histogram_merge_cols(stores):
        unioned = stores[0]
        for s in stores[1:]:
            unioned = unioned.unionByName(s)
        exploded = unioned.select(
            "g", F.posexplode("counts").alias("__bin", "__c")
        )
        return (
            exploded.groupBy("g", "__bin")
            .agg(F.sum("__c").alias("__c"))
            .groupBy("g")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__bin", "__c"))
                ).alias("__bc")
            )
            .select(
                "g",
                F.transform(F.col("__bc"), lambda s: s["__c"])
                .alias("counts"),
            )
        )

    same(histogram_merge_stores([h0, h1], ["g"]), histogram_merge_cols([h0, h1]))

    def histogram_drift_cols(sa, sb):
        a = histogram_merge_cols([sa])
        b = histogram_merge_cols([sb]).select(
            "g", F.col("counts").alias("__cb")
        )
        zero = F.lit(0).cast("long")
        joined = (
            a.join(b, on=["g"])
            .withColumn(
                "__ta",
                F.aggregate("counts", zero, lambda acc, x: acc + x)
                .cast("double"),
            )
            .withColumn(
                "__tb",
                F.aggregate("__cb", zero, lambda acc, x: acc + x)
                .cast("double"),
            )
        )
        tv = F.aggregate(
            F.zip_with(
                "counts", "__cb",
                lambda x, y: F.abs(
                    x.cast("double") / F.col("__ta")
                    - y.cast("double") / F.col("__tb")
                ),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ) / F.lit(2.0)
        tv = F.when((F.col("__ta") > 0) & (F.col("__tb") > 0), tv)
        return joined.select("g", tv.alias("tv_distance"))

    same(histogram_drift(h0, h1, ["g"]), histogram_drift_cols(h0, h1))

    # --- Bottom-k build ---
    def bottomk_cols(d):
        v = F.col("q")
        rows = d.where(v.isNotNull()).select(
            "g",
            portable_hash(
                F.concat(F.col("id").cast("string"), F.lit(":bk"))
            ).alias("__hk"),
            v.alias("value"),
        )
        return _bottomk(rows, ["g"], 2)

    same(bottomk_sample_store(df, ["g"], "id", "q", k=2), bottomk_cols(df))
