"""Deterministic sampling operators: exact reproducibility, rate accuracy,
stratification, and the per-key reservoir bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.sampling import (
    hash_sample,
    reservoir_per_key,
    stratified_hash_sample,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_hash_sample_deterministic_and_calibrated(spark, sf_dir):
    d = _docs(spark, sf_dir)
    total = d.count()
    s1 = hash_sample(d, "doc_id", 0.2).select("doc_id").collect()
    s2 = hash_sample(d, "doc_id", 0.2).select("doc_id").collect()
    assert sorted(s1) == sorted(s2)  # rerun-stable, not rand()
    # Bernoulli(0.2) over ≥500 keys: observed rate within ±7 pp
    assert abs(len(s1) / total - 0.2) < 0.07


def test_hash_sample_nested_fractions(spark, sf_dir):
    """A smaller fraction with the same salt selects a SUBSET of a larger
    one (prefix property) — lets a pipeline grow a sample without
    reshuffling which documents are in it."""
    d = _docs(spark, sf_dir)
    small = {r.doc_id for r in hash_sample(d, "doc_id", 0.1).collect()}
    big = {r.doc_id for r in hash_sample(d, "doc_id", 0.3).collect()}
    assert small <= big


def test_hash_sample_salt_independence(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = {r.doc_id for r in hash_sample(d, "doc_id", 0.5, salt="a").collect()}
    b = {r.doc_id for r in hash_sample(d, "doc_id", 0.5, salt="b").collect()}
    n = d.count()
    # independent halves overlap in ~25% of the corpus, not ~50%
    assert abs(len(a & b) / n - 0.25) < 0.08


def test_stratified_rates(spark, sf_dir):
    d = _docs(spark, sf_dir)
    langs = [r.lang for r in d.select("lang").distinct().collect()]
    keep_all, keep_tenth = langs[0], langs[1]
    out = stratified_hash_sample(
        d, "lang", "doc_id", {keep_all: 1.0, keep_tenth: 0.1}
    )
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    base = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts[keep_all] == base[keep_all]  # fraction 1.0 keeps everything
    assert counts.get(keep_tenth, 0) < base[keep_tenth] * 0.35
    for other in langs[2:]:  # default fraction 0.0 drops the rest
        assert other not in counts


def test_reservoir_per_key_bound_and_determinism(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = reservoir_per_key(d, "lang", k=7, id_col="doc_id")
    per_key = out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    assert per_key and all(r.n <= 7 for r in per_key)
    # keys with ≥7 docs fill the reservoir exactly
    big = {r.lang for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect() if r.n >= 7}
    got = {r.lang: r.n for r in per_key}
    assert all(got[lang] == 7 for lang in big)
    a = sorted(map(str, out.collect()))
    b = sorted(map(str, reservoir_per_key(d, "lang", k=7, id_col="doc_id").collect()))
    assert a == b


def test_fraction_validation():
    with pytest.raises(ValueError):
        hash_sample(None, "x", 1.5)
    with pytest.raises(ValueError):
        stratified_hash_sample(None, "s", "x", {"a": -0.1})
    with pytest.raises(ValueError):
        reservoir_per_key(None, "s", 0, "x")


def test_mixture_fractions_limiting_domain(spark):
    """The scarcest domain (relative to target) is kept whole; others
    downsample so the OUTPUT proportions hit the target exactly."""
    from evidence_datasource_parsers_spark.operators.sampling import (
        mixture_fractions,
    )

    rows = (
        [(f"w{i}", "web") for i in range(900)]
        + [(f"c{i}", "code") for i in range(50)]
        + [(f"b{i}", "books") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id string, domain string")
    # target 60/30/10: code is scarcest (50 avail vs 30% target)
    fr = mixture_fractions(df, "domain", {"web": 0.6, "code": 0.3, "books": 0.1})
    assert fr["code"] == 1.0
    # scale = 50/0.3 → web target 100 of 900, books ~16.7 of 50
    assert fr["web"] == pytest.approx(100 / 900)
    assert fr["books"] == pytest.approx(50 / 3 / 50)

    with pytest.raises(ValueError, match="no rows available"):
        mixture_fractions(df, "domain", {"web": 1.0, "video": 1.0})


def test_domain_mixture_sample_hits_target_and_is_deterministic(spark):
    from evidence_datasource_parsers_spark.operators.sampling import (
        domain_mixture_sample,
    )

    rows = (
        [(f"w{i}", "web") for i in range(2000)]
        + [(f"c{i}", "code") for i in range(200)]
    )
    df = spark.createDataFrame(rows, "doc_id string, domain string")
    out = domain_mixture_sample(df, "domain", "doc_id", {"web": 0.5, "code": 0.5})
    counts = {r["domain"]: r["n"] for r in out.groupBy("domain").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert counts["code"] == 200            # limiting domain kept whole
    # web downsampled to ≈200 (hash Bernoulli: ±5σ tolerance)
    assert abs(counts["web"] - 200) < 5 * (200 ** 0.5)
    # deterministic: a second run picks the identical rows
    a = {r["doc_id"] for r in out.collect()}
    b = {
        r["doc_id"]
        for r in domain_mixture_sample(
            df, "domain", "doc_id", {"web": 0.5, "code": 0.5}
        ).collect()
    }
    assert a == b


def test_corpus_profile_global_and_grouped(spark, sf_dir):
    from evidence_datasource_parsers_spark.operators.profiling import (
        corpus_profile,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = corpus_profile(docs).collect()[0]
    assert g["n_docs"] == docs.count()
    assert g["total_tokens"] > 0 and g["total_chars"] >= g["total_tokens"]
    assert len(g["chars_p50_p90_p99"]) == 3
    assert 0 < g["approx_distinct_docs"] <= g["n_docs"] * 1.1

    by_lang = {r["lang"]: r for r in corpus_profile(docs, group_col="lang").collect()}
    assert sum(r["n_docs"] for r in by_lang.values()) == g["n_docs"]


def test_key_skew_report_flags_hot_key(spark):
    from evidence_datasource_parsers_spark.operators.profiling import (
        key_skew_report,
    )

    rows = [(i, "hot" if i % 10 else f"cold{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, k string")
    rep = key_skew_report(df, "k", top_n=5).collect()
    assert rep[0]["k"] == "hot" and rep[0]["rows"] == 900
    assert rep[0]["share"] == pytest.approx(0.9)
    # 101 keys, mean ≈ 9.9 rows/key, max 900 → ratio ≈ 90.9
    assert rep[0]["skew_ratio"] == pytest.approx(900 * 101 / 1000)
    assert all(r["skew_ratio"] == rep[0]["skew_ratio"] for r in rep)


def test_leakage_safe_split_keeps_clusters_together(spark):
    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )
    from evidence_datasource_parsers_spark.operators.sampling import (
        leakage_safe_split,
        split_assign,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(300)], "doc_id long, text string"
    )
    # 50 near-dup pairs (0,1), (6,7), ... → 50 clusters of 2
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 300, 6)], "id_a long, id_b long"
    )
    clusters = duplicate_clusters(pairs)
    out = leakage_safe_split(corpus, clusters, splits={"train": 0.7, "val": 0.3})
    rows = {r.doc_id: r.split for r in out.collect()}
    assert len(rows) == 300
    # every pair member shares its split — zero leakage
    for a in range(0, 300, 6):
        assert rows[a] == rows[a + 1], (a, rows[a], rows[a + 1])
    # proportions roughly honored (300 docs, binomial tolerance)
    n_train = sum(1 for s in rows.values() if s == "train")
    assert 0.6 < n_train / 300 < 0.8
    # determinism + fraction validation
    again = {r.doc_id: r.split for r in leakage_safe_split(
        corpus, clusters, splits={"train": 0.7, "val": 0.3}).collect()}
    assert again == rows
    import pytest as _pytest
    with _pytest.raises(ValueError, match="must sum to 1"):
        split_assign(corpus, "doc_id", {"a": 0.5, "b": 0.2})


def test_assign_shards_deterministic_and_balanced(spark):
    """Shard assignment + within-shard order are pure functions of the id
    set: identical under repartitioning, roughly balanced, positions are
    1..n_k per shard with no gaps."""
    from evidence_datasource_parsers_spark.operators.sharding import (
        assign_shards,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)], "doc_id long, text string"
    )
    a = assign_shards(df, "doc_id", 8)
    got = {(r.doc_id): (r.shard, r.shard_pos) for r in a.collect()}
    again = {
        (r.doc_id): (r.shard, r.shard_pos)
        for r in assign_shards(df.repartition(13), "doc_id", 8).collect()
    }
    assert got == again  # topology-free
    by_shard = {}
    for sh, pos in got.values():
        by_shard.setdefault(sh, []).append(pos)
    assert set(by_shard) == set(range(8))
    for sh, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense 1..n
        assert 20 <= len(poss) <= 80  # 400/8 = 50 ± binomial noise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="num_shards"):
        assign_shards(df, "doc_id", 0)


def test_quality_binned_sample_fractions_and_bins(spark):
    from evidence_datasource_parsers_spark.operators.sampling import (
        quality_binned_sample,
    )

    rows = [(i, float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    # keep nothing from the bottom two thirds, everything from the top
    kept = quality_binned_sample(df, "score", "doc_id", [0.0, 0.0, 1.0])
    ids = sorted(r.doc_id for r in kept.collect())
    assert len(ids) >= 90  # top third (approx quantile edges wobble a bit)
    assert min(ids) >= 190
    assert {r.quality_bin for r in kept.collect()} == {2}

    # middle fraction ~0.5 keeps roughly half of its bin, deterministically
    half = quality_binned_sample(df, "score", "doc_id", [0.0, 0.5, 0.0])
    a = sorted(r.doc_id for r in half.collect())
    b = sorted(r.doc_id for r in
               quality_binned_sample(
                   df.repartition(7), "score", "doc_id", [0.0, 0.5, 0.0]
               ).collect())
    assert a == b
    assert 20 <= len(a) <= 80  # ~50 of ~100


def test_quality_binned_sample_null_scores_land_in_bin0(spark):
    from evidence_datasource_parsers_spark.operators.sampling import (
        quality_binned_sample,
    )

    df = spark.createDataFrame(
        [(1, None), (2, 100.0), (3, 200.0), (4, 300.0), (5, 400.0)],
        "doc_id long, score double",
    )
    kept = quality_binned_sample(df, "score", "doc_id", [1.0, 0.0])
    got = {r.doc_id: r.quality_bin for r in kept.collect()}
    assert 1 in got and got[1] == 0  # null rides the most-downsampled tier

    with pytest.raises(ValueError, match="at least 2"):
        quality_binned_sample(df, "score", "doc_id", [1.0])
    with pytest.raises(ValueError, match="fractions"):
        quality_binned_sample(df, "score", "doc_id", [0.5, 1.5])


def test_quality_bins_salt_independence(spark):
    from evidence_datasource_parsers_spark.operators.sampling import (
        quality_binned_sample,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(400)], "doc_id long, score double"
    )
    a = {r.doc_id for r in quality_binned_sample(
        df, "score", "doc_id", [0.5, 0.5], salt="s1").collect()}
    b = {r.doc_id for r in quality_binned_sample(
        df, "score", "doc_id", [0.5, 0.5], salt="s2").collect()}
    # two salts draw ~independent halves: overlap near 25% of corpus,
    # nowhere near identical or disjoint
    inter = len(a & b)
    assert 40 < inter < 160
    assert a != b


def test_shard_assignment_append_stable(spark):
    """Growing the corpus must never move an EXISTING doc's shard (shard
    is a pure hash of the id); within-shard positions may shift."""
    from evidence_datasource_parsers_spark.operators.sharding import (
        assign_shards,
    )

    base = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    )
    grown = spark.createDataFrame(
        [(i,) for i in range(150)], "doc_id long"
    )
    s1 = {r.doc_id: r.shard for r in
          assign_shards(base, "doc_id", 8).collect()}
    s2 = {r.doc_id: r.shard for r in
          assign_shards(grown, "doc_id", 8).collect()}
    assert all(s2[d] == s for d, s in s1.items())


def test_temporal_split(spark):
    import datetime

    from evidence_datasource_parsers_spark.operators.sampling import (
        temporal_split,
    )

    d = datetime.datetime
    df = spark.createDataFrame(
        [
            (1, d(2023, 12, 31)), (2, d(2024, 1, 1)),  # boundary → NEXT split
            (3, d(2024, 1, 15)), (4, d(2024, 3, 1)), (5, None),
        ],
        "doc_id long, ts timestamp",
    )
    got = {r.doc_id: r.split for r in temporal_split(
        df, "ts",
        [("train", "2024-01-01"), ("val", "2024-02-01"), ("test", None)],
    ).collect()}
    assert got == {1: "train", 2: "val", 3: "val", 4: "test", 5: None}

    with pytest.raises(ValueError, match="catch-all"):
        temporal_split(df, "ts", [("train", "2024-01-01")])


def test_quality_binned_sample_degenerate_scores(spark):
    """All-NULL score column (ADVICE r4): percentile_approx yields NULL
    edges, size(filter(NULL)) is -1 under legacy sizeOfNull — rows must
    fall into bin 0 as the docstring promises, not crash element_at."""
    from evidence_datasource_parsers_spark.operators.sampling import (
        quality_binned_sample,
    )
    from pyspark.sql import functions as F

    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.lit(None).cast("double").alias("score"),
    )
    kept = quality_binned_sample(df, "score", "doc_id", [1.0, 0.0, 0.0])
    rows = kept.collect()
    assert len(rows) == 20  # bin 0 fraction 1.0 keeps everything
    assert all(r["quality_bin"] == 0 for r in rows)
    # and the inverse: bin-0 fraction 0 keeps nothing
    assert (
        quality_binned_sample(df, "score", "doc_id", [0.0, 1.0, 1.0]).count()
        == 0
    )


def test_weighted_hash_sample_determinism_and_rates(spark):
    """The soft-dedup weight consumer: keep-probability scales with the
    weight column, the decision is a pure function of (key, salt), and
    NULL weights count as 1."""
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.operators.sampling import (
        weighted_hash_sample,
    )

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit(1.0))
        .otherwise(F.lit(0.25))
        .alias("sample_weight"),
    )
    out = weighted_hash_sample(df, "doc_id", 0.4)
    rows = out.collect()
    # determinism: identical plan → identical sample
    again = {r["doc_id"] for r in weighted_hash_sample(df, "doc_id", 0.4).collect()}
    assert {r["doc_id"] for r in rows} == again
    heavy = sum(1 for r in rows if r["sample_weight"] == 1.0)
    light = sum(1 for r in rows if r["sample_weight"] == 0.25)
    # expected keep rates 0.4 and 0.1 over 10k rows each (±3σ)
    assert abs(heavy / (n / 2) - 0.4) < 0.02
    assert abs(light / (n / 2) - 0.1) < 0.015
    # weight > 1/fraction clamps at keep-everything
    boosted = df.withColumn("sample_weight", F.lit(100.0))
    assert weighted_hash_sample(boosted, "doc_id", 0.4).count() == n
    # NULL weight behaves as weight 1
    nw = df.withColumn("sample_weight", F.lit(None).cast("double"))
    base = weighted_hash_sample(nw, "doc_id", 0.4).count()
    assert abs(base / n - 0.4) < 0.02


def test_weighted_sample_neutralizes_duplicate_mass(spark):
    """With 1/n duplicate weights (each exact-duplicate cluster of n docs
    weighs 1/n per doc), a 500x-duplicated boilerplate cluster contributes
    ~one document's expectation, same as a singleton."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.operators.dedupe import (
        content_hash,
    )
    from evidence_datasource_parsers_spark.operators.sampling import (
        weighted_hash_sample,
    )

    rows = [(i, "the same boilerplate page body") for i in range(500)]
    rows += [(1000 + i, f"unique document number {i}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cluster = Window.partitionBy(content_hash("text"))
    weighted = df.withColumn(
        "sample_weight", 1.0 / F.count(F.lit(1)).over(cluster)
    )
    out = weighted_hash_sample(weighted, "doc_id", 0.5)
    dup_kept = out.where(F.col("doc_id") < 1000).count()
    uniq_kept = out.where(F.col("doc_id") >= 1000).count()
    # boilerplate cluster: 500 docs × (0.5/500) ≈ 0.5 expected keeps
    assert dup_kept <= 5
    assert abs(uniq_kept / 500 - 0.5) < 0.07
