"""Property tests for dedup + similarity operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.dedupe import (
    exact_dedupe,
    hamming_distance,
    lsh_candidate_pairs_from_buckets,
    lsh_fingerprints,
    minhash_signatures_exploded,
    simhash,
)
from evidence_datasource_parsers_spark.operators.similarity import (
    ann_lsh_topk_dual,
    brute_force_topk,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
    (4, "completely different content about spark engines and parquet"),
    (5, "THE  QUICK   brown fox jumps over the lazy dog"),  # normalizes to 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedupe_normalization(spark):
    out = exact_dedupe(_docs(spark), "text", "doc_id").collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in out}
    # 1, 2, 5 collapse (case/whitespace normalization); 3 and 4 stay
    assert by_id == {1: 3, 3: 1, 4: 1}


def test_minhash_identical_and_near(spark):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures_exploded(
            _docs(spark), "doc_id", "text", "sig", num_perm=16
        ).collect()
    }
    assert sigs[1] == sigs[2] == sigs[5]
    overlap_near = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 16
    overlap_far = sum(a == b for a, b in zip(sigs[1], sigs[4])) / 16
    assert overlap_near > overlap_far
    assert overlap_near >= 0.5  # one-word edit keeps most minima


def test_lsh_candidates_find_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs_from_buckets(
            lsh_fingerprints(_docs(spark), "text", "doc_id"), "doc_id"
        ).collect()
    }
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
    assert (1, 3) in pairs  # near-dup shares >= 1 band at 16/4 perms
    assert not any(4 in p for p in pairs)  # unrelated doc never a candidate


def test_simhash_hamming(spark):
    out = {
        r["doc_id"]: r["sh"]
        for r in _docs(spark)
        .select("doc_id", simhash("text", 16).alias("sh"))
        .collect()
    }
    df = _docs(spark).sparkSession.createDataFrame(
        [(out[1], out[3]), (out[1], out[4])], "a long, b long"
    )
    d_near, d_far = [
        r[0]
        for r in df.select(
            hamming_distance(F.col("a"), F.col("b"))
        ).collect()
    ]
    assert out[1] == out[2] == out[5]
    assert d_near < d_far


def test_brute_force_topk_selfsim(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = vecs.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = vecs.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    out = brute_force_topk(q, c, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert out[0]["cosine_sim"] > 0.99


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, c, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk_dual(q, c, dim=64, k=5, n_planes=2)
        .where(F.col("method") == "lsh")
        .collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN recall too low: {recall}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from evidence_datasource_parsers_spark.operators.ivf import (
        deterministic_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    centroids = deterministic_centroids(64, 8)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, c, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, c, centroids, k=5, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_cosine_kernel_bitwise_matches_expression_tree(spark):
    """The Arrow cosine kernel's numpy pairwise fold must replay the unrolled
    balanced-tree expression EXACTLY — this equality is what lets every
    kernel-scored query keep an exact value-hash oracle."""
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.operators.similarity import (
        cosine_pairs_udf,
        deterministic_planes,
    )

    def tree_sum(terms):
        while len(terms) > 1:
            terms = [
                terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
                for i in range(0, len(terms), 2)
            ]
        return terms[0]

    def dot(x, y):
        return tree_sum([F.element_at(x, i + 1) * F.element_at(y, i + 1)
                         for i in range(7)])

    vecs = deterministic_planes(7, 40)  # odd dim exercises the fold tail
    rows = [(vecs[i], vecs[i + 20]) for i in range(20)]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    a, b = F.col("a"), F.col("b")
    cos = dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
    tree = [r.c for r in df.select(cos.alias("c")).collect()]
    kern = [r.c for r in df.select(cosine_pairs_udf()(F.col("a"), F.col("b")).alias("c")).collect()]
    assert tree == kern  # bit-identical doubles, not approx


def test_pairwise_fold_matches_python_tree_fuzz():
    """pairwise_fold (the numpy kernel fold) must equal the scalar
    balanced-tree sum for ANY dim — driver-side property, no Spark.  This is
    the exact equality every kernel-scored oracle rests on, fuzzed across
    dims (odd tails, dim 1) and magnitudes where float addition order
    visibly matters."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from evidence_datasource_parsers_spark.operators.similarity import (
        pairwise_fold,
    )

    def tree_sum(terms):
        while len(terms) > 1:
            terms = [
                terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
                for i in range(0, len(terms), 2)
            ]
        return terms[0]

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e12, max_value=1e12,
                allow_nan=False, allow_infinity=False, width=64,
            ),
            min_size=1, max_size=97,
        )
    )
    def check(xs):
        got = float(pairwise_fold(np.asarray([xs], dtype=np.float64))[0])
        want = tree_sum(list(xs))
        assert got == want or (np.isnan(got) and np.isnan(want))

    check()


def test_duplicate_clusters_label_propagation(spark):
    """Chains, cliques, and disjoint pairs all collapse to min-id clusters;
    rerun-stable; singleton docs never appear."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),      # chain → cluster 1
            (10, 11), (11, 10),          # duplicate+reversed edge → cluster 10
            (20, 21), (21, 22), (20, 22) # triangle → cluster 20
        ],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }
    again = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert again == got


def test_duplicate_clusters_long_chain_converges(spark):
    """A 200-hop chain (templated-page worst case) converges inside the
    default 20-round cap — pointer doubling makes rounds O(log diameter),
    where hook-only propagation would need ~200 rounds and previously
    returned WRONG partial labels silently."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_duplicate_clusters_raises_when_not_converged(spark):
    import pytest as _pytest

    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iterations=2)


def test_duplicate_clusters_random_graph_matches_naive(spark):
    """Property check vs a driver-side union-find on a deterministic
    pseudo-random graph: identical components and min-id labels."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )

    # deterministic LCG edges over 120 nodes
    state, edges = 12345, []
    for _ in range(90):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = state % 120
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % 120
        if a != b:
            edges.append((a, b))

    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {v for e in edges for v in e}
    want = {v: find(v) for v in nodes}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == want


def test_duplicate_clusters_from_lsh_pairs(spark, sf_dir):
    """End-to-end dedup pipeline: LSH candidates → clusters.  Every clustered
    doc appears exactly once, and every cluster id is the min doc_id of its
    members."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = lsh_candidate_pairs_from_buckets(
        lsh_fingerprints(docs, "text", "doc_id", num_perm=16, bands=4),
        "doc_id",
    )
    clusters = duplicate_clusters(pairs)  # pair columns are id_a/id_b
    rows = clusters.collect()
    assert len(rows) == len({r.doc_id for r in rows})  # one row per doc
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    assert by_cluster, "LSH should find duplicate groups in the corpus"
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_blocked_cosine_pairs_salting_is_exact(spark):
    """A skewed block (one label ≫ cap) is salted into bounded sub-block
    groups, and the salted result is IDENTICAL (ids and bit-for-bit
    cosines) to the uncapped single-group run."""
    from evidence_datasource_parsers_spark.operators.similarity import (
        blocked_cosine_pairs,
    )

    # 90 vectors in one hot label + 10 in a small one; deterministic values
    rows = []
    for i in range(100):
        label = 0 if i < 90 else 1
        vec = [((i * 31 + d * 7) % 97) / 97.0 - 0.5 for d in range(8)]
        rows.append((i, label, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>"
    )

    def run(cap):
        out = blocked_cosine_pairs(
            df, "label", "vec_id", "v", threshold=0.2, max_block_rows=cap
        ).collect()
        return {(r.id_a, r.id_b, r.label): r.cosine_sim for r in out}

    uncapped = run(10**9)   # single group per label
    salted = run(16)        # hot label → 6 sub-blocks, 21 pair groups
    assert len(uncapped) > 50          # threshold actually selective
    assert salted == uncapped          # same pairs, bit-identical cosines

    # the cap genuinely bounds group size: every task group holds rows from
    # at most two sub-blocks of ≤ ceil(90/ceil(90/16)) rows-ish — assert via
    # the salted-plan row explosion instead of private internals
    n_groups = (
        blocked_cosine_pairs(
            df, "label", "vec_id", "v", threshold=0.2, max_block_rows=16
        )
        .select("label")
        .distinct()
        .count()
    )
    assert n_groups == 2  # both labels still produce output


def test_blocked_cosine_pairs_keeps_null_blocks(spark):
    """A NULL block key is a real block (upstream join misses produce
    them): its pairs must be scored, not silently dropped by a
    null-unsafe count join."""
    from evidence_datasource_parsers_spark.operators.similarity import (
        blocked_cosine_pairs,
    )

    rows = [
        (1, None, [1.0, 0.0]),
        (2, None, [1.0, 0.01]),
        (3, 7, [0.0, 1.0]),
        (4, 7, [0.01, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")
    out = blocked_cosine_pairs(df, "label", "vec_id", "v", threshold=0.9)
    got = {(r.id_a, r.id_b): r.label for r in out.collect()}
    assert (1, 2) in got and got[(1, 2)] is None
    assert (3, 4) in got and got[(3, 4)] == 7


def test_incremental_exact_dedupe_across_batches(spark):
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_exact_dedupe,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "ALPHA   text"), (3, "beta text")],
        "doc_id long, text string",
    )
    fresh1, store1, _ = incremental_exact_dedupe(
        b1, None, "text", "doc_id"
    )
    got1 = {r.doc_id for r in fresh1.collect()}
    assert got1 == {1, 3}  # 2 is an in-batch dup of 1 (normalization)
    assert store1.count() == 2

    b2 = spark.createDataFrame(
        [(10, "beta text"), (11, "gamma text"), (12, "gamma text")],
        "doc_id long, text string",
    )
    fresh2, store2, _ = incremental_exact_dedupe(
        b2, store1, "text", "doc_id"
    )
    got2 = {r.doc_id for r in fresh2.collect()}
    assert got2 == {11}  # 10 seen in batch 1; 12 in-batch dup of 11
    assert store2.count() == 3
    # replay of batch 2 against the updated store yields nothing new
    fresh3 = incremental_exact_dedupe(b2, store2, "text", "doc_id").fresh
    assert fresh3.count() == 0
    # payload columns survive on fresh rows
    assert set(fresh2.columns) == {"doc_id", "text"}


def test_incremental_exact_dedupe_null_text(spark):
    """NULL-text docs are one group (batch-parity) and do NOT leak as
    fresh in every subsequent batch."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_exact_dedupe,
    )

    b1 = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text")], "doc_id long, text string"
    )
    fresh1, store1, _ = incremental_exact_dedupe(
        b1, None, "text", "doc_id"
    )
    assert {r.doc_id for r in fresh1.collect()} == {1, 3}
    b2 = spark.createDataFrame([(10, None)], "doc_id long, text string")
    fresh2, store2, _ = incremental_exact_dedupe(
        b2, store1, "text", "doc_id"
    )
    assert fresh2.count() == 0          # NULL text already seen
    assert store2.count() == 2          # no NULL-row accumulation


def test_incremental_lsh_dedupe_recrawl(spark):
    """A one-word-changed re-crawl of a prior-batch doc is dropped; a
    genuinely new doc survives; an exact cross-batch copy is dropped."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    recrawl = base.replace("afternoon", "evening")  # one word changed
    novel = (
        "completely unrelated content about distributed query engines "
        "partitioning shuffle exchanges and adaptive execution plans"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, "some other original document body entirely")],
        "doc_id long, text string",
    )
    r1 = incremental_lsh_dedupe(
        b1, None, "text", "doc_id", mode="word", k=3
    )
    assert {r.doc_id for r in r1.fresh.collect()} == {1, 2}
    assert r1.store.count() == 2 * 4  # bands rows per doc
    r1.pinned.unpersist()

    b2 = spark.createDataFrame(
        [(10, recrawl), (11, novel), (12, base)],
        "doc_id long, text string",
    )
    r2 = incremental_lsh_dedupe(
        b2, r1.store, "text", "doc_id", mode="word", k=3
    )
    got = {r.doc_id for r in r2.fresh.collect()}
    assert got == {11}  # 10 = near-dup re-crawl, 12 = exact copy
    # store grew by exactly the survivor's fingerprint rows
    assert r2.store.count() == (2 + 1) * 4
    # replay idempotence: same batch against the updated store → nothing new
    r3 = incremental_lsh_dedupe(
        b2, r2.store, "text", "doc_id", mode="word", k=3
    )
    assert r3.fresh.count() == 0
    r2.pinned.unpersist()
    r3.pinned.unpersist()


def test_incremental_lsh_dedupe_null_and_within_batch(spark):
    """NULL-text docs collapse via the exact-hash sentinel (signatures of
    NULL text estimate Jaccard 0, so the hash leg must catch them), and
    in-batch exact dups collapse to the min id."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe,
    )

    b1 = spark.createDataFrame(
        [(1, None), (2, "real text here with several words")],
        "doc_id long, text string",
    )
    r1 = incremental_lsh_dedupe(b1, None, "text", "doc_id", mode="word", k=3)
    assert {r.doc_id for r in r1.fresh.collect()} == {1, 2}
    b2 = spark.createDataFrame(
        [(10, None), (11, None), (12, "brand new words never seen before")],
        "doc_id long, text string",
    )
    r2 = incremental_lsh_dedupe(
        b2, r1.store, "text", "doc_id", mode="word", k=3
    )
    assert {r.doc_id for r in r2.fresh.collect()} == {12}
    # no NULL-fingerprint accumulation: store holds rows for docs 1, 2, 12
    assert r2.store.select("doc_id").distinct().count() == 3
    r1.pinned.unpersist()
    r2.pinned.unpersist()


def test_estimated_jaccard_bounds(spark):
    """Identical signatures estimate 1.0; disjoint estimate 0.0."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        estimated_jaccard,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 2, 3, 4], [5, 6, 7, 8])],
        "a array<long>, b array<long>, c array<long>",
    )
    row = df.select(
        estimated_jaccard(F.col("a"), F.col("b"), 4).alias("same"),
        estimated_jaccard(F.col("a"), F.col("c"), 4).alias("diff"),
    ).first()
    assert row.same == 1.0 and row.diff == 0.0


def _py_combo_keys(sim: int, nbits: int, d: int, n_blocks: int):
    """Pure-Python twin of simhash_combo_keys for cross-checking."""
    from itertools import combinations

    base, rem = divmod(nbits, n_blocks)
    blocks, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        blocks.append((off, w))
        off += w
    keep = n_blocks - d
    out = []
    for ci, combo in enumerate(combinations(range(n_blocks), keep)):
        key, shift = 0, 0
        for b in combo:
            o, w = blocks[b]
            key += ((sim >> o) & ((1 << w) - 1)) << shift
            shift += w
        out.append((ci, key))
    return out


def test_simhash_combo_keys_match_python_and_pigeonhole(spark):
    """The Spark combo-key expression equals the pure-Python twin, and the
    pigeonhole property holds: every fingerprint pair with hamming <= d
    shares at least one (combo, key) — the candidate step loses nothing."""
    import random

    from evidence_datasource_parsers_spark.operators.dedupe import (
        simhash_combo_keys,
    )

    rng = random.Random(42)
    sims = [rng.getrandbits(32) for _ in range(64)]
    df = spark.createDataFrame([(s,) for s in sims], "sim long")
    rows = df.select(
        "sim", simhash_combo_keys(F.col("sim"), 32, 3, 6).alias("ks")
    ).collect()
    for r in rows:
        got = [(k.combo, k.key) for k in r.ks]
        assert got == _py_combo_keys(r.sim, 32, 3, 6)
    # pigeonhole: flip <= d random bits, some combo key must still match
    for s in sims:
        flipped = s
        for b in rng.sample(range(32), rng.randint(0, 3)):
            flipped ^= 1 << b
        ka = set(_py_combo_keys(s, 32, 3, 6))
        kb = set(_py_combo_keys(flipped, 32, 3, 6))
        assert ka & kb, f"pigeonhole violated for {s:#x} vs {flipped:#x}"


def test_incremental_simhash_dedupe_recrawl(spark):
    """A one-word-changed re-crawl (hamming 2 at 32 bits) is dropped; a
    genuinely new doc (hamming 8) survives; exact copies are dropped via
    the hash leg; the store grows by exactly the survivors."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    recrawl = base.replace("afternoon", "evening")
    novel = (
        "completely unrelated content about distributed query engines "
        "partitioning shuffle exchanges and adaptive execution plans "
        "with columnar storage formats and vectorized readers"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, "some other original document body entirely")],
        "doc_id long, text string",
    )
    r1 = incremental_simhash_dedupe(b1, None, "text", "doc_id")
    assert {r.doc_id for r in r1.fresh.collect()} == {1, 2}
    assert r1.store.count() == 2  # ONE row per doc, not bands rows
    r1.pinned.unpersist()

    b2 = spark.createDataFrame(
        [(10, recrawl), (11, novel), (12, base)],
        "doc_id long, text string",
    )
    r2 = incremental_simhash_dedupe(b2, r1.store, "text", "doc_id")
    assert {r.doc_id for r in r2.fresh.collect()} == {11}
    assert r2.store.count() == 3
    # replay idempotence: same batch against the updated store → nothing new
    r3 = incremental_simhash_dedupe(b2, r2.store, "text", "doc_id")
    assert r3.fresh.count() == 0
    r2.pinned.unpersist()
    r3.pinned.unpersist()


def test_incremental_simhash_dedupe_null_and_within_batch(spark):
    """NULL text collapses via the -1 exact-hash sentinel; in-batch exact
    dups keep the min id; invalid block config raises."""
    import pytest as _pytest

    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe,
        simhash_combo_keys,
    )

    b1 = spark.createDataFrame(
        [(1, None), (2, "real text here with several words"), (3, None)],
        "doc_id long, text string",
    )
    r1 = incremental_simhash_dedupe(b1, None, "text", "doc_id")
    assert {r.doc_id for r in r1.fresh.collect()} == {1, 2}  # 3 → in-batch dup
    b2 = spark.createDataFrame(
        [(10, None), (11, "brand new words never seen before anywhere")],
        "doc_id long, text string",
    )
    r2 = incremental_simhash_dedupe(b2, r1.store, "text", "doc_id")
    assert {r.doc_id for r in r2.fresh.collect()} == {11}
    assert r2.store.select("doc_id").distinct().count() == 3
    r1.pinned.unpersist()
    r2.pinned.unpersist()
    with _pytest.raises(ValueError, match="n_blocks"):
        simhash_combo_keys(F.lit(0), 32, 3, 3)


def test_incremental_dedupe_fingerprint_reuse_paths_agree(spark):
    """batch_fingerprints reuse must be result-identical to the recompute
    path, for both the LSH and SimHash incremental operators (same
    survivors, same store contents)."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe,
        incremental_simhash_dedupe,
        lsh_fingerprints,
        simhash_fingerprints,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    docs = [
        (1, base),
        (2, base.replace("afternoon", "evening")),  # near-dup of 1
        (3, "totally different content about shuffle exchanges and plans"),
        (4, base),  # exact dup of 1
        (5, "another unique document body mentioning adaptive execution"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    store_docs = d.filter(F.col("doc_id") <= 2)
    batch = d.filter(F.col("doc_id") >= 3)

    lsh_store = lsh_fingerprints(store_docs, "text", "doc_id", mode="word", k=3)
    a = incremental_lsh_dedupe(batch, lsh_store, "text", "doc_id",
                               mode="word", k=3)
    b = incremental_lsh_dedupe(
        batch, lsh_store, "text", "doc_id", mode="word", k=3,
        batch_fingerprints=lsh_fingerprints(
            batch, "text", "doc_id", mode="word", k=3
        ),
    )
    assert (
        {r.doc_id for r in a.fresh.collect()}
        == {r.doc_id for r in b.fresh.collect()}
    )
    key = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.band, r.key) for r in df.select(
            "doc_id", "band", "key").collect()
    )
    assert key(a.store) == key(b.store)
    a.pinned.unpersist(); b.pinned.unpersist()

    sh_store = simhash_fingerprints(store_docs, "text", "doc_id")
    c = incremental_simhash_dedupe(batch, sh_store, "text", "doc_id")
    e = incremental_simhash_dedupe(
        batch, sh_store, "text", "doc_id",
        batch_fingerprints=simhash_fingerprints(batch, "text", "doc_id"),
    )
    assert (
        {r.doc_id for r in c.fresh.collect()}
        == {r.doc_id for r in e.fresh.collect()}
    )
    skey = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.content_hash, r.simhash) for r in df.collect()
    )
    assert skey(c.store) == skey(e.store)
    c.pinned.unpersist(); e.pinned.unpersist()


def test_incremental_embedding_dedupe_reingest(spark):
    """A re-ingested near-identical vector (cosine ~1) is dropped; an
    orthogonal vector survives; the store grows by the survivors; replay
    is idempotent; a NULL vector passes through as fresh."""
    from evidence_datasource_parsers_spark.operators.similarity import (
        hyperplane_bucket_rows,
        incremental_embedding_dedupe,
    )

    dim = 8
    base = [1.0, 0.5, -0.25, 2.0, 0.0, 1.5, -1.0, 0.75]
    near = [v * 1.001 + (0.001 if i == 0 else 0) for i, v in enumerate(base)]
    ortho = [-0.5, 1.0, 2.0, 0.25, -1.5, 0.0, 1.0, -0.75]
    b1 = spark.createDataFrame(
        [(1, base), (2, ortho)], "vec_id long, v array<double>"
    )
    r1 = incremental_embedding_dedupe(b1, None, "v", "vec_id", dim=dim)
    assert {r.vec_id for r in r1.fresh.collect()} == {1, 2}
    assert r1.store.count() == 2
    r1.pinned.unpersist()

    novel = [0.1, -2.0, 0.3, 0.0, 1.1, -0.4, 0.9, 2.2]
    b2 = spark.createDataFrame(
        [(10, near), (11, novel), (12, base), (13, None)],
        "vec_id long, v array<double>",
    )
    r2 = incremental_embedding_dedupe(b2, r1.store, "v", "vec_id", dim=dim)
    got = {r.vec_id for r in r2.fresh.collect()}
    assert 10 not in got  # near re-ingest dropped (cosine ~1)
    assert 12 not in got  # exact copy dropped
    assert 11 in got and 13 in got  # novel + NULL-vector pass through
    r3 = incremental_embedding_dedupe(b2, r2.store, "v", "vec_id", dim=dim)
    fresh3 = {r.vec_id for r in r3.fresh.collect()}
    assert 11 not in fresh3  # replay: 11 is now in the store
    assert 13 in fresh3  # NULL vector can never be stored or matched
    r2.pinned.unpersist()
    r3.pinned.unpersist()

    # precomputed store bucket rows give identical results
    store_bk = hyperplane_bucket_rows(
        r1.store, "vec_id", "v", dim, 8, 4, "v"
    )
    r2b = incremental_embedding_dedupe(
        b2, r1.store, "v", "vec_id", dim=dim, store_bucket_rows=store_bk
    )
    assert {r.vec_id for r in r2b.fresh.collect()} == got
    r2b.pinned.unpersist()


def test_ivf_index_maintenance(spark):
    """Incremental IVF: batch appends assign against fixed centroids
    (existing rows never move), and search over the maintained index
    equals a from-scratch search over the combined corpus."""
    from evidence_datasource_parsers_spark.operators.ivf import (
        assign_cells,
        deterministic_centroids,
        ivf_topk,
    )

    dim, n_cells = 8, 4
    cents = deterministic_centroids(dim, n_cells)
    import random

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    b1, b2 = df.filter(F.col("vec_id") < 25), df.filter(F.col("vec_id") >= 25)

    idx1 = assign_cells(b1, cents).localCheckpoint(eager=True)
    idx2 = idx1.unionByName(assign_cells(b2, cents))
    # appended index ≡ from-scratch assignment of the union
    scratch = assign_cells(df, cents)
    assert sorted(
        (r.vec_id, r.cell) for r in idx2.collect()
    ) == sorted((r.vec_id, r.cell) for r in scratch.collect())
    # existing rows did not move
    first = {r.vec_id: r.cell for r in idx1.collect()}
    after = {r.vec_id: r.cell for r in idx2.collect()}
    assert all(after[k] == v for k, v in first.items())

    # search over the maintained index — probe against the same centroids
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_topk(
        queries,
        idx2.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding")),
        cents,
        k=3,
    )
    ref = ivf_topk(
        queries,
        df.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        cents,
        k=3,
    )
    assert sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in got.collect()
    ) == sorted((r.query_id, r.neighbor_id, r.rank) for r in ref.collect())


def test_ivf_topk_rejects_unassigned_corpus(spark):
    """A corpus_assigned frame without the index columns fails loudly,
    naming what is missing, instead of an analysis error deep in the join."""
    import pytest

    from evidence_datasource_parsers_spark.operators.ivf import (
        deterministic_centroids,
        ivf_topk,
    )

    cents = deterministic_centroids(4, 2)
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    unassigned = vecs.select(
        F.col("query_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    with pytest.raises(ValueError, match=r"\['__cell'\].*SAME centroids"):
        ivf_topk(vecs, None, cents, corpus_assigned=unassigned)

def test_multiprobe_lsh_recall_dominates_base(spark, sf_dir):
    """Multi-probe candidates are a superset of base candidates per query,
    so recall vs brute force can only improve; probe rows carry exactly
    1 + multiprobe buckets per (vector, table)."""
    from evidence_datasource_parsers_spark.operators.similarity import (
        brute_force_topk,
        hyperplane_bucket_rows,
        hyperplane_probe_rows,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base_rows = hyperplane_bucket_rows(
        queries, "query_id", "embedding", dim, 4, 2
    )
    probe_rows = hyperplane_probe_rows(
        queries, "query_id", "embedding", dim, 4, 2, multiprobe=2
    )
    b = {(r.query_id, r["__t"], r["__bucket"]) for r in base_rows.collect()}
    p = {(r.query_id, r["__t"], r["__bucket"]) for r in probe_rows.collect()}
    assert b <= p
    assert probe_rows.count() == 5 * 2 * 3  # (1 base + 2 probes) per table
    # multiprobe=0 probe rows ARE the base rows
    p0 = {
        (r.query_id, r["__t"], r["__bucket"])
        for r in hyperplane_probe_rows(
            queries, "query_id", "embedding", dim, 4, 2, multiprobe=0
        ).collect()
    }
    assert p0 == b

    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, corpus, k=5).collect()
    }

    legs = ann_lsh_topk_dual(
        queries, corpus, dim, k=5, n_planes=4, n_tables=2, multiprobe=2
    ).collect()

    def recall(method):
        got = {(r.query_id, r.neighbor_id) for r in legs
               if r.method == method}
        return len(got & truth) / len(truth)

    r0, r2 = recall("lsh"), recall("lsh_mp")
    assert r2 >= r0  # probe candidates are a superset — recall is monotone
    assert r2 >= 0.5  # measured 0.72 vs 0.24 base on the synthetic corpus
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiprobe"):
        hyperplane_probe_rows(
            queries, "query_id", "embedding", dim, 4, 2, multiprobe=9
        ).count()


def test_incremental_lsh_hot_bucket_cap(spark):
    """The enforced boilerplate guard: a store bucket stuffed with many
    rows contributes at most `cap` representatives to the candidate join,
    yet (a) near-dup re-crawls of a hot-bucket doc still drop, (b) exact
    re-crawls ALWAYS drop via the restored 8-byte-hash leg, and (c)
    genuinely new docs survive.  Uncapped and capped agree on this
    fixture end-to-end."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe,
    )

    # 60 stored docs sharing heavy boilerplate → shared band buckets
    boiler = "home about contact subscribe newsletter copyright terms "
    store_docs = spark.createDataFrame(
        [(i, boiler * 3 + f"unique article body number {i}")
         for i in range(60)],
        "doc_id long, text string",
    )
    r0 = incremental_lsh_dedupe(store_docs, None, "text", "doc_id",
                                mode="word", k=2)
    store = r0.store.localCheckpoint(eager=True)
    r0.pinned.unpersist()

    batch = spark.createDataFrame(
        [
            (100, boiler * 3 + "unique article body number 7"),   # exact
            (101, boiler * 3 + "unique article body number 7 !"), # near
            (102, "a completely different standalone text with no "
                  "boilerplate at all in it whatsoever"),          # new
        ],
        "doc_id long, text string",
    )
    for cap in (None, 3):
        r = incremental_lsh_dedupe(
            batch, store, "text", "doc_id",
            mode="word", k=2, threshold=0.5, hot_bucket_cap=cap,
        )
        fresh = {x["doc_id"] for x in r.fresh.collect()}
        assert fresh == {102}, f"cap={cap}: {fresh}"
        r.pinned.unpersist()


def test_estimated_jaccard_bounds_num_perm():
    """The unrolled estimator enforces its codegen-size bound (ADVICE
    r10): >64 terms risks Janino's 64KB method limit and a silent
    interpreted fallback."""
    import pytest
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.operators.dedupe import (
        estimated_jaccard,
    )

    estimated_jaccard(F.col("a"), F.col("b"), 64)  # boundary OK
    with pytest.raises(ValueError, match="64"):
        estimated_jaccard(F.col("a"), F.col("b"), 65)


def test_indexed_simhash_equals_classic(spark):
    """The KEY-INDEX store form must be batch-for-batch indistinguishable
    from the classic operator: same fresh ids, same retained documents,
    with the store holding C(6,3)=20 pre-exploded rows per doc instead of
    re-deriving them per probe."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_simhash_dedupe,
        incremental_simhash_dedupe_indexed,
        simhash_key_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun "
        "and distant birds sing quietly across the shaded garden path"
    )
    batches = [
        [(1, base), (2, "some other original document body entirely"),
         (3, None), (4, base)],                 # NULL text + exact twin
        [(10, base.replace("afternoon", "evening")),   # near re-crawl
         (11, "completely unrelated content about distributed query "
              "engines partitioning shuffle exchanges and plans"),
         (12, base)],                                   # exact re-crawl
        [(20, base.replace("afternoon", "evening")),    # replay of 10
         (21, "yet another genuinely novel body of text about nothing")],
    ]
    classic_store = None
    indexed_store = None
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        rc = incremental_simhash_dedupe(b, classic_store, "text", "doc_id")
        ri = incremental_simhash_dedupe_indexed(
            b, indexed_store, "text", "doc_id"
        )
        assert (
            {r.doc_id for r in rc.fresh.collect()}
            == {r.doc_id for r in ri.fresh.collect()}
        ), rows
        classic_store = rc.store.localCheckpoint(eager=True)
        indexed_store = ri.store.localCheckpoint(eager=True)
        rc.pinned.unpersist()
        ri.pinned.unpersist()
    # index cardinality: exactly C(6,3)=20 rows per retained doc, and the
    # retained doc set matches the classic store's
    assert indexed_store.count() == classic_store.count() * 20
    assert (
        {r.doc_id for r in indexed_store.select("doc_id").distinct().collect()}
        == {r.doc_id for r in classic_store.select("doc_id").collect()}
    )
    # the one-shot migration builder reproduces the carried index exactly
    migrated = simhash_key_index(
        classic_store, "doc_id", nbits=32, max_hamming=3, n_blocks=6
    )
    assert migrated.exceptAll(indexed_store).count() == 0
    assert indexed_store.exceptAll(migrated).count() == 0


def test_sql_string_builders_plan_equal_column_forms(spark):
    """The r13 SQL-string expression builders (one py4j round trip per
    select) must generate the SAME optimized logical plan as the Column-API
    forms they replaced — identical plans cannot produce different values.
    Covers minhash_bands_sql (the Column reconstruction below is the
    pre-r13 code, verbatim) and estimated_jaccard's column-name fast
    path."""
    import re

    from evidence_datasource_parsers_spark.operators.dedupe import (
        estimated_jaccard,
        minhash_bands_sql,
    )

    def minhash_bands(sig_col, num_perm, bands):
        rows_per_band = num_perm // bands
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_",
                        *[
                            F.element_at(sig_col, b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    ).alias("key"),
                )
                for b in range(bands)
            ]
        )

    canon = lambda s: re.sub(r"#\d+", "#", s)  # noqa: E731

    def opt(df):
        return canon(df._jdf.queryExecution().optimizedPlan().toString())

    sigs = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 9, 3, 4])], "a array<long>, b array<long>"
    )
    assert opt(
        sigs.select(estimated_jaccard("a", "b", 4).alias("j"))
    ) == opt(
        sigs.select(estimated_jaccard(F.col("a"), F.col("b"), 4).alias("j"))
    )

    banded_sql = sigs.selectExpr(f"{minhash_bands_sql('a', 4, 2)} AS bands")
    banded_col = sigs.select(minhash_bands(F.col("a"), 4, 2).alias("bands"))
    assert opt(banded_sql) == opt(banded_col)
    assert banded_sql.collect() == banded_col.collect()


def test_lsh_candidate_pairs_plan_is_join_free(spark):
    """r14 grouped-expansion shape: pair mining shuffles the bucket rows
    ONCE (group on (band, key)) — no self-join, no sort.  A reappearing
    join node would mean the two-full-shuffle SMJ regression returned."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        lsh_candidate_pairs_from_buckets,
    )

    b = spark.createDataFrame(
        [(1, 0, "k"), (2, 0, "k")], "doc_id long, band int, key string"
    )
    plan = (
        lsh_candidate_pairs_from_buckets(b, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 2  # group on (band,key) + distinct


def test_corpus_index_rows_matches_separate_kernels(spark):
    """r14 fused corpus kernel: LSH buckets and IVF cell from one Arrow
    pass must be bit-identical to hyperplane_bucket_rows and the IVF
    assignment kernel (same folds, same stable tie-break)."""
    from evidence_datasource_parsers_spark.operators.ivf import (
        assign_cells,
        deterministic_centroids,
    )
    from evidence_datasource_parsers_spark.operators.similarity import (
        corpus_index_rows,
        hyperplane_bucket_rows,
        index_rows_to_bucket_rows,
    )

    dim, n_planes, n_tables, n_cells = 16, 4, 3, 8
    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") % 17 == 0, F.lit(None).cast("array<double>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: F.sin(F.col("id") * i).cast("double"),
            )
        ).alias("embedding"),
    )
    cents = deterministic_centroids(dim, n_cells)
    idx = corpus_index_rows(
        vecs, "vec_id", "embedding", dim, n_planes, n_tables, cents
    )
    got_buckets = sorted(
        (r["vec_id"], r["__t"], r["__bucket"])
        for r in index_rows_to_bucket_rows(idx, "vec_id", n_tables).collect()
    )
    want_buckets = sorted(
        (r["vec_id"], r["__t"], r["__bucket"])
        for r in hyperplane_bucket_rows(
            vecs, "vec_id", "embedding", dim, n_planes, n_tables
        ).collect()
    )
    assert got_buckets == want_buckets and got_buckets
    got_cells = sorted(
        (r["vec_id"], r["__cell"])
        for r in idx.select("vec_id", "__cell").collect()
    )
    want_cells = sorted(
        (r.vec_id, r.cell)
        for r in assign_cells(
            vecs.where(F.col("embedding").isNotNull()),
            cents, "vec_id", "embedding",
        ).collect()
    )
    assert got_cells == want_cells and got_cells
