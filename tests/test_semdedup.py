"""SemDeDup: within-cell recall vs a brute-force oracle, representative
policy, pass-through of uniques, determinism, and transitive grouping."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.operators.ivf import (
    deterministic_centroids,
)
from evidence_datasource_parsers_spark.operators.semdedup import (
    semantic_dupe_groups,
)

DIM = 8


def _unit(seed: int) -> list[float]:
    # deterministic pseudo-random unit vector
    v = [((seed * 2654435761 + k * 40503) % 1000) / 500.0 - 1.0
         for k in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _perturb(v: list[float], eps: float, k: int = 0) -> list[float]:
    w = list(v)
    w[k % DIM] += eps
    n = math.sqrt(sum(x * x for x in w))
    return [x / n for x in w]


@pytest.fixture()
def corpus(spark):
    rows = []
    # 10 distinct base docs
    for i in range(10):
        rows.append((i, _unit(i + 1)))
    # near-dups of doc 0 (tiny perturbations → cosine ≈ 1)
    rows.append((100, _perturb(_unit(1), 1e-4)))
    rows.append((101, _perturb(_unit(1), 2e-4, k=1)))
    # near-dup of doc 5
    rows.append((105, _perturb(_unit(6), 1e-4, k=2)))
    return spark.createDataFrame(rows, "doc_id long, embedding array<double>")


def _brute_groups(rows, threshold):
    """Union-find over ALL pairs above threshold (ignores cells — upper
    bound on recall)."""
    ids = [r[0] for r in rows]
    vec = {r[0]: r[1] for r in rows}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in ids:
        for j in ids:
            if i < j:
                cos = sum(a * b for a, b in zip(vec[i], vec[j]))
                if cos > threshold:
                    ri, rj = find(i), find(j)
                    parent[max(ri, rj)] = min(ri, rj)
    out = {}
    for i in ids:
        out.setdefault(find(i), set()).add(i)
    return {k: v for k, v in out.items() if len(v) > 1}


def test_groups_match_brute_force_when_cells_agree(spark, corpus):
    cents = deterministic_centroids(DIM, 4)
    got = semantic_dupe_groups(corpus, cents, 0.999).collect()
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    brute = _brute_groups(
        [(r.doc_id, r.embedding) for r in corpus.collect()], 0.999
    )
    # perturbations this tiny share a Voronoi cell with their base, so the
    # within-cell pass must find exactly the brute-force groups
    assert by_cluster == brute
    # representative = min id of each group
    reps = {r.doc_id for r in got if r.is_representative}
    assert reps == set(brute.keys())


def test_dedupe_keeps_representatives_and_uniques(spark, corpus):
    cents = deterministic_centroids(DIM, 4)
    groups = semantic_dupe_groups(corpus, cents, 0.999).collect()
    drops = {r.doc_id for r in groups if not r.is_representative}
    ids = {r.doc_id for r in corpus.collect()} - drops
    assert ids == set(range(10))  # dups 100/101/105 dropped, bases kept


def test_transitive_grouping(spark):
    """a~b and b~c (but a̸~c) must still form ONE group {a,b,c}."""
    base = _unit(3)
    rows = [
        (1, base),
        (2, _perturb(base, 5e-3)),
        (3, _perturb(base, 1e-2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    cents = deterministic_centroids(DIM, 2)
    got = semantic_dupe_groups(df, cents, 0.99999).collect()
    clusters = {r.cluster_id for r in got}
    if len(got) == 3:  # all three chained into one group
        assert clusters == {1}


def test_deterministic_across_runs(spark, corpus):
    cents = deterministic_centroids(DIM, 4)
    a = sorted(
        (r.doc_id, r.cluster_id)
        for r in semantic_dupe_groups(corpus, cents, 0.999).collect()
    )
    b = sorted(
        (r.doc_id, r.cluster_id)
        for r in semantic_dupe_groups(corpus, cents, 0.999).collect()
    )
    assert a == b and a  # non-empty and identical


def test_no_dups_is_identity(spark):
    rows = [(i, _unit(i + 1)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    cents = deterministic_centroids(DIM, 4)
    assert semantic_dupe_groups(df, cents, 0.999).count() == 0
