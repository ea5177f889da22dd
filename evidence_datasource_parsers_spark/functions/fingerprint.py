"""Document fingerprinting: rolling k-gram hashes + winnowing.

The MOSS algorithm (Schleimer, Wilkerson, Aiken, "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003): hash every
character k-gram, slide a window of w consecutive hashes, keep each
window's minimum — the selected hashes are the document's fingerprint.
Guarantee: any substring match of length ≥ w + k − 1 shares at least one
fingerprint, so plagiarism/boilerplate overlap is detectable from
fingerprint sets ~2/(w+1) the size of the k-gram stream.

Two equivalent implementations (equality-tested): reference Column
expressions (kgram_hashes/winnow — for tiny fixtures and as executable
documentation of the arithmetic) and the Arrow-batched corpus kernel in
:func:`fingerprint_documents`.  The kernel exists because nested HOF
evaluation is interpreted AND re-inlines sub-expressions referenced
inside lambda bodies — projection boundaries protect plain column
references but NOT lambda-internal ones — making the expression forms
O(n²) per document (measured ~6 s per 300-char doc).

The hash is an explicit polynomial mod a 43-bit prime (every accumulator
step stays in exact long range) — engine-portable by construction (any
SQL engine can replay it; q35's oracle does), unlike xxhash/crc
built-ins.
"""

from __future__ import annotations

import pandas as _pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BASE = 257
MOD_SMALL = (1 << 43) - 57  # prime; 257·(MOD_SMALL−1)+255 < 2^52 — every
# accumulator step stays inside exact long range, so the polynomial is
# replayable bit-for-bit by any engine with 64-bit integers


def normalized_chars(text: Column | str) -> Column:
    """Character array of the lower-cased, whitespace-collapsed text —
    the staging column the k-gram pass must read (see kgram_hashes'
    warning)."""
    col = F.col(text) if isinstance(text, str) else text
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " ")
    )
    return F.split(norm, "")


def hashes_from_chars(chars: Column, k: int = 5) -> Column:
    """k-gram polynomial hashes from a PRE-MATERIALIZED char-array column.

    Fixture-scale only: even with ``chars`` staged as a column, the
    downstream winnow's lambda-internal references re-inline THIS
    function's transform per window (projection boundaries do not reach
    inside lambdas) — corpus runs go through the Arrow kernel in
    :func:`fingerprint_documents`.
    """
    n = F.size(chars)
    mod = F.lit(MOD_SMALL)
    starts = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda i: F.aggregate(
            F.slice(chars, i, k),
            F.lit(0).cast("long"),
            lambda acc, c: F.pmod(
                acc * F.lit(BASE) + F.ascii(c).cast("long"), mod
            ),
        ),
    )


def kgram_hashes(text: Column | str, k: int = 5) -> Column:
    """array<long> of polynomial hashes of each character k-gram of the
    lower-cased text (whitespace collapsed first so formatting changes
    don't shift every gram).  Shorter-than-k (or NULL) text → empty array.

    h(gram) = Σ code(c_j)·BASE^(k−1−j) mod MOD_SMALL, accumulated as
    ((acc·BASE) + code) mod MOD_SMALL per character.

    WARNING — O(n²) per document under interpreted HOF evaluation (see
    module docstring); fixture-scale only.  Corpus runs use
    :func:`fingerprint_documents`.
    """
    return hashes_from_chars(normalized_chars(text), k)


def winnow(hashes: Column, w: int = 4) -> Column:
    """Winnowing selection: sorted distinct minima of every length-``w``
    window over the k-gram hash array.  Arrays shorter than ``w`` (but
    non-empty) contribute their global min, so short docs still
    fingerprint; empty arrays → empty fingerprint."""
    n = F.size(hashes)
    starts = F.when(
        n >= w, F.sequence(F.lit(1), n - (w - 1))
    ).otherwise(
        F.when(n > 0, F.sequence(F.lit(1), F.lit(1))).otherwise(
            F.array().cast("array<int>")
        )
    )
    mins = F.transform(
        starts,
        lambda i: F.array_min(F.slice(hashes, i, F.least(F.lit(w), n))),
    )
    return F.array_sort(F.array_distinct(mins))


def document_fingerprints(
    text: Column | str, k: int = 5, w: int = 4
) -> Column:
    """The document's winnowed fingerprint set (array<long>, sorted) as a
    single Column expression.

    WARNING — O(n²·k) per document under interpreted HOF evaluation
    (~300 s for 50 mid-sized docs; see module docstring); fixture-scale
    only.  Corpus runs use :func:`fingerprint_documents`."""
    return winnow(kgram_hashes(text, k), w)


def fingerprint_overlap(a: Column, b: Column) -> Column:
    """Jaccard similarity of two fingerprint arrays (0.0 when both
    empty — two empty docs are NOT evidence of shared content)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def shared_fingerprint_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Cross-document shared-content candidates: (id_a, id_b, n_shared)
    for every pair sharing ≥ ``min_shared`` winnowed fingerprints.

    The inverted-index shape: explode fingerprints, self-join on the hash
    (shuffle key = the 43-bit hash — uniform), count per pair.  By the
    winnowing guarantee a shared run of ≥ w+k−1 characters WILL collide
    here, so this finds copied passages that word-level shingles
    miss under reflowing/punctuation edits.  Ubiquitous
    boilerplate hashes fan out quadratically — at corpus scale drop
    hashes with document-frequency above a cap first (the same heavy-
    hitter guard as every inverted index); ``max_doc_freq`` is that cap.
    """
    fps = fingerprint_documents(df, text_col, id_col, k, w)
    inv = fps.select(
        F.col(id_col), F.explode("fingerprints").alias("__h")
    )
    # heavy-hitter guard: a hash present in a large fraction of docs is
    # boilerplate, not evidence — joining it would be quadratic
    freq = inv.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__df")
    ).where(F.col("__df") <= max_doc_freq)
    inv = inv.join(freq.select("__h"), on="__h")
    a = inv.withColumnRenamed(id_col, "id_a")
    b = inv.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, on="__h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def fingerprint_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Corpus pass: ``(id_col, fingerprints)`` via an Arrow-batched
    kernel replaying the identical integer arithmetic (exact Python ints,
    same polynomial, same window minima — q35's oracle hash proves the
    equivalence per run).

    Why a kernel and not the Column expressions: nested HOF evaluation is
    interpreted AND re-inlines sub-expressions referenced inside lambdas
    (projection boundaries do NOT protect lambda-internal references, the
    way they do plain column references) — measured O(n²) blowup: ~6 s
    per 300-char document, vs microseconds here.  The same lesson as the
    ANN cosine kernels, one layer deeper.  Explode ``out_col`` and group
    by hash to find cross-document shared regions at character
    granularity."""
    import re

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _kernel(s: _pd.Series) -> _pd.Series:
        def one(v):
            norm = re.sub(r"\s+", " ", (v or "").lower()).strip()
            n = len(norm)
            if n < k:
                return []
            hs = []
            for i in range(n - k + 1):
                h = 0
                for c in norm[i : i + k]:
                    h = (h * BASE + ord(c)) % MOD_SMALL
                hs.append(h)
            if len(hs) < w:
                return sorted({min(hs)})
            return sorted(
                {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
            )

        return s.map(one)

    return df.select(
        F.col(id_col), _kernel(F.col(text_col)).alias(out_col)
    )
