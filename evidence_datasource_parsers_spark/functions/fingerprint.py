"""Document fingerprinting: rolling k-gram hashes + winnowing.

The MOSS algorithm (Schleimer, Wilkerson, Aiken, "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003): hash every
character k-gram, slide a window of w consecutive hashes, keep each
window's minimum — the selected hashes are the document's fingerprint.
Guarantee: any substring match of length ≥ w + k − 1 shares at least one
fingerprint, so plagiarism/boilerplate overlap is detectable from
fingerprint sets ~2/(w+1) the size of the k-gram stream.

One implementation: the Arrow-batched corpus kernel
:func:`fingerprint_documents`.  The Column-expression form it replaced
was O(n²) per document: nested HOF evaluation is interpreted AND
re-inlines sub-expressions referenced inside lambda bodies — projection
boundaries protect plain column references but NOT lambda-internal ones
(measured ~6 s per 300-char doc).

The hash is an explicit polynomial mod a 43-bit prime (every accumulator
step stays in exact long range) — engine-portable by construction (any
SQL engine can replay it; q35's oracle does), unlike xxhash/crc
built-ins.
"""

from __future__ import annotations

import pandas as _pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BASE = 257
MOD_SMALL = (1 << 43) - 57  # prime; 257·(MOD_SMALL−1)+255 < 2^52 — every
# accumulator step stays inside exact long range, so the polynomial is
# replayable bit-for-bit by any engine with 64-bit integers


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
