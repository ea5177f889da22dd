"""Hashing-trick linear quality scoring for text corpora.

The standard cheap quality model over web text (fastText-style linear
classifier, Dolma/CCNet-style quality buckets) is a dot product between a
bag-of-tokens feature vector and a learned weight vector, with the vocabulary
collapsed into ``n_buckets`` hash buckets (the "hashing trick") so the model
is a fixed-size array instead of an unbounded vocabulary.

Each token maps to ``bucket = portable_hash(token:salt) % n_buckets`` and
an integer weight derived from the bucket; q29's lexical-score leg sums
the weights per document as a pure column expression (zero shuffle, zero
state, codegen-friendly) and its oracle replays the same arithmetic.

Determinism contract: accumulation is INTEGER until one final division
(integer-ratio doubles are IEEE-exact and engine-portable); never sum
floating-point weights in data-dependent order.

The built-in weight family is a deterministic PLACEHOLDER (a Knuth
multiplicative mix of the bucket id, centered on zero) standing in for
trained weights — the hashing and aggregation are the real thing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.hashing import portable_hash

# Knuth multiplicative constant; bucket * KNUTH stays < 2^44 for any
# realistic n_buckets, far inside int64.
KNUTH = 2654435761
# weights are integers in [-WEIGHT_SCALE, WEIGHT_SCALE]
WEIGHT_SCALE = 1000


def token_bucket(
    token: Column, n_buckets: int, salt: str = "quality"
) -> Column:
    """Hashing-trick feature bucket of a token (portable across engines)."""
    return (
        portable_hash(F.concat(token, F.lit(f":{salt}"))) % n_buckets
    ).cast("long")


def placeholder_weight(bucket: Column) -> Column:
    """Deterministic stand-in weight for a bucket: integer in
    [-{WEIGHT_SCALE}, {WEIGHT_SCALE}], uncorrelated with the bucket id."""
    return (bucket * KNUTH) % (2 * WEIGHT_SCALE + 1) - WEIGHT_SCALE
