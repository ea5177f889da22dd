"""Portable deterministic hashing, shared with the DuckDB oracle.

The correctness gate compares Spark output against DuckDB SQL, so hash-based
operators (exact dedup, MinHash, SimHash, fingerprinting) must use a hash BOTH
engines compute identically.  Spark's ``hash``/``xxhash64`` and DuckDB's
``hash`` are different algorithms, so we standardize on the md5 hex digest:

    portable_hash(s) = int(md5(s)[0:15], 16)        # 60 bits, always >= 0

Spark:   ``conv(substring(md5(s), 1, 15), 16, 10)`` cast to long
DuckDB:  ``('0x' || substr(md5(s), 1, 15))::BIGINT``

60 bits fits a signed int64 with headroom for the modular arithmetic used by
the MinHash permutation family (no overflow under either engine's semantics).

MinHash permutations (classic Carter-Wegman family):

    base   = portable_hash(shingle) % P_BASE          (< 2^30)
    h_i(x) = (A_i * base + B_i) % P_PERM              (< 2^60, no overflow)

A_i/B_i are fixed odd constants derived from i so that Spark and the oracle
generate identical families without shipping a table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Prime just below 2^30: keeps A_i * base < 2^60 (int64-safe in both engines).
P_BASE = 1073741789
# Mersenne-ish prime 2^31-1 for the permutation range.
P_PERM = 2147483647
HEX_CHARS = 15  # 60 bits


def portable_hash(col: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column (md5-derived).

    Mirrors the DuckDB expression ``('0x' || substr(md5(x),1,15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, HEX_CHARS), 16, 10).cast("long")


def portable_hash_sql(expr: str) -> str:
    """The DuckDB-side twin of :func:`portable_hash` (for oracle SQL)."""
    return f"(('0x' || substr(md5({expr}), 1, {HEX_CHARS}))::BIGINT)"


def perm_coefficients(i: int) -> tuple[int, int]:
    """Deterministic (A_i, B_i) for permutation *i* — identical in the oracle.

    Odd multiplier keeps the map bijective mod 2^k; constants are small enough
    that ``A_i * base`` stays under 2^60.
    """
    a = 2 * i + 1 + 104729 * (i + 1)  # odd, grows with i, < 2^30 for i < ~10k
    b = 7919 * (i + 1)
    return a % P_PERM or 1, b % P_PERM


def minhash_perm_sql(base_expr: str, i: int) -> str:
    a, b = perm_coefficients(i)
    return f"(({a} * {base_expr} + {b}) % {P_PERM})"
