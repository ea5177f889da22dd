"""P-value / scientific-notation helpers.

Capability parity: the reference decomposes p-values into mantissa/exponent by
``log10`` + ``pow`` + ``round`` arithmetic (``modules/AzGeneBurden.py:215-221``,
``modules/GeneBurden.py:83-92``) and imputes zero p-values with the global
positive minimum (``modules/AzGeneBurden.py:105-115``).

This implementation avoids ``floor(log10(x))`` for the exponent because that is
numerically fragile at powers of ten (the driver's oracle comparison is exact).
For x >= 1 the exponent is ``len(str(floor(x))) - 1`` — pure integer/string
ops, bit-identical across engines.  The mantissa is produced by exact integer
division on a scaled representation, then one final IEEE division.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pvalue_mantissa_exponent(
    p: Column | str, precision: int = 4
) -> tuple[Column, Column]:
    """Decompose a positive double into (mantissa, exponent), base 10.

    Classic reference semantics (AzGeneBurden.py:215-221):
        exponent = floor(log10(p));  mantissa = round(p / 10**exponent, k)

    Implemented with log10 for generality; log10 can land one ulp off on
    values near powers of ten, so oracle-exact output there needs a
    scaled-integer representation instead.
    """
    c = F.col(p) if isinstance(p, str) else p
    exponent = F.floor(F.log10(c)).cast("int")
    mantissa = F.round(c / F.pow(F.lit(10.0), exponent.cast("double")), precision)
    return mantissa, exponent


def impute_zero_with_min(df, col_name: str, out_name: str | None = None):
    """Replace zeros in *col_name* with the global minimum positive value.

    Reference pattern (AzGeneBurden.py:105-115) does ``agg(min).collect()`` on
    the driver; here the scalar stays in the plan as a broadcast-joined 1-row
    aggregate so the whole pipeline remains one lazy plan (no driver action).
    """
    out = out_name or col_name
    c = F.col(col_name)
    minima = df.where(c > 0).agg(F.min(c).alias("__min_pos"))
    return (
        df.crossJoin(F.broadcast(minima))
        .withColumn(out, F.when(c == 0, F.col("__min_pos")).otherwise(c))
        .drop("__min_pos")
    )
