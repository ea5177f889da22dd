"""Reshaping operators R1-R6 (SURVEY §2.10).

The reference melts wide gene×cell-line matrices by building a ``stack()`` SQL
string with f-strings (``modules/Essentiality.py:232-247`` — injection-fragile
with odd gene symbols).  Here melt uses the native ``DataFrame.unpivot``
(Spark >= 3.4), which is parameterized, codegen-friendly and scales to
thousands of value columns without string-SQL assembly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str] | None = None,
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide→long unpivot (R3). value_cols default: every non-id column.

    All value columns are cast to a common type by ``unpivot``; callers melt
    homogeneous measure columns (the reference's matrices are all floats).
    """
    values = value_cols or [c for c in df.columns if c not in id_cols]
    return df.unpivot(id_cols, values, var_name, value_name)


def one_hot_to_array(
    df: DataFrame,
    one_hot_cols: dict[str, str],
    out_col: str,
    drop: bool = True,
) -> DataFrame:
    """Collapse one-hot indicator columns into an array of labels (R4).

    Parity with ``modules/chemicalProbes.py:34-66``: for each (column → label),
    emit the label when the indicator == 1; drop the nulls with
    ``array_except``-free ``filter`` (order = insertion order of the dict).
    """
    arr = F.array(
        *[
            F.when(F.col(c).cast("int") == 1, F.lit(label))
            for c, label in one_hot_cols.items()
        ]
    )
    out = df.withColumn(out_col, F.filter(arr, lambda x: x.isNotNull()))
    return out.drop(*one_hot_cols) if drop else out


def parse_stringified_array(col: Column | str, sep: str = ",") -> Column:
    """Parse "[a, b, c]"-style stringified lists into array<string> (§2.14).

    Parity with ``modules/chemicalProbes.py:84-103`` (translate + split).
    Empty input ("[]") yields an empty array, not [""].
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.trim(F.translate(c, "[]'\"", ""))
    return F.when(cleaned == "", F.array().cast("array<string>")).otherwise(
        F.transform(F.split(cleaned, sep), lambda x: F.trim(x))
    )


def nullify_empty_array(col: Column | str) -> Column:
    """Empty collection → null (P9), parity cancerBiomarkers.py:281-287."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.size(c) == 0, F.lit(None)).otherwise(c)
