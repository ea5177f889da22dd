"""Static oracle-type sweep (round-9 verdict item #2).

Round 9's only red driver-gate row (q42) was a pure dtype artifact: an uncast
``LEAST(SUM(...))`` typed HUGEINT in DuckDB, which the driver's pandas
canonicalizer renders float64 (``10025.0``) against Spark's int64
(``10025``) — equal values, diverging hash, and the old collect/fetchall
local gate structurally could not see it.  These tests make the whole class
unshippable:

* every registered oracle's result relation must be free of
  driver-coercing types (HUGEINT/UHUGEINT/DECIMAL/DATE);
* the PRE-fix q42 shape is kept as a regression fixture and must FAIL the
  new sweep and the new pandas-path canonicalization while PASSING the old
  fetchall path — proving the new gate catches what the old one missed.

DuckDB-only: no SparkSession, so the sweep is cheap enough to run always.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from evidence_datasource_parsers_spark.forensics import (
    TABLES,
    canon_pandas,
    canon_rows,
    canon_value,
    oracle_type_offenders,
)


@pytest.fixture(scope="module")
def con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def test_all_oracles_free_of_coercing_types(con):
    from __spark_entry__ import oracle_sql

    offenders = {}
    for name, sql in oracle_sql().items():
        bad = oracle_type_offenders(con.sql(sql))
        if bad:
            offenders[name] = bad
    assert offenders == {}, (
        "oracle result columns with driver-coercing DuckDB types "
        f"(cast them BIGINT/DOUBLE/VARCHAR): {offenders}"
    )


def test_prefix_q42_shape_is_caught(con):
    """The exact round-9 failure: uncast LEAST(SUM(...)) over lineitem."""
    from evidence_datasource_parsers_spark.plans.catalog_ext import (
        _cms_status_sql,
    )

    fixed = _cms_status_sql()
    assert fixed.upper().startswith("CAST(")
    # Reconstruct the PRE-fix expression by stripping the outer cast.
    assert fixed.endswith(" AS BIGINT)")
    prefix = fixed[len("CAST("):-len(" AS BIGINT)")]
    rel = con.sql(f"SELECT {prefix} AS cms_status_o_c FROM lineitem")
    assert oracle_type_offenders(rel) == [("cms_status_o_c", "HUGEINT")]
    # Old path (fetchall) renders a Python int — identical to Spark's long.
    (old_val,) = rel.fetchall()[0]
    assert isinstance(old_val, int)
    # Driver path (pandas) renders float64 — the hash-breaking divergence.
    _, (pandas_row,) = canon_pandas(rel.df())
    _, (fetch_row,) = canon_rows(["cms_status_o_c"], rel.fetchall())
    assert fetch_row == (str(old_val),)
    assert pandas_row == (repr(float(old_val)),)
    assert pandas_row != fetch_row
    # And the FIXED expression is dtype-stable across both paths.
    rel2 = con.sql(f"SELECT {fixed} AS cms_status_o_c FROM lineitem")
    assert oracle_type_offenders(rel2) == []
    _, (fixed_pandas,) = canon_pandas(rel2.df())
    assert fixed_pandas == (str(old_val),)


def test_canon_value_pandas_scalars():
    import numpy as np
    import pandas as pd

    assert canon_value(np.float64(10025.0)) == "10025.0"
    assert canon_value(np.int64(10025)) == "10025"
    assert canon_value(np.bool_(True)) == "true"
    assert canon_value(pd.NaT) == "nan"
    assert canon_value(pd.Timestamp("1995-03-15 01:02:03")) == (
        "1995-03-15 01:02:03"
    )
    assert canon_value(None) == "∅"
    assert canon_value(float("nan")) == "nan"


def test_date_columns_flagged():
    rel = duckdb.connect().sql("SELECT DATE '1995-03-15' AS d, 1 AS n")
    assert oracle_type_offenders(rel) == [("d", "DATE")]
    rel2 = duckdb.connect().sql(
        "SELECT TIMESTAMP '1995-03-15 01:02:03' AS ts"
    )
    assert oracle_type_offenders(rel2) == []
