"""In-pytest oracle smoke: a representative catalog subset compared against
DuckDB at sf0.001 — the same canonicalized comparison the driver's
CORRECTNESS gate runs (full sweep lives in tools/verify_local.py)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from tools.verify_local import TABLES, canon_pandas, canon_rows

from evidence_datasource_parsers_spark.plans import CATALOG

SMOKE = [
    "q01_pricing_summary",      # exact-cents aggregation
    "q20_nullsafe_join",        # eqNullSafe LUT join
    "q35_simhash",              # portable hash + simhash
    "q39_ann_topk",              # deterministic-plane ANN (new exact oracle)
    "q62_multimodal_meta",      # binary round-trip vs header-constant oracle
    "q42_percentiles",          # interpolated percentiles
    "q46_asof_join",            # custom operator vs lateral oracle
    "q54_stouffer",             # combined statistic
]


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SMOKE)
def test_oracle_smoke(spark, sf_dir, oracle, name):
    q = CATALOG[name]
    sdf = q.builder(spark, sf_dir)
    s_cols, s_rows = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    rel = oracle.sql(q.oracle)
    d_cols, d_rows = canon_rows(list(rel.columns), rel.fetchall())
    assert s_cols == d_cols
    assert s_rows == d_rows
    # Driver-faithful path: toPandas vs rel.df() — catches dtype coercions
    # (HUGEINT/DECIMAL → float64) that collect/fetchall hide (round-9 q42).
    ps_cols, ps_rows = canon_pandas(sdf.toPandas())
    pd_cols, pd_rows = canon_pandas(oracle.sql(q.oracle).df())
    assert ps_cols == pd_cols
    assert ps_rows == pd_rows
