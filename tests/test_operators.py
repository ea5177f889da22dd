"""Unit tests for the operator library — the reference's tricky value
transforms (SURVEY §5: null-safe join-back, unionByName reconciliation,
melt, explode fan-out, p-value decomposition) as property/golden tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_datasource_parsers_spark.functions.pvalues import (
    impute_zero_with_min,
    pvalue_mantissa_exponent,
)
from evidence_datasource_parsers_spark.operators.expectations import (
    ExpectationError,
    Expectations,
)
from evidence_datasource_parsers_spark.operators.joins import (
    anti_join,
    enrich_join_back,
    union_by_name,
)
from evidence_datasource_parsers_spark.operators.reshape import (
    melt,
    nullify_empty_array,
    one_hot_to_array,
    parse_stringified_array,
)
from evidence_datasource_parsers_spark.operators.windows import (
    top_n_per_group,
)


def test_melt_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, 2.0, 3.0), (2, 5.0, 7.0)], "id int, a double, b double"
    )
    out = melt(df, ["id"], ["a", "b"], "var", "val")
    rows = {(r["id"], r["var"]): r["val"] for r in out.collect()}
    assert rows == {(1, "a"): 2.0, (1, "b"): 3.0, (2, "a"): 5.0, (2, "b"): 7.0}


def test_one_hot_to_array(spark):
    df = spark.createDataFrame(
        [(1, 1, 0, 1), (2, 0, 0, 0)], "id int, x int, y int, z int"
    )
    out = one_hot_to_array(df, {"x": "X", "y": "Y", "z": "Z"}, "labels")
    rows = {r["id"]: r["labels"] for r in out.collect()}
    assert rows == {1: ["X", "Z"], 2: []}
    assert set(out.columns) == {"id", "labels"}


def test_parse_stringified_array(spark):
    df = spark.createDataFrame(
        [("[a, b, c]",), ("[]",), ("['x','y']",)], "s string"
    )
    out = df.select(parse_stringified_array("s").alias("arr")).collect()
    assert out[0]["arr"] == ["a", "b", "c"]
    assert out[1]["arr"] == []
    assert out[2]["arr"] == ["x", "y"]


def test_nullify_empty(spark):
    df = spark.createDataFrame([([],), (["a"],)], "arr array<string>")
    vals = [r[0] for r in df.select(nullify_empty_array("arr")).collect()]
    assert vals == [None, ["a"]]


def test_union_by_name_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, "y")], "id int, b string")
    out = union_by_name([a, b]).orderBy("id").collect()
    assert out[0]["a"] == "x" and out[0]["b"] is None
    assert out[1]["a"] is None and out[1]["b"] == "y"


def test_anti_join(spark):
    facts = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    ctrl = spark.createDataFrame([(2,), (9,)], "k int")
    assert {r["k"] for r in anti_join(facts, ctrl, "k").collect()} == {1, 3}


def test_enrich_join_back_nullsafe_fanout(spark):
    """The SURVEY §7.4 risk-1 semantics: eqNullSafe on nullable keys,
    1:N enrichment fans out, (null,null) keys match their enrichment row."""
    ev = spark.createDataFrame(
        [("d1", "x"), ("d1", None), (None, None), (None, None)],
        "disease string, disease_id string",
    )

    def enrich(keys_df):
        pdf = keys_df.toPandas()
        rows = []
        for _, row in pdf.iterrows():
            if row["disease"] == "d1" and row["disease_id"] == "x":
                rows.append((row["disease"], row["disease_id"], "EFO:1"))
                rows.append((row["disease"], row["disease_id"], "EFO:2"))
            else:
                rows.append((row["disease"], row["disease_id"], "EFO:NULLKEY"))
        return keys_df.sparkSession.createDataFrame(
            rows, "disease string, disease_id string, mapped string"
        )

    out = enrich_join_back(ev, ["disease", "disease_id"], enrich)
    got = sorted(
        [(r["disease"], r["disease_id"], r["mapped"]) for r in out.collect()],
        key=str,
    )
    # ("d1","x") fans out to 2 rows; each (None,None) row keeps its match
    assert got.count(("d1", "x", "EFO:1")) == 1
    assert got.count(("d1", "x", "EFO:2")) == 1
    assert got.count((None, None, "EFO:NULLKEY")) == 2
    assert got.count(("d1", None, "EFO:NULLKEY")) == 1
    assert len(got) == 5


def test_top_n_variants_agree(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = top_n_per_group(
        df, ["c_nationkey"], [F.col("c_acctbal").desc(), F.col("c_custkey")]
    ).select("c_nationkey", "c_custkey")
    # one row per group: ties on acctbal break by min custkey
    assert w.count() == df.select("c_nationkey").distinct().count()


def test_pvalue_mantissa_exponent(spark):
    df = spark.createDataFrame([(3.2e-7,), (0.042,)], "p double")
    m, e = pvalue_mantissa_exponent("p")
    rows = df.select(m.alias("m"), e.alias("e")).collect()
    assert (rows[0]["m"], rows[0]["e"]) == (3.2, -7)
    assert (rows[1]["m"], rows[1]["e"]) == (4.2, -2)


def test_impute_zero_with_min(spark):
    df = spark.createDataFrame([(0.0,), (0.5,), (0.25,)], "p double")
    out = impute_zero_with_min(df, "p")
    assert sorted(r["p"] for r in out.collect()) == [0.25, 0.25, 0.5]


def test_expectations_batch(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "b")], "id int, g string")
    res = (
        Expectations()
        .count_between("rows", 2, 5)
        .fraction_between("b_frac", F.col("g") == "b", 0.5, 0.9)
        .no_rows_where("neg_ids", F.col("id") < 0)
        .unique("unique_ids", "id")
        .run(df)
    )
    assert all(res.values()) and len(res) == 4
    with pytest.raises(ExpectationError, match="rows"):
        Expectations().count_between("rows", 10, 20).run(df)


def test_approx_distinct_tolerance(spark, sf_dir):
    from evidence_datasource_parsers_spark.plans import CATALOG

    rows = CATALOG["q42_percentiles"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # q42 encodes the HLL tolerance as an in-plan invariant column
        assert r["hll_within_5pct"], f"HLL error too high for {r['l_returnflag']}"
        assert r["exact_parts"] > 0


def test_text_struct_native_and_udf_agree(spark):
    from evidence_datasource_parsers_spark.functions.text_struct import (
        parse_description_native,
        parse_description_udf,
    )

    df = spark.createDataFrame(
        [
            ("CRISPRi screen. Experiment: survival. Analysis: MAGeCK",),
            ("No structure here",),
            (None,),
        ],
        "desc string",
    )
    native = df.select(parse_description_native("desc").alias("s")).collect()
    udf = df.select(parse_description_udf()(F.col("desc")).alias("s")).collect()
    assert native[0]["s"].asDict() == udf[0]["s"].asDict() == {
        "title": "CRISPRi screen",
        "experiment": "survival",
        "analysis": "MAGeCK",
    }
    assert native[1]["s"]["experiment"] is None
    assert udf[2]["s"]["title"] is None


def test_multifile_scan_and_selectexpr(spark, tmp_path):
    """S3 multi-file CSV in one read + P2 selectExpr + K4 toPandas."""
    from evidence_datasource_parsers_spark.sources.readers import read_csv

    (tmp_path / "p1.csv").write_text("gene,score\ng1,1.5\n")
    (tmp_path / "p2.csv").write_text("gene,score\ng2,2.5\n")
    df = read_csv(
        spark,
        [str(tmp_path / "p1.csv"), str(tmp_path / "p2.csv")],
        schema="gene string, score double",
    )
    assert df.count() == 2
    out = df.selectExpr("gene as targetFromSourceId", "score * 2 as doubled")
    pdf = out.toPandas().set_index("targetFromSourceId")
    assert pdf.loc["g2", "doubled"] == 5.0


def test_input_file_name_tagging(spark, tmp_path):
    """Multi-file read tagged by source file — the single-plan alternative to
    driver-side per-study loops (SURVEY §7.4 risk 6)."""
    (tmp_path / "study_a.csv").write_text("gene,score\ng1,1.0\n")
    (tmp_path / "study_b.csv").write_text("gene,score\ng2,2.0\n")
    df = (
        spark.read.option("header", True)
        .csv(str(tmp_path))
        .withColumn(
            "studyId",
            F.regexp_extract(F.input_file_name(), r"(study_\w+)\.csv", 1),
        )
    )
    rows = {r["gene"]: r["studyId"] for r in df.collect()}
    assert rows == {"g1": "study_a", "g2": "study_b"}
