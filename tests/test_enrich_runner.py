"""CachedEnricher (D9/D10) and Runner (M1-M3) tests."""

from __future__ import annotations

import gzip
import json
from decimal import Decimal

import pytest
from pyspark.sql.types import StructType

from evidence_datasource_parsers_spark.enrich import CachedEnricher
from evidence_datasource_parsers_spark.runner import (
    Runner,
    SchemaContractError,
)


def _lookup(parts):
    disease, disease_id = parts
    if disease == "marfan":
        return [{"mapped": "EFO:1"}, {"mapped": "EFO:2"}]  # 1:N fan-out
    if disease is None:
        return []  # no mapping
    return [{"mapped": f"EFO:{disease}"}]


def test_cached_enricher_fanout_and_cache(spark, tmp_path):
    cache = str(tmp_path / "lut.json")
    ev = spark.createDataFrame(
        [("marfan", "OMIM:1"), ("gout", "OMIM:2"), (None, None),
         ("marfan", "OMIM:1")],
        "disease string, disease_id string",
    )
    enricher = CachedEnricher(_lookup, ["mapped"], cache)
    out = enricher(ev, ["disease", "disease_id"]).collect()
    mapped = sorted(r["mapped"] or "-" for r in out)
    # marfan rows fan out ×2 each (2 rows × 2 mappings), gout 1, null-key 1
    assert mapped == ["-", "EFO:1", "EFO:1", "EFO:2", "EFO:2", "EFO:gout"]
    assert enricher.calls == 3  # distinct keys only

    # second run with a fresh enricher: cache hit → zero external calls
    enricher2 = CachedEnricher(_lookup, ["mapped"], cache)
    enricher2(ev, ["disease", "disease_id"]).collect()
    assert enricher2.calls == 0


def test_runner_dag_schema_and_sink(spark, tmp_path):
    r = Runner()
    r.register(
        "base",
        lambda s, cfg: s.createDataFrame(
            [(cfg["gene"], 0.5)], "targetFromSourceId string, resourceScore double"
        ),
        output_schema="targetFromSourceId string, resourceScore double",
    )
    r.register(
        "dependent",
        lambda s, cfg: s.createDataFrame(
            [("ok",)], "status string"
        ),
        output_schema="status string",
        depends_on=("base",),
    )
    out_dir = str(tmp_path)
    results = r.run(spark, {"gene": "TP53"}, out_dir=out_dir)
    assert set(results) == {"base", "dependent"}
    with gzip.open(f"{out_dir}/base.json.gz", "rt") as fh:
        assert json.loads(fh.readline())["targetFromSourceId"] == "TP53"


def test_runner_schema_contract_violation(spark):
    r = Runner()
    r.register(
        "bad",
        lambda s, cfg: s.createDataFrame([(1,)], "wrong_name int"),
        output_schema="right_name int",
    )
    with pytest.raises(SchemaContractError, match="schema mismatch"):
        r.run(spark, {})


def test_runner_cycle_detection(spark):
    r = Runner()
    r.register("a", lambda s, c: None, depends_on=("b",))
    r.register("b", lambda s, c: None, depends_on=("a",))
    with pytest.raises(ValueError, match="cycle"):
        r.run(spark, {})


def _violations(spark, schema, ddl, *rows):
    """The compiled contract's message per row (None = conforms) over a
    typed frame of ``rows``."""
    from evidence_datasource_parsers_spark.validation import violations

    df = spark.createDataFrame(list(rows), ddl)
    return [r[0] for r in df.select(violations(schema, df.schema)).collect()]


def _one(spark, sub, ddl, value):
    """Message for a single value in column ``x`` checked against ``sub``."""
    return _violations(spark, {"properties": {"x": sub}}, f"x {ddl}",
                       (value,))[0]


def test_json_schema_validator_unit(spark):
    """The compiled contract covers the subset the reference's evidence
    schemas use — types, required, enum, pattern, bounds, nested arrays
    and objects, anyOf — and each keyword must both accept and reject."""
    schema = {
        "type": "object",
        "required": ["targetId", "score"],
        "additionalProperties": False,
        "properties": {
            "targetId": {"type": "string", "pattern": "^ENSG\\d{11}$"},
            "score": {"type": "number", "minimum": 0, "maximum": 1},
            "datasourceId": {"enum": ["impc", "encore", "ot_crispr"]},
            "tags": {
                "type": "array",
                "items": {"type": "string", "minLength": 1},
                "uniqueItems": True,
            },
            "meta": {
                "type": "object",
                "properties": {
                    "n": {"type": ["integer", "null"]},
                    "flag": {"anyOf": [{"type": "boolean"},
                                       {"const": "na"}]},
                },
            },
        },
    }
    ok, missing, bad = _violations(
        spark, schema,
        "targetId string, score double, datasourceId string,"
        " tags array<string>, meta struct<n:double,flag:string>,"
        " extra bigint",
        ("ENSG00000139618", 0.5, "impc", ["a", "b"], (3.0, "na"), None),
        (None, 0.5, None, None, None, None),
        ("BRCA2", 1.5, "nope", ["a", "a", ""], (1.5, "yes"), 1),
    )
    assert ok is None
    assert missing == "$: missing required property 'targetId'"
    for frag in (
        "'BRCA2' !~", "> maximum", "'nope' not in enum", "duplicate",
        "$.tags[2]: length 0 < minLength", "$.meta.n: expected type",
        "no anyOf branch", "unexpected property 'extra'",
    ):
        assert frag in bad, (frag, bad)


def test_runner_json_schema_gate(spark, tmp_path):
    """M2 parity end-to-end: a pipeline with a JSON-Schema contract fails
    loudly on a deliberately broken record, before writing it, and passes
    on golden output — the distributed twin of the reference's
    opentargets_validator step."""
    from evidence_datasource_parsers_spark.runner import Runner

    schema = {
        "type": "object",
        "required": ["targetId", "score"],
        "properties": {
            "targetId": {"type": "string", "pattern": "^ENSG\\d{11}$"},
            "score": {"type": "number", "minimum": 0, "maximum": 1},
        },
    }

    def golden(s, cfg):
        return s.createDataFrame(
            [("ENSG00000139618", 0.7)], "targetId string, score double"
        )

    def broken(s, cfg):
        return s.createDataFrame(
            [("ENSG00000139618", 0.7), ("BRCA2", 7.0)],
            "targetId string, score double",
        )

    r = Runner()
    r.register("good", golden, json_schema=schema)
    out = r.run(spark, {}, out_dir=str(tmp_path))
    assert out["good"].count() == 1

    r2 = Runner()
    r2.register("bad", broken, json_schema=schema)
    with pytest.raises(SchemaContractError, match="BRCA2"):
        r2.run(spark, {})
    # the contract is checked before the sink: a violating output leaves
    # neither the evidence file nor the sink's staging directory
    with pytest.raises(SchemaContractError, match="BRCA2"):
        r2.run(spark, {}, out_dir=str(tmp_path))
    assert not (tmp_path / "bad.json.gz").exists()
    assert not (tmp_path / "bad.json.gz.spark-tmp").exists()
    assert (tmp_path / "good.json.gz").exists()


def test_json_schema_catches_dropped_nulls(spark):
    """to_json drops null fields, so a null in a required column is a
    missing-property violation — the exact bug class (null evidence ids)
    the reference's validator exists to catch."""
    from evidence_datasource_parsers_spark.validation import (
        validate_json_schema,
    )

    df = spark.createDataFrame(
        [("a",), (None,)], "targetId string"
    )
    errs = validate_json_schema(
        df, {"type": "object", "required": ["targetId"]}
    ).collect()
    assert len(errs) == 1 and "missing required" in errs[0]["error"]


def test_json_schema_integer_accepts_whole_floats_and_rejects_bad_type(
        spark):
    """JSON-Schema semantics: 3.0 IS an integer (Spark double columns
    holding counts must pass), NaN and ±Inf are not; unsupported type names
    fail at compile time with a clear message, before any job."""
    from evidence_datasource_parsers_spark.validation import violations

    integer = {"type": "integer"}
    assert _one(spark, integer, "bigint", 3) is None
    assert _one(spark, integer, "double", 3.0) is None
    assert _one(spark, integer, "decimal(10,2)", Decimal("3.00")) is None
    for ddl, value in (("double", 3.5), ("boolean", True),
                       ("double", float("nan")), ("double", float("inf")),
                       ("decimal(10,2)", Decimal("3.50"))):
        assert "expected type" in _one(spark, integer, ddl, value)

    with pytest.raises(ValueError, match="unsupported JSON-Schema type 'date'"):
        violations({"type": "object",
                    "properties": {"ts": {"type": "date"}}},
                   StructType.fromDDL("ts string"))


def test_json_schema_bounds_exact_across_int_and_float(spark):
    """Fractional bounds on integer columns are exact at the boundary, and
    a NaN or ±Inf double is the JSON string its writer emits: bounds skip
    it and ``type: number`` rejects it."""
    schema = {"properties": {
        "i": {"maximum": 2.5, "exclusiveMinimum": -0.5},
        "d": {"maximum": 1},
        "n": {"type": "number"}}}
    got = _violations(
        spark, schema, "i bigint, d double, n double",
        (2, 1.0, 0.0), (0, float("nan"), 1e300), (3, float("inf"), None),
        (-1, 1.5, float("nan")), (None, None, float("-inf")))
    assert got[:2] == [None, None]
    assert got[2] == "$.i: 3 > maximum 2.5"
    assert "$.i: -1 <= exclusiveMinimum -0.5" in got[3]
    assert "$.d: 1.5 > maximum 1" in got[3]
    assert "$.n: expected type number, got string" in got[3]
    assert got[4] == "$.n: expected type number, got string"


def test_json_schema_compile_rejects_undecidable():
    """Keywords the compiler cannot decide exactly from the Spark type fail
    on the driver with a ValueError naming the JSON path."""
    from evidence_datasource_parsers_spark.validation import violations

    for sub, ddl, where in (
        ({"required": ["k"]}, "x map<string,string>", r"\$\.x"),
        ({"pattern": "^2"}, "x date", r"\$\.x"),
        ({"minLength": 1}, "x timestamp", r"\$\.x"),
        ({"items": {"enum": [[1]]}}, "x array<array<int>>", r"\$\.x\[\]"),
        ({"const": {"a": 1}}, "x struct<a:int>", r"\$\.x"),
        ({"minimum": 0}, "x float", r"\$\.x"),
        ({"uniqueItems": True}, "x array<double>", r"\$\.x"),
        ({"not": {"type": "string"}}, "x string", r"\$\.x"),
    ):
        with pytest.raises(ValueError, match=where):
            violations({"properties": {"x": sub}}, StructType.fromDDL(ddl))


def test_json_schema_allof_oneof_enforced(spark):
    """allOf requires every branch; oneOf exactly one."""
    all_of = {"allOf": [{"type": "object", "required": ["a"]},
                        {"type": "object", "required": ["b"]}]}
    assert _violations(spark, all_of, "a bigint, b bigint", (1, 2)) == [None]
    assert "'b'" in _violations(spark, all_of, "a bigint, b bigint",
                                (1, None))[0]

    one_of = {"oneOf": [{"type": "integer"}, {"type": "string"}]}
    assert _one(spark, one_of, "bigint", 3) is None
    assert _one(spark, one_of, "string", "x") is None
    assert "oneOf matched 0" in _one(spark, one_of, "array<bigint>", [1])
    overlap = {"oneOf": [{"type": "number"}, {"type": "integer"}]}
    assert "oneOf matched 2" in _one(spark, overlap, "bigint", 3)
    assert _one(spark, overlap, "double", 3.5) is None


def test_enricher_executor_tier_equivalence(spark):
    """The mapInPandas tier produces exactly the driver tier's rows on a
    fan-out fixture (1:N, 1:0 with null backfill, null keys)."""
    ev = spark.createDataFrame(
        [("marfan", "OMIM:1"), ("gout", "OMIM:2"), (None, None),
         ("marfan", "OMIM:1")],
        "disease string, disease_id string",
    )
    def canon(df):
        return sorted(
            (tuple("\0" if v is None else v for v in r) for r in df.collect())
        )

    def local_lookup(parts):
        return _lookup(parts) if False else (
            [{"mapped": "EFO:1"}, {"mapped": "EFO:2"}]
            if parts[0] == "marfan"
            else ([] if parts[0] is None else [{"mapped": f"EFO:{parts[0]}"}])
        )

    driver_rows = canon(
        CachedEnricher(local_lookup, ["mapped"])(
            ev, ["disease", "disease_id"], tier="driver"
        )
    )
    exec_rows = canon(
        CachedEnricher(local_lookup, ["mapped"])(
            ev, ["disease", "disease_id"], tier="executor"
        )
    )
    assert exec_rows == driver_rows
    assert len(exec_rows) == 6


def test_enricher_auto_threshold_switch(spark):
    """auto picks the executor tier above the keyset threshold (no driver
    lookup calls, no file cache writes) and the driver tier below it."""
    ev = spark.createDataFrame(
        [(f"d{i}", f"OMIM:{i}") for i in range(10)],
        "disease string, disease_id string",
    )
    def local_lookup(parts):
        return [{"mapped": f"EFO:{parts[0]}"}]

    # 10 distinct keys > threshold 3 → executor tier: driver counter stays 0
    big = CachedEnricher(local_lookup, ["mapped"], executor_threshold=3)
    out = big(ev, ["disease", "disease_id"]).collect()
    assert len(out) == 10 and big.calls == 0
    assert {r["mapped"] for r in out} == {f"EFO:d{i}" for i in range(10)}
    # threshold above the keyset → driver tier: counter counts distinct keys
    small = CachedEnricher(local_lookup, ["mapped"], executor_threshold=100)
    small(ev, ["disease", "disease_id"]).collect()
    assert small.calls == 10


def test_enricher_executor_per_worker_cache(spark):
    """Within one worker process, repeated keys hit the in-process cache:
    the external lookup runs once per distinct key per worker.  Counted
    with an accumulator; a single partition pins the work to one worker."""
    from evidence_datasource_parsers_spark.enrich import CachedEnricher

    acc = spark.sparkContext.accumulator(0)

    def counting_lookup(parts):
        acc.add(1)
        return [{"mapped": f"X:{parts[0]}"}]

    enricher = CachedEnricher(
        counting_lookup, ["mapped"], cache_namespace="test-worker-cache"
    )
    keys = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("b",), ("a",)], "k string"
    ).repartition(1)
    out = enricher._enrich_executor(keys, ["k"], "`k` string, `mapped` string")
    assert out.count() == 5
    assert acc.value == 2  # 2 distinct keys, dup rows served from cache


def test_worker_cache_lru_bound():
    """The per-process executor cache is a bounded LRU: inserting past the
    cap evicts the least-recently-used key; a touched key survives."""
    from evidence_datasource_parsers_spark import enrich

    ns = "test-lru-bound"
    enrich._WORKER_CACHE.pop(ns, None)
    calls = {"n": 0}

    def compute(k):
        calls["n"] += 1
        return [{"v": k}]

    for k in ("a", "b", "c"):
        enrich._worker_cache_lookup(ns, k, lambda k=k: compute(k), 3)
    assert calls["n"] == 3
    # touch "a" → "b" becomes LRU; inserting "d" at cap 3 evicts "b"
    enrich._worker_cache_lookup(ns, "a", lambda: compute("a"), 3)
    assert calls["n"] == 3  # hit, no recompute
    enrich._worker_cache_lookup(ns, "d", lambda: compute("d"), 3)
    assert set(enrich._WORKER_CACHE[ns]) == {"c", "a", "d"}
    # evicted key recomputes on next access
    enrich._worker_cache_lookup(ns, "b", lambda: compute("b"), 3)
    assert calls["n"] == 5  # a,b,c,d + b's recompute after eviction
    enrich._WORKER_CACHE.pop(ns, None)
