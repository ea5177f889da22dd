"""Property tests for round-3 primitives: the size parser behind the
broadcast gate, the JSON-Schema contract compiler, and the OBO traversal —
each fuzzed against an independent reference implementation."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=1 << 40),
    st.sampled_from(["", "b", "k", "kb", "m", "mb", "g", "gb", "t", "tb"]),
)
def test_parse_size_roundtrip(n, suffix):
    from evidence_datasource_parsers_spark.operators.joins import (
        _SIZE_SUFFIXES,
        _parse_size,
    )

    mult = _SIZE_SUFFIXES.get(suffix, 1)
    assert _parse_size(f"{n}{suffix}") == n * mult
    assert _parse_size(f"  {n}{suffix.upper()} ") == n * mult


def test_parse_size_negative_and_plain():
    from evidence_datasource_parsers_spark.operators.joins import _parse_size

    assert _parse_size("-1") == -1
    assert _parse_size("10485760b") == 10485760


# typed rows + schemas over their Spark types, for the differential test
_LEAVES = ["string", "bigint", "int", "double", "decimal(10,2)", "boolean"]
_TYPES = ["string", "integer", "number", "boolean", "object", "array", "null"]
_DOUBLES = [0.0, -0.0, 1.0, 2.5, -3.0, 1e-9, 1e300, float("nan"),
            float("inf"), float("-inf")]


@st.composite
def _spark_types(draw, depth=0):
    from pyspark.sql import types as T

    leaf = draw(st.sampled_from(_LEAVES + (["array", "struct"]
                                          if depth < 2 else [])))
    if leaf == "array":
        return T.ArrayType(draw(_spark_types(depth + 1)), True)
    if leaf == "struct":
        return _struct(draw, depth + 1)
    return {"string": T.StringType(), "bigint": T.LongType(),
            "int": T.IntegerType(), "double": T.DoubleType(),
            "decimal(10,2)": T.DecimalType(10, 2),
            "boolean": T.BooleanType()}[leaf]


def _struct(draw, depth):
    from pyspark.sql import types as T

    n = draw(st.integers(1, 3))
    return T.StructType([T.StructField(f"f{i}", draw(_spark_types(depth)))
                         for i in range(n)])


def _kind(dt) -> str:
    from pyspark.sql import types as T

    return {T.StringType: "string", T.LongType: "integral",
            T.IntegerType: "integral", T.DoubleType: "number",
            T.DecimalType: "number", T.BooleanType: "boolean",
            T.ArrayType: "array", T.StructType: "object"}[type(dt)]


def _values(dt):
    """Python values of ``dt`` for createDataFrame, NULL included."""
    import decimal

    kind = _kind(dt)
    if kind == "string":
        v = st.text(alphabet="abAB01 é", max_size=4)
    elif kind == "integral" and dt.simpleString() == "bigint":
        v = st.integers(-3, 3) | st.sampled_from([-(1 << 63), (1 << 63) - 1])
    elif kind == "integral":
        v = st.integers(-3, 3)
    elif kind == "number" and dt.simpleString() == "double":
        v = st.sampled_from(_DOUBLES) | st.sampled_from(_DOUBLES) | st.floats(
            -10, 10)
    elif kind == "number":
        v = st.decimals(min_value=-100, max_value=100, places=2).map(
            decimal.Decimal)
    elif kind == "boolean":
        v = st.booleans()
    elif kind == "array":
        v = st.lists(_values(dt.elementType), max_size=3)
    else:
        v = st.tuples(*[_values(f.dataType) for f in dt.fields])
    return st.one_of(st.none(), v, v)


_OTHERS = st.sampled_from(["a", "é", 1, 2.5, True, None])


def _schema(draw, dt, depth=0) -> dict:
    """A JSON Schema over values of ``dt`` built only from keywords the
    native compiler decides exactly for that type."""
    kind = _kind(dt)
    s: dict = {}
    if draw(st.integers(0, 2)) == 0:
        fits = {"integral": "integer"}.get(kind, kind)
        s["type"] = draw(st.just(fits) | st.sampled_from(_TYPES) | st.lists(
            st.sampled_from(_TYPES), min_size=1, max_size=2, unique=True))
    if kind in ("string", "integral", "number", "boolean"):
        own = {"string": st.text(alphabet="abé", max_size=2),
               "integral": st.integers(-3, 3) | st.sampled_from([1.0, 2.5]),
               "number": st.sampled_from([0, 1, -3.0, 2.5, 1e-9, 1e300]),
               "boolean": st.booleans()}[kind]
        if draw(st.integers(0, 3)) == 0:
            s["enum"] = draw(st.lists(own | own | _OTHERS, max_size=4))
        if draw(st.integers(0, 5)) == 0:
            s["const"] = draw(own | _OTHERS)
    if kind == "string":
        if draw(st.booleans()):
            s["pattern"] = draw(st.sampled_from(
                ["^a", "b$", "[0-9]", "^$", "é", "A|b"]))
        for key in ("minLength", "maxLength"):
            if draw(st.integers(0, 2)) == 0:
                s[key] = draw(st.integers(0, 3))
    if kind in ("integral", "number"):
        for key in ("minimum", "maximum", "exclusiveMinimum",
                    "exclusiveMaximum"):
            if draw(st.integers(0, 2)) == 0:
                s[key] = draw(st.sampled_from([-3, 0, 1, 2.5, 1e-9, -0.5]))
    if kind == "array":
        for key in ("minItems", "maxItems"):
            if draw(st.integers(0, 2)) == 0:
                s[key] = draw(st.integers(0, 3))
        if _kind(dt.elementType) in ("string", "integral", "boolean"):
            if draw(st.integers(0, 2)) == 0:
                s["uniqueItems"] = draw(st.booleans())
        if draw(st.booleans()):
            s["items"] = _schema(draw, dt.elementType, depth + 1)
    if kind == "object":
        names = [f.name for f in dt.fields]
        s["properties"] = {
            f.name: _schema(draw, f.dataType, depth + 1)
            for f in dt.fields if draw(st.integers(0, 3))}
        if draw(st.booleans()):
            s["required"] = draw(st.lists(
                st.sampled_from(names * 3 + ["zz"]), unique=True, max_size=3))
        if draw(st.integers(0, 2)) == 0:
            s["additionalProperties"] = draw(st.booleans())
    if depth < 2 and draw(st.integers(0, 3)) == 0:
        key = draw(st.sampled_from(["anyOf", "allOf", "oneOf"]))
        s[key] = [_schema(draw, dt, depth + 1)
                  for _ in range(draw(st.integers(1, 2)))]
    return s


def _schema_for(value, dt) -> dict:
    """A schema the ``to_json`` meaning of ``value`` conforms to BY
    CONSTRUCTION (``value`` is not None)."""
    import math

    kind = _kind(dt)
    if kind == "string":
        return {"type": "string", "minLength": len(value),
                "maxLength": len(value)}
    if kind == "integral":
        return {"type": "integer", "minimum": value, "maximum": value}
    if kind == "number" and dt.simpleString() == "double":
        if not math.isfinite(value):  # written as the string "NaN" etc.
            return {"type": "string"}
        return {"type": "number", "minimum": value, "maximum": value}
    if kind == "number":
        return {"type": "number"}
    if kind == "boolean":
        return {"type": "boolean", "const": value}
    if kind == "array":
        return {"type": "array", "minItems": len(value),
                "maxItems": len(value)}
    return {
        "type": "object",
        "required": [f.name for f, v in zip(dt.fields, value)
                     if v is not None],
        "properties": {f.name: _schema_for(v, f.dataType)
                       for f, v in zip(dt.fields, value) if v is not None},
    }


def _typed_rows(data):
    dt = data.draw(st.composite(lambda draw: _struct(draw, 0))())
    rows = data.draw(st.lists(st.tuples(*[_values(f.dataType)
                                          for f in dt.fields]),
                              min_size=1, max_size=4))
    return dt, rows


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_validator_accepts_conforming_value(spark, data):
    """Each typed row passes a schema built from its own value: one
    violations column per row, all checked in one pass."""
    from evidence_datasource_parsers_spark.validation import violations

    dt, rows = _typed_rows(data)
    df = spark.createDataFrame(rows, dt)
    got = df.select(*[violations(_schema_for(row, dt), df.schema)
                      for row in rows]).collect()
    for i, line in enumerate(got):
        assert line[i] is None, (rows[i], line[i], _schema_for(rows[i], dt))


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_validator_rejects_wrong_type(spark, data):
    """Every row fails a schema demanding, for one required field, a JSON
    type its column cannot hold: strings are never integers; non-strings
    are never strings (except NaN/±Inf doubles, written as strings, so a
    double column is demanded to be a boolean)."""
    from evidence_datasource_parsers_spark.validation import violations

    dt, rows = _typed_rows(data)
    field = data.draw(st.sampled_from(dt.fields))
    wrong = {"string": "integer", "number": "boolean"}.get(
        _kind(field.dataType), "string")
    schema = {"required": [field.name],
              "properties": {field.name: {"type": wrong}}}
    df = spark.createDataFrame(rows, dt)
    got = df.select(violations(schema, df.schema)).collect()
    assert all(m is not None for (m,) in got), (rows, schema, got)


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_native_validator_agrees_with_draft7(spark, data):
    """The Catalyst-compiled contract flags exactly the rows an independent
    Draft 7 validator (``jsonschema``) rejects in the ``to_json`` lines of
    the same typed rows: NULL fields absent, NULL elements JSON null,
    NaN/±Inf and whole doubles under ``integer``, bounds across int/float,
    enum/const across JSON kinds."""
    import json

    from jsonschema import Draft7Validator
    from pyspark.sql import functions as F

    from evidence_datasource_parsers_spark.validation import violations

    dt = data.draw(st.composite(lambda draw: _struct(draw, 0))())
    rows = data.draw(st.lists(st.tuples(*[_values(f.dataType)
                                          for f in dt.fields]),
                              min_size=3, max_size=8))
    schema = data.draw(st.composite(lambda draw: _schema(draw, dt))())
    df = spark.createDataFrame(rows, dt)
    got = df.select(F.to_json(F.struct(*df.columns)),
                    violations(schema, df.schema)).collect()
    draft7 = Draft7Validator(schema)
    for line, message in got:
        assert (message is None) == draft7.is_valid(json.loads(line)), (
            line, message, schema)
    assert sum(m is not None for _, m in got) == sum(
        not draft7.is_valid(json.loads(line)) for line, _ in got)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),
            st.integers(min_value=0, max_value=39),
        ),
        max_size=60,
    )
)
def test_obo_subclasses_match_naive_closure(edges):
    """OboOntology.subclasses == transitive closure computed naively over
    the same child→parent edges (self-loops dropped, ids stringified)."""
    from evidence_datasource_parsers_spark.sources.obo import (
        OboOntology,
        OboTerm,
    )

    edges = [(c, p) for c, p in edges if c != p]
    node_ids = {v for e in edges for v in e} | {0}
    terms = {
        str(i): OboTerm(
            id=str(i), parents=[str(p) for c, p in edges if c == i]
        )
        for i in node_ids
    }
    onto = OboOntology(terms)

    children: dict[int, set[int]] = {}
    for c, p in edges:
        children.setdefault(p, set()).add(c)

    def closure(root: int) -> set[str]:
        out, stack = {root}, [root]
        while stack:
            n = stack.pop()
            for c in children.get(n, ()):
                if c not in out:
                    out.add(c)
                    stack.append(c)
        return {str(x) for x in out}

    for root in list(node_ids)[:10]:
        assert onto.subclasses(str(root)) == closure(root)


# ---------------------------------------------------------------------------
# Two-action lineage audit (r4): re-execution of any returned frame must be
# bit-stable, and sibling outputs that share a lineage must agree with each
# other — the recurring bug class this repo guards with persist/checkpoint.
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(tuple("\0" if v is None else v for v in r) for r in df.collect())


def test_duplicate_clusters_reexecution_stable(spark):
    from evidence_datasource_parsers_spark.operators.dedupe import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6), (30, 33)],
        "id_a long, id_b long",
    )
    out = duplicate_clusters(pairs)
    first, second = _rows(out), _rows(out)  # same frame, two actions
    assert first == second
    # a fresh invocation over the same input converges identically
    assert _rows(duplicate_clusters(pairs)) == first


def test_leakage_safe_split_reexecution_stable(spark):
    from evidence_datasource_parsers_spark.operators.sampling import (
        leakage_safe_split,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(i, i - i % 4) for i in range(0, 100)], "doc_id long, cluster_id long"
    )
    out = leakage_safe_split(corpus, clusters)
    assert _rows(out) == _rows(out)


def test_incremental_lsh_outputs_agree(spark):
    """The two returned frames share the pinned fingerprint lineage: every
    fresh doc's fingerprints must be IN the store, and no dropped doc's
    may be — materialized in either order, twice."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        incremental_lsh_dedupe,
        lsh_fingerprints,
    )

    b1 = spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 7} with more words")
         for i in range(30)],
        "doc_id long, text string",
    )
    r1 = incremental_lsh_dedupe(b1, None, "text", "doc_id", mode="word", k=3)
    b2 = spark.createDataFrame(
        [(100 + i, f"document number {i} about topic {i % 7} with more words")
         for i in range(10)]                      # re-crawls of batch 1
        + [(500, "entirely novel content on query planners and exchanges")],
        "doc_id long, text string",
    )
    r2 = incremental_lsh_dedupe(
        b2, r1.store, "text", "doc_id", mode="word", k=3
    )
    # store first, then fresh, then both again — order must not matter
    store_rows_1 = _rows(r2.store.select("doc_id"))
    fresh_ids = {r.doc_id for r in r2.fresh.collect()}
    store_rows_2 = _rows(r2.store.select("doc_id"))
    assert store_rows_1 == store_rows_2
    assert fresh_ids == {r.doc_id for r in r2.fresh.collect()}
    store_ids = {r[0] for r in store_rows_1}
    assert fresh_ids <= store_ids                  # every survivor recorded
    assert not ({100 + i for i in range(10)} & store_ids)  # dropped absent
    r1.pinned.unpersist()
    r2.pinned.unpersist()


def test_incremental_exact_outputs_agree(spark):
    """store == prior store ∪ content hashes of the persisted fresh rows,
    under repeated materialization in interleaved order."""
    from evidence_datasource_parsers_spark.operators.dedupe import (
        content_hash,
        incremental_exact_dedupe,
    )
    from pyspark.sql import functions as F

    b1 = spark.createDataFrame(
        [(i, f"text body {i // 2}") for i in range(20)],
        "doc_id long, text string",
    )
    fresh1, store1, _ = incremental_exact_dedupe(
        b1, None, "text", "doc_id"
    )
    s1a = _rows(store1)
    f1 = _rows(fresh1)
    s1b = _rows(store1)
    assert s1a == s1b and f1 == _rows(fresh1)
    rederived = _rows(
        fresh1.select(
            F.coalesce(content_hash(F.col("text")), F.lit(-1)).alias("h")
        )
    )
    assert rederived == s1a
    fresh1.unpersist()
