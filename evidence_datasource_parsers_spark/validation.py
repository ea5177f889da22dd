"""JSON-Schema output contract (SURVEY §2.17 M2), compiled to Catalyst.

The reference validates every emitted evidence file against a versioned
JSON Schema (``Snakefile:110,131,155`` runs ``opentargets_validator`` per
rule; the schema root is pinned in ``configuration.yaml:4``).  Here the
schema dict and the frame's Spark schema compile, on the driver, into ONE
Spark SQL string expression: NULL when a row conforms, else the row's
violation messages joined by ``"; "``.  The evidence sink
(``sources.sinks.write_evidence_strings``) computes it inside the pass that
writes the rows and counts it on a ``pyspark.sql.Observation``, so the
contract costs no Spark job and no Python worker of its own.

Values mean what they mean in the written JSON line (``to_json`` and the
JSON writer serialize alike):

  * a NULL struct field is ABSENT: it fails ``required`` and its own
    keywords are skipped, so a ``{"type": ["string", "null"]}`` branch never
    sees it — express nullability by leaving the field out of ``required``;
  * a NULL array element IS JSON ``null``;
  * a NaN or ±Inf float/double is written as the JSON STRING ``"NaN"``,
    ``"Infinity"`` or ``"-Infinity"`` and is checked as that string;
  * otherwise ``type`` is decided from the Spark type at compile time.  The
    one runtime type test is ``integer`` on a float, double or decimal
    column: a whole-number test, so NaN and ±Inf (strings) fail it and 3.0
    IS an integer;
  * ``pattern`` compiles to ``rlike``: the JAVA regex dialect with search
    semantics (unanchored unless the pattern anchors itself), not ECMA 262.

Supported keywords: ``type`` (incl. union lists), ``required``,
``properties``, ``additionalProperties`` (boolean or schema), ``enum``,
``const``, ``pattern``, ``minLength``/``maxLength``, ``minimum``/``maximum``
(+ exclusive forms), ``items`` (single-schema form), ``minItems``/
``maxItems``, ``uniqueItems``, ``anyOf``/``allOf``/``oneOf``, boolean
schemas, and arbitrary nesting.  Annotations (``title``, ``format``, …) are
ignored.  Everything the compiler cannot decide exactly raises
``ValueError`` naming the JSON path, on the driver, before any job: other
assertion keywords, unknown ``type`` names, and keywords over Spark types
whose JSON text the Column cannot see — MapType values, date, timestamp
and binary columns under string keywords, 32-bit floats under numeric
keywords, ``enum``/``const`` on non-scalars, ``uniqueItems`` over
non-scalar or fractional items.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from evidence_datasource_parsers_spark.functions.sqlstr import dlit, qid, slit


class SchemaContractError(AssertionError):
    pass


#: JSON types a non-null value of each Spark kind has in the written line
_JSON_TYPES = {
    "string": {"string"},
    "opaque": {"string"},  # date/timestamp/binary: written as strings
    "integral": {"integer", "number"},
    "fractional": {"number"},  # + a runtime whole-number test for integer
    "float32": {"number"},
    "boolean": {"boolean"},
    "object": {"object"},
    "map": {"object"},
    "array": {"array"},
    "null": {"null"},
}
_TYPE_NAMES = {"string", "integer", "number", "boolean", "object", "array",
               "null"}
_ANNOTATIONS = {"$schema", "$id", "$comment", "title", "description",
                "default", "examples", "format", "definitions", "readOnly",
                "writeOnly", "contentMediaType", "contentEncoding"}
_KEYWORDS = {"type", "required", "properties", "additionalProperties",
             "enum", "const", "pattern", "minLength", "maxLength", "minimum",
             "maximum", "exclusiveMinimum", "exclusiveMaximum", "items",
             "minItems", "maxItems", "uniqueItems", "anyOf", "allOf",
             "oneOf"}
_STRING_KW = ("pattern", "minLength", "maxLength")
_BOUNDS = {"minimum": "<", "maximum": ">", "exclusiveMinimum": "<=",
           "exclusiveMaximum": ">="}  # keyword → comparison that VIOLATES
_LONG = (-(1 << 63), (1 << 63) - 1)
_NULL = "CAST(NULL AS STRING)"

# The compiler below emits Spark SQL text (one message expression per
# schema node, None when the node statically passes): the Column API would
# cost one py4j round trip per expression node on every compile, and the
# release schemas compile to thousands of nodes.


def _or_null(m: str | None) -> str:
    return _NULL if m is None else m


def _when(cond: str, m: str) -> str:
    return f"CASE WHEN {cond} THEN {m} END"


def _kind(dt: T.DataType, where: str) -> str:
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integral"
    if isinstance(dt, (T.DoubleType, T.DecimalType)):
        return "fractional"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.StructType):
        return "object"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.NullType):
        return "null"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType,
                       T.BinaryType)):
        return "opaque"
    raise ValueError(f"cannot validate Spark type {dt.simpleString()} at "
                     f"{where}")


def _msg(path: str, *parts: str) -> str:
    """``<path>: <parts>`` — parts are SQL expressions (use ``slit``)."""
    return f"concat({path}, {slit(': ')}, {', '.join(parts)})"


def _join(msgs) -> str | None:
    """Messages (SQL, NULL = passed; None = statically passed) → one."""
    msgs = [m for m in msgs if m is not None]
    if len(msgs) <= 1:
        return msgs[0] if msgs else None
    return f"nullif(concat_ws({slit('; ')}, {', '.join(msgs)}), '')"


def _show(v: str, kind: str) -> str:
    if kind == "string":
        q = slit("'")
        return f"concat({q}, {v}, {q})"
    return f"CAST({v} AS STRING)"


def _ilit(n: int) -> str:
    """BIGINT literal (-2**63 has no positive twin to negate)."""
    return f"({n + 1}L - 1L)" if n == _LONG[0] else f"{n}L"


def _number(b, key: str, where: str):
    if isinstance(b, bool) or not isinstance(b, (int, float)):
        raise ValueError(f"{key} must be a number at {where}, got {b!r}")
    return b


def _as_double(b, where: str) -> str:
    """A JSON number as the double Spark compares against; an int no double
    equals would compare wrongly after Spark's implicit cast."""
    if float(b) != b:
        raise ValueError(f"{b!r} at {where} has no exact double value")
    return dlit(b)


def _scalar_members(values: list, kind: str) -> list[str]:
    """SQL literals of the members of an enum a value of ``kind`` can equal
    (JSON equality: 1 == 1.0, booleans are not numbers), typed so Spark
    compares them exactly."""
    out = []
    for m in values:
        if kind == "string" and isinstance(m, str):
            out.append(slit(m))
        elif kind == "boolean" and isinstance(m, bool):
            out.append("TRUE" if m else "FALSE")
        elif isinstance(m, (int, float)) and not isinstance(m, bool):
            if kind == "integral" and float(m).is_integer() and (
                    _LONG[0] <= m <= _LONG[1]):
                out.append(_ilit(int(m)))
            elif kind == "fractional" and math.isfinite(m) and float(m) == m:
                out.append(dlit(m))
    return out


def _enum(values: list, v: str, kind: str, path: str, what: str,
          where: str) -> str | None:
    if kind == "null":
        return None if None in values else _msg(path, slit(f"null {what}"))
    if kind not in ("string", "integral", "fractional", "boolean"):
        raise ValueError(f"enum/const over a {kind} value at {where} cannot "
                         "be compiled exactly")
    members = _scalar_members(values, kind)
    x = f"CAST({v} AS DOUBLE)" if kind == "fractional" else v
    shown = _msg(path, _show(v, kind), slit(f" {what}"))
    if not members:
        return shown
    return _when(f"NOT ({x} IN ({', '.join(members)}))", shown)


def _bound(key: str, b, v: str, kind: str, path: str,
           where: str) -> str | None:
    op = _BOUNDS[key]
    shown = _msg(path, _show(v, kind), slit(f" {op} {key} {b}"))
    if kind == "integral":  # exact: compare against the integer threshold
        t = (math.ceil(b) if op in ("<", ">=") else math.floor(b)) \
            if isinstance(b, float) else b
        if not _LONG[0] <= t <= _LONG[1]:  # beyond every long: static
            above = t > _LONG[1]
            return shown if above == (op in ("<", "<=")) else None
        return _when(f"{v} {op} {_ilit(t)}", shown)
    return _when(f"CAST({v} AS DOUBLE) {op} {_as_double(b, where)}", shown)


def _nonfinite_split(s, v: str, dt: T.DataType, path: str,
                     where: str) -> str | None:
    """A float/double is a JSON number when finite and the string its
    writer emits for NaN and ±Inf otherwise: check each as what it is."""
    text = (f"CASE WHEN isnan({v}) THEN 'NaN' WHEN {v} > 0 THEN 'Infinity' "
            "ELSE '-Infinity' END")
    as_text = _compile(s, text, T.StringType(), path, where)
    as_number = _compile(s, v, dt, path, where, finite=True)
    if as_text is None and as_number is None:
        return None
    return (f"CASE WHEN isnan({v}) OR abs({v}) = {dlit(math.inf)} "
            f"THEN {_or_null(as_text)} ELSE {_or_null(as_number)} END")


def _compile(s, v: str, dt: T.DataType, path: str, where: str,
             finite: bool = False) -> str | None:
    """Violation message (SQL) of a PRESENT value ``v`` (NULL ``v`` only
    for the NullType kind, i.e. a JSON null array element); ``finite``
    marks a float/double already known to be a JSON number."""
    if s is True:
        return None
    if s is False:
        return _msg(path, slit("no value is allowed (false schema)"))
    if not isinstance(s, dict):
        raise ValueError(f"schema at {where} must be an object or a boolean")
    for key in s:
        if key not in _KEYWORDS and key not in _ANNOTATIONS:
            raise ValueError(f"unsupported JSON-Schema keyword {key!r} at "
                             f"{where}")
    kind = _kind(dt, where)
    if isinstance(dt, (T.DoubleType, T.FloatType)) and not finite:
        return _nonfinite_split(s, v, dt, path, where)
    msgs: list[str | None] = []

    t = s.get("type")
    if t is not None:
        types = t if isinstance(t, list) else [t]
        for name in types:
            if name not in _TYPE_NAMES:
                raise ValueError(
                    f"unsupported JSON-Schema type {name!r} at {where} "
                    f"(supported: {sorted(_TYPE_NAMES)})")
        if not _JSON_TYPES[kind] & set(types):
            got = "integer" if kind == "integral" else sorted(
                _JSON_TYPES[kind])[0]
            wrong = _msg(path, slit(f"expected type {t}, got {got}"))
            if kind != "fractional" or "integer" not in types:
                return wrong  # later keywords assume the right type
            msgs.append(_when(f"NOT ({v} % 1 = 0)", _msg(
                path, slit(f"expected type {t}, got "), _show(v, kind))))

    if kind == "map" and any(k in s for k in _KEYWORDS - {"type"}):
        raise ValueError(f"MapType value at {where}: only 'type' can be "
                         "compiled exactly")
    for key, what in (("enum", f"not in enum {s.get('enum')}"),
                      ("const", f"!= const {s.get('const')!r}")):
        if key in s:
            vals = s["enum"] if key == "enum" else [s["const"]]
            msgs.append(_enum(vals, v, kind, path, what, where))

    if kind in ("string", "opaque") and any(k in s for k in _STRING_KW):
        if kind == "opaque":
            raise ValueError(f"string keywords over a {dt.simpleString()} "
                             f"column at {where}: its JSON text is not "
                             "visible to the compiler")
        if "pattern" in s:
            msgs.append(_when(f"NOT ({v} RLIKE {slit(s['pattern'])})", _msg(
                path, _show(v, kind), slit(f" !~ /{s['pattern']}/"))))
        for key, op in (("minLength", "<"), ("maxLength", ">")):
            if key in s:
                msgs.append(_when(f"length({v}) {op} {int(s[key])}", _msg(
                    path, slit("length "), f"CAST(length({v}) AS STRING)",
                    slit(f" {op} {key}"))))

    bounds = [k for k in _BOUNDS if k in s]
    if bounds and kind in ("integral", "fractional", "float32"):
        if kind == "float32":
            raise ValueError(f"numeric keywords over a float column at "
                             f"{where}: its decimal text is not its value")
        for key in bounds:
            msgs.append(_bound(key, _number(s[key], key, where), v, kind,
                               path, where))

    if kind == "array":
        et, el_null = dt.elementType, dt.containsNull
        for key, op in (("minItems", "<"), ("maxItems", ">")):
            if key in s:
                msgs.append(_when(f"size({v}) {op} {int(s[key])}", _msg(
                    path, f"CAST(size({v}) AS STRING)",
                    slit(f" items {op} {key}"))))
        if s.get("uniqueItems"):
            if _kind(et, where + "[]") not in ("string", "integral",
                                               "boolean"):
                raise ValueError(f"uniqueItems over {et.simpleString()} "
                                 f"items at {where} cannot be compiled "
                                 "exactly")
            msgs.append(_when(f"size(array_distinct({v})) < size({v})",
                              _msg(path, slit("duplicate items"))))
        items = s.get("items")
        if isinstance(items, list):
            raise ValueError(f"tuple-form items at {where} are not supported")
        if items is not None:
            depth = where.count("[]")  # lambda names unique per nesting
            x, i = f"x{depth}", f"i{depth}"
            each = _element(items, x, et, el_null, f"concat({path}, '[', "
                            f"CAST({i} AS STRING), ']')", where + "[]")
            if each is not None:
                msgs.append(f"nullif(array_join(transform({v}, ({x}, {i}) "
                            f"-> {each}), {slit('; ')}), '')")

    if kind == "object":
        fields = {f.name: f.dataType for f in dt.fields}
        for req in s.get("required", ()):
            m = _msg(path, slit(f"missing required property {req!r}"))
            msgs.append(_when(f"{_get(v, req)} IS NULL", m)
                        if req in fields else m)
        props = s.get("properties", {})
        for name, sub in props.items():
            if name in fields:
                msgs.append(_field(sub, _get(v, name), fields[name],
                                   f"concat({path}, {slit('.' + name)})",
                                   f"{where}.{name}"))
        extra = s.get("additionalProperties", True)
        for name in fields:
            if name in props or extra is True:
                continue
            if extra is False:
                msgs.append(_when(f"{_get(v, name)} IS NOT NULL", _msg(
                    path, slit(f"unexpected property {name!r}"))))
            else:
                msgs.append(_field(extra, _get(v, name), fields[name],
                                   f"concat({path}, {slit('.' + name)})",
                                   f"{where}.{name}"))

    for key in ("allOf", "anyOf", "oneOf"):
        if key not in s:
            continue
        branches = [_compile(sub, v, dt, path, f"{where}<{key}[{i}]>",
                             finite) for i, sub in enumerate(s[key])]
        if key == "allOf":
            msgs += branches
            continue
        failing = [b for b in branches if b is not None]
        if key == "anyOf":
            if len(failing) == len(branches):  # no branch passes statically
                none = " AND ".join(f"({b}) IS NOT NULL" for b in failing)
                msgs.append(_when(none or "TRUE", _msg(
                    path, slit("no anyOf branch matched ("),
                    f"concat_ws({slit('; ')}, {', '.join(failing)})"
                    if failing else "''", slit(")"))))
            continue
        passing = " + ".join(
            [str(len(branches) - len(failing))]
            + [f"CASE WHEN ({b}) IS NULL THEN 1 ELSE 0 END" for b in failing])
        msgs.append(_when(f"({passing}) != 1", _msg(
            path, slit("oneOf matched "), f"CAST(({passing}) AS STRING)",
            slit(" branches, need exactly 1"))))
    return _join(msgs)


def _get(v: str | None, name: str) -> str:
    """Field ``name`` of struct ``v`` (None: a top-level column)."""
    return qid(name) if v is None else f"{v}.{qid(name)}"


def _field(s, x: str, dt: T.DataType, path: str, where: str) -> str | None:
    """A struct field: NULL is absent, so its keywords are skipped."""
    m = _compile(s, x, dt, path, where)
    return None if m is None else _when(f"{x} IS NOT NULL", m)


def _element(s, x: str, dt: T.DataType, nullable: bool, path: str,
             where: str) -> str | None:
    """An array element: NULL is JSON null, checked like any value."""
    present = _compile(s, x, dt, path, where)
    if not nullable:
        return present
    null = _compile(s, "NULL", T.NullType(), path, where)
    if present is None and null is None:
        return None
    return (f"CASE WHEN {x} IS NULL THEN {_or_null(null)} "
            f"ELSE {_or_null(present)} END")


def violations(schema: dict, struct: T.StructType) -> Column:
    """The contract as ONE Column over a frame of Spark schema ``struct``
    (one JVM-side parse of the compiled SQL): NULL for a conforming row,
    else its messages.  Compile errors (``ValueError``) surface here, on
    the driver."""
    return F.expr(_or_null(_compile(schema, None, struct, slit("$"), "$")))


def validate_json_schema(df: DataFrame, schema: dict) -> DataFrame:
    """The violating rows' messages, as a one-column ``error`` frame (empty
    when the output conforms).  Lazy: callers count or sample it."""
    err = violations(schema, df.schema).alias("error")
    return df.select(err).where(F.col("error").isNotNull())


def contract_error(messages: list[str], bad: int | None = None,
                   rows: int | None = None) -> SchemaContractError:
    counts = "" if bad is None else f": {bad} of {rows} rows"
    return SchemaContractError(
        f"JSON-Schema validation failed{counts} (first {len(messages)}):"
        "\n  " + "\n  ".join(messages))


def sample_violations(df: DataFrame, schema: dict, n: int = 10) -> list[str]:
    """At most ``n`` violation messages: a ``limit`` query, for the
    failure path only."""
    return [r["error"] for r in
            validate_json_schema(df, schema).limit(n).collect()]


def assert_json_schema(df: DataFrame, schema: dict, sample: int = 10) -> None:
    """Validation without a sink: raise ``SchemaContractError`` with a
    bounded violation sample if any row breaks the schema (one ``limit``
    query).  A written output is validated inside the sink's own write
    instead."""
    messages = sample_violations(df, schema, sample)
    if messages:
        raise contract_error(messages)
