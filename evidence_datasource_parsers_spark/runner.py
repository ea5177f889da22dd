"""Pipeline orchestration (SURVEY §2.17 M1-M3): the Snakemake DAG replaced by
a plain-Python stage registry over ONE SparkSession.

Each registered pipeline is a named ``(spark, config) -> DataFrame`` function
with two optional output contracts (M2 — the reference validates emitted
JSON against a versioned JSON Schema per Snakefile rule): a Spark
``StructType`` check (structural) and a JSON-Schema check (value-level:
required/enum/pattern/bounds/nesting, validated distributed via
``validation.assert_json_schema``), both before the sink.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from evidence_datasource_parsers_spark.sources.sinks import write_evidence_strings


class SchemaContractError(AssertionError):
    pass


@dataclass
class PipelineSpec:
    name: str
    build: Callable[[SparkSession, dict], DataFrame]
    output_schema: StructType | str | None = None
    depends_on: tuple[str, ...] = ()
    json_schema: dict | None = None


@dataclass
class Runner:
    """Registry + topological executor with per-output schema contracts."""

    pipelines: dict[str, PipelineSpec] = field(default_factory=dict)

    def register(
        self,
        name: str,
        build: Callable[[SparkSession, dict], DataFrame],
        output_schema: StructType | str | None = None,
        depends_on: tuple[str, ...] = (),
        json_schema: dict | None = None,
    ) -> None:
        self.pipelines[name] = PipelineSpec(
            name, build, output_schema, depends_on, json_schema
        )

    def _order(self) -> list[str]:
        seen: dict[str, int] = {}
        out: list[str] = []

        def visit(n: str) -> None:
            state = seen.get(n, 0)
            if state == 1:
                raise ValueError(f"dependency cycle at {n}")
            if state == 2:
                return
            seen[n] = 1
            for d in self.pipelines[n].depends_on:
                visit(d)
            seen[n] = 2
            out.append(n)

        for n in self.pipelines:
            visit(n)
        return out

    @staticmethod
    def check_schema(df: DataFrame, expected: StructType | str) -> None:
        """Enforce the output contract (M2): names and types must match the
        declaration exactly (nullable is advisory, as in Spark itself)."""
        if isinstance(expected, str):
            expected = StructType.fromDDL(expected)
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        want = [(f.name, f.dataType.simpleString()) for f in expected.fields]
        if got != want:
            raise SchemaContractError(
                f"output schema mismatch:\n  got  {got}\n  want {want}"
            )

    def run(
        self,
        spark: SparkSession,
        config: dict,
        out_dir: str | None = None,
        only: list[str] | None = None,
    ) -> dict[str, DataFrame]:
        results: dict[str, DataFrame] = {}
        for name in self._order():
            if only and name not in only:
                continue
            spec = self.pipelines[name]
            df = spec.build(spark, config)
            if spec.output_schema is not None:
                self.check_schema(df, spec.output_schema)
            results[name] = df
            # JSON-Schema validation + sink are two actions over the same
            # frame: persist around them so the pipeline's DAG runs once,
            # and the rows sunk ARE the rows that were validated (matters
            # if any upstream stage is nondeterministic)
            both_actions = out_dir and spec.json_schema is not None
            if both_actions:
                df.persist()
            try:
                if spec.json_schema is not None:
                    # JSON-Schema contract (M2), distributed rather than a
                    # driver re-read, and checked BEFORE the sink (the
                    # reference's opentargets_validator step, Snakefile:110,
                    # runs after the file is written) so a violating output
                    # raises without leaving a file behind
                    from evidence_datasource_parsers_spark.validation import (
                        assert_json_schema,
                    )

                    assert_json_schema(df, spec.json_schema)
                if out_dir:
                    write_evidence_strings(df, f"{out_dir}/{name}.json.gz")
            finally:
                if both_actions:
                    df.unpersist()
        return results
