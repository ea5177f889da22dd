"""Pipeline orchestration (SURVEY §2.17 M1-M3): the Snakemake DAG replaced by
a plain-Python stage registry over ONE SparkSession.

Each registered pipeline is a named ``(spark, config) -> DataFrame`` function
with two optional output contracts (M2 — the reference validates emitted
JSON against a versioned JSON Schema per Snakefile rule): a Spark
``StructType`` check (structural, on the driver) and a JSON-Schema check
(value-level: required/enum/pattern/bounds/nesting).  With an output
directory the JSON Schema is checked inside the sink's single write
(``sources.sinks.write_evidence_strings``), which fills the run record;
without one, ``validation.assert_json_schema`` checks it alone.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from evidence_datasource_parsers_spark import validation
from evidence_datasource_parsers_spark.sources.sinks import write_evidence_strings
from evidence_datasource_parsers_spark.validation import SchemaContractError


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
    #: name → ``{"rows_out", "violations", "wall_s"}`` of its last written
    #: output, from the sink's own observed metrics (no extra job)
    records: dict[str, dict] = field(default_factory=dict)

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
            t = time.perf_counter()
            df = spec.build(spark, config)
            if spec.output_schema is not None:
                self.check_schema(df, spec.output_schema)
            results[name] = df
            record: dict = {}
            try:
                if out_dir:
                    write_evidence_strings(
                        df, f"{out_dir}/{name}.json.gz",
                        json_schema=spec.json_schema, record=record)
                elif spec.json_schema is not None:
                    validation.assert_json_schema(df, spec.json_schema)
            finally:
                # pipelines with eager expectations (gene_burden, chembl)
                # persist their output; once it is written, release it
                df.unpersist()
                if record:
                    self.records[name] = {
                        **record, "wall_s": time.perf_counter() - t}
        return results
