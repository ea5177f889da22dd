"""The measured process: one closed loop with one client (this driver thread).

Started by ``run.py`` on the generated inputs; writes one JSON record.
``setup_s`` runs from the first line of this file to the first timed pass:
interpreter imports, JVM and session, input registration and, for
``catalog``, the warm-up passes.  Outputs are checked outside the timed
passes.  A traced run (``--trace 1``) times the same number of untraced and
then traced passes, so in-process tracing overhead (spans, counters, JVM
readings, the worker sampler) is measured in one process.  The event log is
on for the whole traced run, so its cost shows only as the traced run's
untraced passes against an untraced run's ``pass_s``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gzip  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from statistics import median  # noqa: E402

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402
from workloads import (  # noqa: E402
    CATALOG_QUERIES,
    CATALOG_WARMUP_PASSES,
    MIN_TIMED_PASSES,
)

from evidence_datasource_parsers_spark.session import get_spark  # noqa: E402

EVENT_LOG_TOTALS = ("shuffle_write_bytes", "shuffle_read_bytes",
                    "spill_bytes", "executor_run_s", "executor_cpu_s")


def canon_json(value):
    """Row canonical form: keys sorted, arrays in sorted order (collect_list
    order is not part of any pipeline's contract)."""
    if isinstance(value, dict):
        return {k: canon_json(v) for k, v in sorted(value.items())}
    if isinstance(value, list):
        return sorted((canon_json(v) for v in value), key=json.dumps)
    return value


def digest(path: str) -> tuple[int, str]:
    """Row count and order-insensitive digest of a gzipped JSON-lines file."""
    with gzip.open(path, "rt") as fh:
        lines = sorted(json.dumps(canon_json(json.loads(ln))) for ln in fh)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Bench:
    """Pass bookkeeping shared by both workload kinds."""

    def __init__(self, args):
        self.args = args
        extra = {}
        if args.trace:
            os.makedirs(args.event_log, exist_ok=True)
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + args.event_log,
                     "spark.eventLog.compress": "false"}
        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tracer = tr.Tracer()
        self.layer: dict[str, list[float]] = {}
        self.acc: dict[str, float] = {}  # per-pass counters while traced
        self.traced_passes: list[int] = []
        self.failed: set[str] = set()

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def add(self, key: str, value: float) -> None:
        if self.tracer.active:
            self.acc[key] = self.acc.get(key, 0) + value

    def run_pass(self, p: int, body, traced: bool) -> float:
        """Run one pass; when traced, also record JVM, worker and spans."""
        self.tracer.active, self.tracer.pass_no = traced, p
        self.acc = {}
        if traced:
            sampler = tr.WorkerSampler(self.jvm_pid)
            before = tr.jvm_counters(self.spark, self.jvm_pid)
        t = time.perf_counter()
        with self.tracer.span("pass", f"p{p}") as rec:
            body(p)
        wall = time.perf_counter() - t
        if traced:
            after = tr.jvm_counters(self.spark, self.jvm_pid)
            for k in after:
                self.note(f"jvm.{k}", after[k] - before[k])
            self.note("python.workers_spawned", sampler.stop())
            self.note("jvm.heap_after_gc_mb", tr.heap_after_gc_mb(self.spark))
            uncovered = self.tracer.self_time(rec)
            self.note("trace.uncovered_s", uncovered)
            self.note("trace.coverage", 1 - uncovered / wall)
            for k, v in self.acc.items():
                self.note(k, v)
            self.traced_passes.append(p)
        self.tracer.active = False
        return wall

    def timed(self, one_pass, first: int) -> list[float]:
        """Timed passes for ``--seconds`` (at least MIN_TIMED_PASSES); in a
        traced run, followed by as many traced passes."""
        timed, p = [], first
        start = time.perf_counter()
        while (time.perf_counter() - start < self.args.seconds
               or len(timed) < MIN_TIMED_PASSES[self.args.workload]):
            timed.append(one_pass(p, False))
            p += 1
        self.peak_rss_mb = tr.peak_rss_mb([os.getpid(), self.jvm_pid])
        if not self.args.trace:
            return timed
        traced = [one_pass(p + i, True) for i in range(len(timed))]
        self.note("trace.untraced_pass_s", median(timed))
        self.note("trace.pass_s", median(traced))
        self.note("trace.overhead_s", median(traced) - median(timed))
        return traced

    def span_medians(self, layer: str, name: str | None, key: str) -> None:
        self.note(key, median(self.tracer.total(layer, p, name)
                              for p in self.traced_passes))

    def finish(self, result: dict) -> dict:
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
        result.update(session_s=self.session_s, setup_s=self.setup_s,
                      peak_rss_mb=self.peak_rss_mb,
                      failed=sorted(self.failed))
        if self.args.trace:
            self.note("session.get_spark_s", self.session_s)
            per_pass: dict[int, dict[str, float]] = {}
            groups = tr.event_log_totals(self.args.event_log)
            for group, t in groups.items():  # "p<pass>|<unit>" or "check"
                p = (int(group[1:].split("|")[0])
                     if group.startswith("p") else None)
                acc = per_pass.setdefault(p, {})
                for k, v in t.items():
                    acc[k] = acc.get(k, 0.0) + v
            for k in EVENT_LOG_TOTALS:
                self.note(f"exec.{k}", median(
                    per_pass.get(p, {}).get(k, 0.0)
                    for p in self.traced_passes))
            result.update(
                layer={k: median(v) for k, v in self.layer.items()},
                layer_samples=self.layer, traced_passes=self.traced_passes,
                event_log_groups=groups, spans=self.tracer.spans)
        return result


def run_catalog(b: Bench) -> dict:
    from evidence_datasource_parsers_spark.forensics import result_hash
    from evidence_datasource_parsers_spark.plans import CATALOG

    spark, tracer, inputs = b.spark, b.tracer, b.args.inputs

    per_query: dict[str, list[float]] = {n: [] for n in CATALOG_QUERIES}

    def body(p: int) -> None:
        for name in CATALOG_QUERIES:
            t = time.perf_counter()
            spark.catalog.clearCache()
            group = f"p{p}|{name}"
            b.sc.setJobGroup(group, name)
            try:
                with tracer.span("plans", name):
                    df = CATALOG[name].builder(spark, inputs)
                with tracer.span("exec", name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — counted, reported
                b.failed.add(name)
                print(f"perfbench: {name} failed: {exc}", file=sys.stderr)
            per_query[name].append(time.perf_counter() - t)
            if tracer.active:
                for k, v in tr.job_group_counts(b.sc, group).items():
                    b.add(f"exec.{k}", v)

    def one_pass(p: int, traced: bool) -> float:
        return b.run_pass(p, body, traced)

    first = one_pass(0, False)
    for p in range(1, CATALOG_WARMUP_PASSES):
        one_pass(p, False)
    b.setup_s = time.perf_counter() - T0
    samples = b.timed(one_pass, CATALOG_WARMUP_PASSES)
    checks = {}
    b.sc.setJobGroup("check", "correctness checks")  # in no pass's totals
    for name in CATALOG_QUERIES:  # correctness, outside the timed passes
        try:
            pdf = CATALOG[name].builder(spark, inputs).toPandas()
            checks[name] = {"rows": len(pdf), "hash": result_hash(
                list(pdf.columns),
                list(pdf.itertuples(index=False, name=None)))}
        except Exception as exc:  # noqa: BLE001
            b.failed.add(name)
            print(f"perfbench: {name} check failed: {exc}", file=sys.stderr)
    if b.args.trace:
        b.span_medians("plans", None, "plans.build_s")
        b.span_medians("exec", None, "exec.exec_s")
        for name in CATALOG_QUERIES:
            b.span_medians("plans", name, f"{name}.build_s")
            b.span_medians("exec", name, f"{name}.exec_s")
    return {"units": CATALOG_QUERIES, "first_pass_s": first,
            "pass_samples": samples, "checks": checks,
            "unit_s": {n: median(v[-len(samples):])
                       for n, v in per_query.items()}}


def run_release(b: Bench) -> dict:
    import release

    from evidence_datasource_parsers_spark import runner as runner_mod
    from evidence_datasource_parsers_spark import validation

    spark, tracer, args = b.spark, b.tracer, b.args
    if args.trace:  # spans around the sink and validator that Runner.run calls
        sink, check = (runner_mod.write_evidence_strings,
                       validation.assert_json_schema)

        def traced_sink(df, path, *a, **kw):
            with tracer.span("sinks", os.path.basename(path)):
                sink(df, path, *a, **kw)
            b.add("sinks.bytes_written", os.path.getsize(path))
            b.add("sinks.files_written", 1)

        def traced_check(df, schema, *a, **kw):
            with tracer.span("validation", "json_schema"):
                check(df, schema, *a, **kw)

        runner_mod.write_evidence_strings = traced_sink
        validation.assert_json_schema = traced_check
    with open(os.path.join(args.inputs, "config.json")) as fh:
        config = json.load(fh)
    runner, enricher = release.build_runner(tracer.span)
    if args.trace:  # keys looked up, cache hits included
        lookup = enricher._lookup

        def counting_lookup(parts):
            b.add("enrich.keys", 1)
            return lookup(parts)

        enricher._lookup = counting_lookup
    out_dir = os.path.join(args.work, "out")
    names = list(runner.pipelines)
    outputs: dict[str, set] = {n: set() for n in names}
    per_pipeline: dict[str, list[float]] = {n: [] for n in names}

    def body(p: int) -> None:
        for name in names:
            group = f"p{p}|{name}"
            b.sc.setJobGroup(group, name)
            t = time.perf_counter()
            try:
                with tracer.span("runner", name):
                    runner.run(spark, config, out_dir=out_dir, only=[name])
            except Exception as exc:  # noqa: BLE001 — counted, reported
                b.failed.add(name)
                print(f"perfbench: {name} failed: {exc}", file=sys.stderr)
            per_pipeline[name].append(time.perf_counter() - t)
            if tracer.active:
                for k, v in tr.job_group_counts(b.sc, group).items():
                    b.add(f"exec.{k}", v)

    def one_pass(p: int, traced: bool) -> float:
        calls = enricher.calls
        wall = b.run_pass(p, body, traced)
        rows = 0
        for name in names:  # untimed output checks after every pass
            path = os.path.join(out_dir, f"{name}.json.gz")
            n, h = digest(path) if os.path.exists(path) else (0, "missing")
            outputs[name].add((n, h))
            rows += n
            if n == 0:
                b.failed.add(name)
        if traced:
            keys = b.acc.get("enrich.keys", 0)
            b.note("validation.rows_checked", rows)
            b.note("enrich.lookups", enricher.calls - calls)
            b.note("enrich.cache_hit_ratio",
                   1 - (enricher.calls - calls) / keys if keys else 0.0)
        return wall

    # setup ends before the cold pass, which first_pass_s reports on its own
    b.setup_s = time.perf_counter() - T0
    first = one_pass(0, bool(args.trace))
    if args.trace:  # the cold pass's enrichment, then only steady passes
        b.layer = {"enrich.first_pass_lookups": b.layer["enrich.lookups"]}
        b.traced_passes = []
    samples = b.timed(one_pass, 1)
    b.failed |= {n for n, seen in outputs.items() if len(seen) != 1}
    if args.trace:
        n_traced = len(b.traced_passes)
        for name in names:
            b.note(f"{name}.pass_s", median(per_pipeline[name][-n_traced:]))
        for p in b.traced_passes:
            runs = [s for s in tracer.spans
                    if s["layer"] == "runner" and s["pass"] == p]
            b.note("runner.self_s", sum(tracer.self_time(
                s, ("pipelines", "sinks", "validation")) for s in runs))
        for layer, key in (("pipelines", "pipelines.build_s"),
                           ("sources", "sources.read_s"),
                           ("sinks", "sinks.write_s"),
                           ("validation", "validation.validate_s")):
            b.span_medians(layer, None, key)
    return {"units": names, "first_pass_s": first, "pass_samples": samples,
            "unit_s": {n: median(v[1:]) for n, v in per_pipeline.items()},
            "outputs": {n: sorted(s)[0] for n, s in outputs.items()}}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    args.event_log = os.path.join(args.work, "eventlog")
    b = Bench(args)
    result = run_release(b) if args.workload == "release" else run_catalog(b)
    result = b.finish(result)
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
