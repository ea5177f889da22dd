"""Benchmark of the evidence engine, driven from outside through its public
entry points.

    python3 perfbench/run.py --workload catalog|release --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  In order, this process:

1. generates the workload's inputs from ``--seed`` (numpy/pyarrow, no JVM)
   under ``.perfbench-work/``;
2. for ``catalog``, computes each query's DuckDB oracle result hash on those
   inputs (``__spark_entry__.oracle_sql()``);
3. starts the measured process (``worker.py``) with a fixed machine fit —
   ``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``, ``SPARK_LOCAL_DIRS`` —
   waits for it and for every process it started;
4. checks the outputs and prints the metrics as one JSON object on the last
   line of stdout: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1`` (which also writes a per-layer report with all
   spans to ``.perfbench-work/report-<workload>-<seed>.json``).

Exits non-zero without a result line if the engine is missing or the
measured process fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from tracing import session_pids  # noqa: E402
from workloads import (  # noqa: E402
    CATALOG_QUERIES,
    CATALOG_SIZES,
    RELEASE_ROWS,
    WORKLOADS,
)

#: Machine fit, the same on every run: local[k] with k <= nproc, a fixed
#: heap ceiling, and shuffle partitions = k (the session factory's default).
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
DEADLINE_S = 170


def bench_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def generate(workload: str, seed: int, work: str) -> tuple[str, dict]:
    """Write the inputs; returns their directory and what was generated."""
    inputs = os.path.join(work, "inputs")
    if workload == "catalog":
        import gen_catalog

        return inputs, gen_catalog.generate(inputs, seed, **CATALOG_SIZES)
    import gen_release

    config = gen_release.generate(inputs, seed, RELEASE_ROWS)
    with open(os.path.join(inputs, "config.json"), "w") as fh:
        json.dump(config, fh)
    return inputs, {"rows_per_input": RELEASE_ROWS}


def oracle_hashes(inputs: str) -> dict[str, dict]:
    import duckdb

    from __spark_entry__ import oracle_sql
    from evidence_datasource_parsers_spark.forensics import TABLES, result_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    sql = oracle_sql()
    out = {}
    for name in CATALOG_QUERIES:
        pdf = con.sql(sql[name]).df()
        out[name] = {"rows": len(pdf), "hash": result_hash(
            list(pdf.columns), list(pdf.itertuples(index=False, name=None)))}
    con.close()
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def reap(proc: subprocess.Popen) -> None:
    """Kill whatever the measured process left in its session (it leads
    the session) and wait until every such process has ended."""
    for _ in range(200):
        pids = session_pids(proc.pid)
        if not pids:
            proc.wait()
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        proc.poll()
    raise RuntimeError(f"processes of session {proc.pid} did not exit")


def measure(args, inputs: str, work: str) -> dict:
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
               # every JVM, the spark-submit launcher's too: temp files in
               # the work dir, no /tmp/hsperfdata
               JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={tmp}"
                                  " -XX:+PerfDisableSharedMem"),
               PYSPARK_SUBMIT_ARGS=(
                   f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_MEM}"
                   f" --conf spark.sql.warehouse.dir={work}/warehouse"
                   " --conf spark.ui.showConsoleProgress=false"
                   " pyspark-shell"))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--inputs", inputs, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic()
                                                      - args.t0)))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        reap(proc)
    if code != 0:
        raise RuntimeError(f"measured process failed (exit {code})")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.t0 = time.monotonic()
    # a terminated launcher still reaps the measured process (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:  # the engine must be in the checkout
        import __spark_entry__  # noqa: F401
        e2e, per_layer = bench_metrics()
    except (ImportError, OSError) as exc:
        print(f"perfbench: engine not found in {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, generated = generate(args.workload, args.seed, work)
        expected = (oracle_hashes(inputs) if args.workload == "catalog"
                    else None)
        steal = steal_s()
        r = measure(args, inputs, work)
        steal = steal_s() - steal
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = set(r["failed"])
    if expected is not None:
        bad |= {q for q in CATALOG_QUERIES if r["checks"].get(q) != expected[q]
                or expected[q]["rows"] == 0}
    attempted = len(r["units"])
    samples = r["pass_samples"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": CPUS,
        "nproc": os.cpu_count(), "driver_mem": DRIVER_MEM,
        "inputs": generated, "host_steal_s": steal,
        "pass_samples": samples, "unit_s": r["unit_s"],
        "failed_units": sorted(bad),
        "checks": r.get("checks") or r.get("outputs"),
    }))
    if args.trace:
        layer = r["layer"]
        report = os.path.join(ROOT, ".perfbench-work",
                              f"report-{args.workload}-{args.seed}.json")
        with open(report, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       **{k: r[k] for k in ("layer", "layer_samples",
                                            "traced_passes",
                                            "event_log_groups", "spans")}},
                      fh)
        print(f"perfbench: per-layer report in {report}", file=sys.stderr)
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in per_layer.items()}
    else:
        values = {"setup_s": r["setup_s"], "pass_s": median(samples),
                  "first_pass_s": r["first_pass_s"],
                  "peak_rss_mb": r["peak_rss_mb"],
                  "ok_ratio": (attempted - len(bad)) / attempted}
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in e2e.items()}
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
