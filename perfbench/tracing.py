"""In-memory tracing for the benchmark's traced runs.

Spans (name, layer, start, end, parent id, pass) are kept in a list and
written out once at exit.  Everything here reads state from outside the
program: ``/proc`` for process trees and CPU time, the JVM's management
beans over py4j, Spark's StatusTracker, and the uncompressed event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans with parent ids; inactive spans cost one attribute check."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no = -1

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield None
            return
        rec = {"id": len(self.spans), "layer": layer, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_no, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, rec: dict, layers: tuple[str, ...] | None = None
                  ) -> float:
        """Duration of ``rec`` minus the time its direct children (of the
        given layers, or all) cover."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"]
                   and (layers is None or s["layer"] in layers))
        return rec["end"] - rec["start"] - kids

    def total(self, layer: str, pass_no: int, name: str | None = None
              ) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["layer"] == layer and s["pass"] == pass_no
                   and (name is None or s["name"] == name))


def stat_fields(pid: int | str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state, ppid,
    pgrp, session, ...), or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def all_stats() -> dict[int, list[str]]:
    """``stat_fields`` of every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = stat_fields(entry)
            if fields is not None:
                out[int(entry)] = fields
    return out


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    return [pid for pid, f in all_stats().items()
            if int(f[3]) == sid and f[0] != "Z"]


def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for child, f in all_stats().items():
        kids[int(f[1])].append(child)
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.add(k)
            todo.append(k)
    return out


def cpu_seconds(pid: int) -> float:
    fields = stat_fields(pid)
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


class WorkerSampler:
    """Counts Python worker processes first seen under the JVM while it
    runs, by sampling the JVM's process tree in a background thread.  It is
    started and stopped around each traced pass, so its cost falls in the
    traced passes only."""

    def __init__(self, jvm_pid: int, interval: float = 0.02) -> None:
        self.jvm_pid, self.interval = jvm_pid, interval
        self.seen = descendants(jvm_pid)
        self.new = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            now = descendants(self.jvm_pid)
            self.new += len(now - self.seen)
            self.seen |= now

    def stop(self) -> int:
        """Stop sampling; returns the number of new processes seen."""
        self._stop.set()
        self._thread.join()
        return self.new


def jvm_counters(spark, jvm_pid: int) -> dict[str, float]:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime()
        / 1000.0,
        "gc_s": sum(b.getCollectionTime()
                    for b in mf.getGarbageCollectorMXBeans()) / 1000.0,
        "cpu_s": cpu_seconds(jvm_pid),
    }


def heap_after_gc_mb(spark) -> float:
    """Heap in use right after the latest collection of each heap pool
    (``MemoryPoolMXBean.getCollectionUsage``): the data the program keeps
    live, which a fixed heap ceiling hides from the resident set size."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    used = 0
    for pool in mf.getMemoryPoolMXBeans():
        usage = pool.getCollectionUsage()
        if pool.getType() == heap and usage is not None:
            used += usage.getUsed()
    return used / 2**20


def job_group_counts(sc, group: str) -> dict[str, int]:
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None:
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from Spark's uncompressed event log, summed per job
    group: shuffle bytes, spill and executor run/CPU seconds."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(
        float))
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    t = totals[group]
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written",
                                                       0)
                    t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    return {g: dict(t) for g, t in totals.items()}
