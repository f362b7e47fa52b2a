"""Spans and per-layer counters, recorded from outside the package.

Spans are kept in memory and written out as JSON lines when the run ends.
Every counter comes from a public Spark surface read over py4j: the status
tracker and status store (jobs, stages, tasks, shuffle, spill, input
records), the query-planning tracker (Catalyst phases) and the executed
plan's SQL metrics (files and rows a scan read).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans: name, start, end, parent span, op id and counters."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter_ns()

    @contextmanager
    def span(self, name: str, op: int, parent: int | None = None, **attrs):
        rec = {"id": len(self.spans), "op": op, "parent": parent, "name": name}
        rec.update(attrs)
        self.spans.append(rec)
        rec["start_us"] = (time.perf_counter_ns() - self._t0) // 1000
        try:
            yield rec
        finally:
            rec["end_us"] = (time.perf_counter_ns() - self._t0) // 1000

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def span_ms(rec: dict) -> float:
    return (rec["end_us"] - rec["start_us"]) / 1000.0


def group_counters(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks, shuffle-write bytes, spilled bytes and input
    records of every job run under job group ``group``."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict(jobs=0, stages=0, tasks=0, shuffle_write_bytes=0, spill_bytes=0,
               input_records=0)
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            try:
                attempts = store.stageData(sid, False, [], False, no_quantiles)
            except Py4JJavaError:  # evicted from the store
                continue
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numTasks()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                out["input_records"] += d.inputRecords()
    return out


def catalyst_phases(jdf) -> dict[str, float]:
    """Analysis, optimization and planning time of ``jdf``'s own query
    execution. Forces planning if it has not happened yet."""
    qe = jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
        for p in ("analysis", "optimization", "planning")
    }


def scan_counters(jdf) -> tuple[int, int]:
    """(files read, rows output) summed over every file scan of ``jdf``'s
    executed plan, adaptive query stages included."""
    files = rows = 0
    todo = [jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if p.nodeName().startswith("Scan "):
            m = p.metrics()
            if m.contains("numFiles"):
                files += m.apply("numFiles").value()
            if m.contains("numOutputRows"):
                rows += m.apply("numOutputRows").value()
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return files, rows


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def jit_by_round(marks: list[float], window: int) -> dict[str, list[float]]:
    """JIT compile ms spent in each warm-up phase and each window round,
    from cumulative readings taken after every phase and round; ``window``
    is the index of the reading taken when the window opened."""
    d = [b - a for a, b in zip(marks, marks[1:])]
    return {"jit_ms_warm": d[:window], "jit_ms_window": d[window:]}
