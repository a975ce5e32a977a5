"""Spans and per-op layer counters, taken from outside the program.

A ``Tracer`` wraps each benchmark op.  Disabled, it only times the public
call and its action.  Enabled (``--trace 1``), it also:

- records spans ``(name, start, end, parent, op_id)`` in memory for the op,
  its public call and its action, written once by ``dump``;
- tags the op's Spark jobs with ``setJobGroup(op_id)`` and reads jobs,
  tasks, executor run time and shuffle-write bytes back from Spark's status
  tracker and status store;
- reads Catalyst's analysis + optimization + planning time from the
  executed DataFrame's ``queryExecution().tracker()``;
- walks the lake roots before and after write ops for bytes written.

Everything the enabled tracer does between the call and action spans is
bookkeeping; its total is reported as the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from benchmetrics import bytes_created, tree_files

LAZY_METRICS = ("call_s", "action_s", "catalyst_ms", "jobs", "tasks",
                "exec_cpu_s", "shuffle_mb")
WRITE_METRICS = ("call_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb",
                 "bytes_written")
CATALYST_PHASES = ("analysis", "optimization", "planning")


class OpRecord:
    """What one op measured: its latency and, when traced, its layer
    counters."""

    def __init__(self, name: str, op_id: str):
        self.name, self.op_id = name, op_id
        self.latency_s = 0.0
        self.layer: dict[str, float] = {}
        self.parts: list[tuple[str, float, float]] = []


class Tracer:
    def __init__(self, spark, enabled: bool, lake_roots: list[str]):
        self.spark = spark
        self.enabled = enabled
        self.lake_roots = lake_roots
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._seq = 0

    def _span(self, name, start, end, parent, op_id) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           "op_id": op_id})
        return len(self.spans) - 1

    @contextmanager
    def op(self, name: str, lazy: bool):
        """Context for one op; the body runs ``rec.call`` then, for lazy
        ops, ``rec.action``."""
        self._seq += 1
        rec = OpRecord(name, f"bench-{self._seq:05d}-{name}")
        t_enter = time.perf_counter()
        if self.enabled:
            self.spark.sparkContext.setJobGroup(rec.op_id, name)
            before = None if lazy else tree_files(self.lake_roots)
        t_body = time.perf_counter()
        try:
            yield rec
        finally:
            t_done = time.perf_counter()
            if self.enabled:
                self.spark.sparkContext._jsc.clearJobGroup()
                rec.layer.update(self._spark_counters(rec.op_id))
                if not lazy:
                    rec.layer["bytes_written"] = float(bytes_created(
                        before, tree_files(self.lake_roots)))
                t_exit = time.perf_counter()
                parent = self._span(name, t_enter, t_exit, None, rec.op_id)
                for cname, a, b in rec.parts:
                    self._span(f"{name}/{cname}", a, b, parent, rec.op_id)
                self.overhead_s += (t_body - t_enter) + (t_exit - t_done)

    @contextmanager
    def timed(self, rec: OpRecord, part: str):
        """Time one part of an op (``call`` or ``action``); the op's
        latency is the sum of its parts."""
        a = time.perf_counter()
        try:
            yield
        finally:
            b = time.perf_counter()
            rec.latency_s += b - a
            rec.layer[f"{part}_s"] = b - a
            rec.parts.append((part, a, b))

    def catalyst(self, rec: OpRecord, df) -> None:
        """Catalyst analysis + optimization + planning of an executed
        DataFrame, in ms."""
        if not self.enabled:
            return
        a = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()  # Scala Map
        total = 0.0
        for p in CATALYST_PHASES:
            summary = phases.get(p)
            if summary.isDefined():
                total += summary.get().durationMs()
        rec.layer["catalyst_ms"] = total
        self.overhead_s += time.perf_counter() - a

    def _spark_counters(self, group: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = run_ms = shuffle_b = 0
        for s in stages:
            try:
                data = store.stageAttempt(s, 0, False, None, False, None)._1()
            except Exception:  # noqa: BLE001 — stage never ran (skipped)
                continue
            if str(data.status()) == "SKIPPED":
                continue
            tasks += data.numTasks()
            run_ms += data.executorRunTime()
            shuffle_b += data.shuffleWriteBytes()
        return {"jobs": float(len(jobs)), "tasks": float(tasks),
                "exec_cpu_s": run_ms / 1000.0,
                "shuffle_mb": shuffle_b / 1e6}

    def gc_ms(self) -> float:
        """Total JVM collector time so far, in ms."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime()
                         for b in mf.getGarbageCollectorMXBeans()))

    def dump(self, path: str) -> None:
        """Write every span once, with each span's self time (duration minus
        the time its children cover)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = (child_cover.get(s["parent"], 0.0)
                                            + s["end"] - s["start"])
        out = [dict(s, self_s=s["end"] - s["start"]
                    - child_cover.get(s["id"], 0.0)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f)


def layer_table(records: list[OpRecord], op_names: list[str]
                ) -> dict[str, float]:
    """Median of each layer counter per op type, named
    ``<module>.<op>.<metric>``; op types that did not run read 0."""
    out = {}
    for name, lazy in op_names:
        recs = [r for r in records if r.name == name]
        for m in (LAZY_METRICS if lazy else WRITE_METRICS):
            vals = [r.layer[m] for r in recs if m in r.layer]
            out[f"{name}.{m}"] = statistics.median(vals) if vals else 0.0
    return out
