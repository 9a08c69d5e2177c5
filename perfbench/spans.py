"""Spans around the engine calls the benchmark makes, with Spark counts
taken at the same boundaries.

Each span runs its Spark work under a job group of its own, so the jobs,
stages and tasks it caused are read back from ``statusTracker`` and
``statusStore().lastStageAttempt`` when it ends. Spans of one tick batch
or one query share a trace id. With tracing off every call is a no-op,
so the timed runs carry none of this bookkeeping.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_write_bytes",
    "input_bytes", "input_rows", "scan_tasks",
)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._spark = spark
        self._stack: list[dict] = []
        # time the tracer spends on its own bookkeeping (the trace overhead
        # inside a traced run)
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield None
            return
        sc = self._spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": trace_id,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            t0 = time.perf_counter()
            if parent is not None:
                sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                sc._jsc.clearJobGroup()
            rec.update(self._counts(group))
            self.bookkeeping_s += time.perf_counter() - t0

    def _counts(self, group: str) -> dict:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            out["jobs"] += 1
            for stage_id in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                if sd.inputBytes() > 0:
                    out["input_bytes"] += sd.inputBytes()
                    out["input_rows"] += sd.inputRecords()
                    out["scan_tasks"] += sd.numTasks()
        return out

    def timed_jvm(self, fn):
        """Run ``fn`` (a JVM probe) and book its time as overhead."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    def codegen_ns(self) -> int:
        jvm = self._spark._jvm
        return self.timed_jvm(
            lambda: jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        )

    def planner_ms(self, df) -> float:
        """Analysis + optimization + planning time of ``df``'s plan, read
        from the query-planning tracker after forcing the physical plan."""

        def probe() -> float:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().iterator()
            total = 0.0
            while it.hasNext():
                total += it.next()._2().durationMs()
            return total

        return self.timed_jvm(probe)

    def by_trace(self, trace_id: str) -> list[dict]:
        return [s for s in self.spans if s["trace"] == trace_id]

    def dump(self, path: str) -> None:
        """Write every span with its self time: its duration minus the
        part of it its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["dur_ms"] = (s["end"] - s["start"]) * 1e3
                row["self_ms"] = self_time_ms(s, children.get(s["id"], []))
                f.write(json.dumps(row) + "\n")


def self_time_ms(span: dict, children: list[dict]) -> float:
    """Span duration minus the union of its children's intervals."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], span["start"]), min(c["end"], span["end"])
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span["end"] - span["start"] - covered) * 1e3
