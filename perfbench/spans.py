"""Spans and Spark counters for the traced benchmark run.

A span is recorded around each call into a layer of the package (``op`` is
the root of one operation; ``operators.build``, ``plans``, ``exec``,
``sources.jdbc.scan_build`` and ``sinks.write_jdbc_atomic`` are its
children). Spans stay in memory and are written out when the run ends.

Counters come from Spark's own bookkeeping at the same boundaries: every
call runs under its own job group, and the status store is read for the
jobs of that group once the call has returned. With tracing off the
recorder does nothing, so untraced runs pay for neither.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Recorder:
    """In-memory spans of one run; a no-op when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._op = 0
        self._groups = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int, group: bool = False):
        """Time ``name``; with ``group`` its Spark jobs run under a fresh job
        group whose id is stored on the span (read it with ``jobs``)."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        if group:
            self._groups += 1
            rec["group"] = f"perfbench-{self._groups}"
            self._sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self._jsc.clearJobGroup()

    def jobs(self, rec: dict) -> dict[str, float]:
        """Status-store totals over the jobs of a grouped span."""
        if "group" not in rec:
            return {}
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_records",
             "job_ms"), 0.0)
        for jid in self._sc.statusTracker().getJobIdsForGroup(rec["group"]):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Exception:  # noqa: BLE001 — a stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_ms"] += st.executorRunTime()
                out["task_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["input_records"] += st.inputRecords()
        return out

    def op_counters(self, op: int) -> dict[str, float]:
        """Flat counters of one finished op: ``<span>.ms`` for each child
        span and ``<span>.<counter>`` for the jobs of each grouped one."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] != op or s["parent"] is None:
                continue
            out[f"{s['name']}.ms"] = out.get(f"{s['name']}.ms", 0.0) + duration_ms(s)
            for k, v in self.jobs(s).items():
                out[f"{s['name']}.{k}"] = out.get(f"{s['name']}.{k}", 0.0) + v
        return out

    def persisted(self) -> tuple[int, float]:
        """(count, MB) of RDD blocks the block manager holds right now."""
        infos = self._jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def duration_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1e3


def self_times_ms(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover. Children of
    one span run one after another, so their durations simply add up."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + duration_ms(s)
    return {s["id"]: duration_ms(s) - child_ms.get(s["id"], 0.0) for s in spans}


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded by the DataFrame's query tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out
