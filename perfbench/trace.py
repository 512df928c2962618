"""Spans and Spark counters for the traced run.

A span is (id, name, layer, start, end, parent, op id), kept in memory
and written to a JSON file when the run ends.  Spans wrap the
benchmark's own calls into each layer's public functions; nothing inside
the engine is instrumented.

Spans opened with ``jobs=True`` are leaves: their Spark jobs run under a
job group named after the span, so afterwards the status store gives the
span's jobs, stages, tasks, executor time, GC, bytes and spill.  A
``QueryExecutionListener`` (a py4j callback, registered only while
tracing) hands over the Catalyst phase times of every action, and each
action's phases are added to the leaf span it ran in.

With tracing off every method is a cheap no-op, so the untraced run
measures the engine alone.  The tracer times its own bookkeeping
(listener-bus drains and status-store reads around each leaf span) as
the tracing overhead of each op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: status-store stage fields summed per span, by metric name
STAGE_FIELDS = {
    "run_ms": ("executorRunTime",),
    "cpu_ms": ("executorCpuTime",),  # ns, converted below
    "gc_ms": ("jvmGcTime",),
    "input_bytes": ("inputBytes",),
    "shuffle_read_bytes": ("shuffleReadBytes",),
    "shuffle_write_bytes": ("shuffleWriteBytes",),
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}
PHASES = ("analysis", "optimization", "planning")


class _PhaseListener:
    """Receives each finished action's QueryExecution on the listener
    bus and keeps its Catalyst phase durations."""

    def __init__(self):
        self.pending: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = qe.tracker().phases()
        self.pending.append({p: phases.get(p).get().durationMs() for p in PHASES if phases.contains(p)})

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._seq = 0
        self._listener: _PhaseListener | None = None
        #: seconds spent in span bookkeeping since last reset: the
        #: synchronous cost tracing adds to the op being traced
        self.cost_s = 0.0

    # -- switching -----------------------------------------------------

    def _bus_drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def set_enabled(self, on: bool) -> None:
        if on == self.enabled:
            return
        manager = self.spark._jsparkSession.listenerManager()
        if on:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.spark.sparkContext._gateway)
            self._listener = _PhaseListener()
            manager.register(self._listener)
        else:
            self._bus_drain()
            manager.unregister(self._listener)
            self._listener = None
        self.enabled = on

    @contextmanager
    def op(self, op_id: str):
        """Group the spans of one unit of work (a request, a pass, ...)."""
        prev, self.op_id = self.op_id, op_id
        try:
            yield
        finally:
            self.op_id = prev

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str, *, jobs: bool = True):
        """Time a call into ``layer``; with ``jobs`` (leaf spans only)
        also collect the Spark work and Catalyst phases it caused.
        Yields the span record, or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        self._seq += 1
        sid = self._seq
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        sc = self.spark.sparkContext
        group = f"span-{sid}"
        if jobs:
            self._bus_drain()
            self._listener.pending.clear()
            sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(self.exec_counters(group))
                for phases in self._listener.pending:
                    for p, v in phases.items():
                        rec[f"{p}_ms"] = rec.get(f"{p}_ms", 0) + v
                self._listener.pending.clear()
            self.spans.append(rec)
            self.cost_s += (rec["start"] - t_enter) + (time.perf_counter() - rec["end"])

    def exec_counters(self, group: str) -> dict:
        """Sum the completed stages of every job in ``group``."""
        sc = self.spark.sparkContext
        self._bus_drain()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in list(info.stageIds):
                sd = store.lastStageAttempt(stage_id)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for key, fields in STAGE_FIELDS.items():
                    out[key] += sum(getattr(sd, f)() for f in fields)
        out["cpu_ms"] /= 1e6
        return out

    def cache_bytes(self) -> int:
        """Bytes held by cached frames right now (memory + disk)."""
        jsc = self.spark.sparkContext._jsc.sc()
        return sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0
