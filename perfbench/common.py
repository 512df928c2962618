"""Shared pieces of the workloads: metric names, the result record, the
timed loop and the per-layer summary."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from trace import ms

#: Curation gates of the declarative pipeline, as PipelineAudit names them.
PIPELINE_GATES = (
    "ingest", "quality_gate", "pii_redact", "dedup_exact", "decontaminate",
    "dedup_neardup", "lang_filter", "split",
)

#: Endpoints of the serve mix, for the per-endpoint CPU metrics.
SERVE_ENDPOINTS = ("compare", "dashboard", "facets", "page", "question", "stats", "suggest")
#: Streaming maintainers a curate pass drains.
MAINTAINERS = ("readability",)

#: End-to-end metrics, reported by every workload (``--trace 0``).  The
#: cost of a unit of work (a request, a pass) is the CPU time of the whole
#: process tree, averaged over whole request cycles: on a shared host the
#: wall time of the same run varies up to 2x with the CPU other guests
#: take (steal), and the median of 10-20 requests from a mix of cheap and
#: dear endpoints jumps between them.  Wall-clock latencies, the
#: median and p90 included, are in the ``info`` line, unbounded: a change
#: that only adds waiting or loses parallelism, at the same CPU time,
#: passes the bounds.  Memory is the
#: tree's PSS: summed RSS counted pages shared with forked Python workers
#: once per worker and jumped with their number.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "peak_pss_mb": "MB",
}

EXEC_KEYS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)

#: Per-layer metrics (``--trace 1``), in report order.  ``construct_*``
#: and ``action_ms`` belong to the layer the workload drives: ``serving``
#: on serve, ``pipeline`` + ``ml`` on curate.  The ml and pipeline
#: counts are 0 on serve, which never calls those layers.
LAYER_METRICS: dict[str, str] = {
    "construct_ms": "ms",
    "construct_jobs": "count",
    "action_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **{f"exec.{k}": ("ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes") else "count")
       for k in EXEC_KEYS},
    "exec.busy_share": "ratio",
    "ml.lsh_candidates": "count",
    "ml.lsh_kept": "count",
    "ml.lsh_precision": "ratio",
    "ml.neardup_recall": "ratio",
    **{f"pipeline.stage_rows.{g}": "count" for g in PIPELINE_GATES},
    **{f"serving.cpu_ms.{e}": "ms" for e in SERVE_ENDPOINTS},
    **{f"streaming.fold_ms.{m}": "ms" for m in MAINTAINERS},
    "streaming.rows_in": "count",
    **{f"streaming.state_rows.{m}": "count" for m in MAINTAINERS},
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.fold_growth": "ratio",
    "operators.cache_bytes": "bytes",
    "catalog.load_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "ratio",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (inclusive), defined for one sample."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    aliases: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(self.checks.values())


@dataclass
class Op:
    """One unit of work of the timed loop."""

    index: int
    kind: str
    start: float = 0.0
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    jit_start: float = 0.0
    jit_end: float = 0.0
    ok: bool = True
    payload: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def cpu_ms(self) -> float:
        """CPU time of the process tree while the op ran."""
        return (self.cpu_end - self.cpu_start) * 1000.0

    @property
    def jit_ms(self) -> float:
        """The part of :attr:`cpu_ms` the JVM's JIT compiler threads used."""
        return (self.jit_end - self.jit_start) * 1000.0


def timed_loop(ctx, seconds: float, work, cycle: int = 1) -> list[Op]:
    """Closed loop over ``work``, an iterator of ``(kind, step)``: call
    ``step(op)`` until ``seconds`` have passed and the op count is a
    whole number of ``cycle``s, so every run measures the same mix.  In
    the traced run every op is traced.  An op that raises is counted
    failed, and the loop goes on."""
    tr = ctx.tracer
    tr.set_enabled(ctx.trace)
    ops: list[Op] = []
    ctx.mem.window(True)
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while time.perf_counter() < deadline or len(ops) % cycle:
        kind, step = next(work)
        op = Op(len(ops), kind)
        tr.cost_s = 0.0
        op.cpu_start, op.jit_start = ctx.cpu_s()
        with tr.op(f"op-{op.index}"):
            op.start = time.perf_counter()
            try:
                step(op)
            except Exception as e:  # a failed operation is a result, not a crash
                op.ok = False
                op.payload["error"] = f"{type(e).__name__}: {e}"
            op.end = time.perf_counter()
        op.cpu_end, op.jit_end = ctx.cpu_s()
        if ctx.trace:
            op.payload["trace_ms"] = tr.cost_s * 1000.0
            op.payload["cache_bytes"] = tr.cache_bytes()
        ops.append(op)
    tr.set_enabled(False)
    ctx.phase_s["loop"] = time.perf_counter() - t0
    ctx.mem.window(False)
    return ops


def cost_metrics(ops: list[Op]) -> dict[str, float]:
    """Cost per op, over all the run's ops: CPU time (bounded), the part
    of it the JIT compilers used and the rest, and wall time (the last
    three in ``info`` only)."""
    return {
        "cpu_ms_per_op": statistics.mean(o.cpu_ms for o in ops),
        "jit_ms_per_op": statistics.mean(o.jit_ms for o in ops),
        "work_cpu_ms_per_op": statistics.mean(o.cpu_ms - o.jit_ms for o in ops),
        "wall_ms_per_op": statistics.mean(o.ms for o in ops),
    }


def layer_summary(ctx, ops: list[Op]) -> dict[str, float]:
    """Per-layer metrics from the spans of the traced run, plus the same
    construct/action split per layer under ``<layer>.*`` names.  Times
    are medians per op; counts and bytes are means per op."""
    out = {k: 0.0 for k in LAYER_METRICS}
    if not ops or not ctx.trace:
        return out
    spans = ctx.tracer.spans

    def per_op(pred, value) -> list[float]:
        sums = {f"op-{o.index}": 0.0 for o in ops}
        for s in spans:
            if s["op"] in sums and pred(s):
                sums[s["op"]] += value(s)
        return list(sums.values())

    layers = sorted({s["layer"] for s in spans if s["name"] in ("construct", "action")})
    for prefix, pred in [("", lambda s: True)] + [
        (f"{layer}.", lambda s, layer=layer: s["layer"] == layer) for layer in layers
    ]:
        out[f"{prefix}construct_ms"] = median(per_op(lambda s: pred(s) and s["name"] == "construct", ms))
        out[f"{prefix}construct_jobs"] = statistics.mean(
            per_op(lambda s: pred(s) and s["name"] == "construct", lambda s: s.get("jobs", 0))
        )
        out[f"{prefix}action_ms"] = median(per_op(lambda s: pred(s) and s["name"] == "action", ms))

    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = median(per_op(lambda s: True, lambda s: s.get(f"{phase}_ms", 0)))
    for k in EXEC_KEYS:
        out[f"exec.{k}"] = statistics.mean(per_op(lambda s: True, lambda s: s.get(k, 0)))
    wall_ms = sum(o.ms for o in ops)
    out["exec.busy_share"] = out["exec.run_ms"] * len(ops) / (wall_ms * ctx.cores)
    out["operators.cache_bytes"] = max(o.payload["cache_bytes"] for o in ops)
    out["trace.overhead_ms"] = median(o.payload["trace_ms"] for o in ops)
    out["trace.overhead_share"] = median(o.payload["trace_ms"] / (o.ms - o.payload["trace_ms"]) for o in ops)
    return out
