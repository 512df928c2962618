#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (serve or curate) against the engine
in this checkout, on ``local[nproc]`` in one process.  Inputs are made
from ``--seed`` under ``.perfbench/`` in the working directory, the
timed loop runs for ``--seconds``, outputs are checked after the loop,
and the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans and Spark counters (see NOTES.md).  The
line before it is a JSON ``info`` object: run hygiene (revision, nproc,
Spark version, every ``SPARK_GRAFT_*`` value, CPU steal), wall-clock and
other metrics under workload-prefixed names (``serve.p50_ms``, ...), and
sample counts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

# The engine must come from this checkout; without it there is nothing
# to measure and the import error ends the run before any result.
import lexam_data_pipeline_spark  # noqa: E402,F401

WORKLOADS = ("serve", "curate")
#: A/B knobs that change query shapes: a run with one set measures a
#: variant, not the revision, so it is refused.
AB_KNOBS = ("SPARK_GRAFT_QOPT", "SPARK_GRAFT_SCAN_FANOUT", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
SETUP_REPEATS = 3
DRIVER_MEM = "2g"
#: no JVM perf-data file in /tmp: the run writes only inside the
#: checkout; JIT compiler threads live as long as the JVM, so their CPU
#: time can be read per op
JVM_OPTS = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


#: HotSpot's JIT compiler threads ("C1 CompilerThread0", ...), as the
#: kernel truncates thread names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jiffies(stat_path: str) -> int:
    """user + system + reaped children's user + system, in clock ticks."""
    with open(stat_path) as fh:
        return sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its descendants: the JVM, the Python
    workers; and the part of it the JVM's JIT compiler threads used.
    Time the hypervisor gives to other guests (steal) is in neither."""
    total = jit = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            total += _jiffies(f"/proc/{pid}/stat")
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError, ValueError):
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if fh.read().startswith(JIT_THREADS):
                        jit += _jiffies(f"/proc/{pid}/task/{tid}/stat")
            except (OSError, IndexError, ValueError):
                continue
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


def _memory_mb(pids: list[int]) -> tuple[float, float]:
    """(RSS, PSS) of ``pids`` in MiB.  Forked Python workers share pages
    with their parent: RSS counts a shared page once per process, PSS
    splits it between them, so only PSS sums to the tree's footprint."""
    rss = pss = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Rss:"):
                        rss += int(line.split()[1])
                    elif line.startswith("Pss:"):
                        pss += int(line.split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return rss / 1024, pss / 1024


def _cpu_times() -> list[int] | None:
    """Aggregate jiffies from /proc/stat (user nice system idle iowait
    irq softirq steal ...), or None where there is no /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests: on a shared
    host it slows every timing, so it is recorded next to them."""
    if not before or not after or len(before) < 8:
        return None
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else None


class MemorySampler:
    """Peak RSS and PSS of this process and all its descendants (the JVM
    and Python workers), sampled every ``interval`` seconds: over the
    whole run, and over the timed window only."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_rss = self.peak_pss = 0.0
        self.window_rss = self.window_pss = 0.0
        self.in_window = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        rss, pss = _memory_mb(_tree_pids(os.getpid()))
        self.peak_rss, self.peak_pss = max(self.peak_rss, rss), max(self.peak_pss, pss)
        if self.in_window:
            self.window_rss, self.window_pss = max(self.window_rss, rss), max(self.window_pss, pss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def window(self, on: bool) -> None:
        """Open or close the timed window, with a sample at each edge."""
        if on:
            self.in_window = True
        self.sample()
        self.in_window = on

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def hygiene() -> dict:
    graft = {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    digest = hashlib.sha256()
    pkg = ROOT / "lexam_data_pipeline_spark"
    for path in sorted(pkg.rglob("*.py")):
        digest.update(str(path.relative_to(ROOT)).encode())
        digest.update(path.read_bytes())
    return {
        "git_rev": rev,
        "source_sha256": digest.hexdigest(),
        "nproc": nproc(),
        "spark_graft_env": graft,
    }


class Context:
    """What a workload gets: the session, its inputs dir, the clock, the
    memory sampler and the tracer."""

    def __init__(self, spark, args, work: Path, tracer, mem: MemorySampler):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.mem = mem
        self.cores = nproc()
        self.cpu_s = tree_cpu_s
        #: wall time of each catalog.load_table call, in ms
        self.load_ms: list[float] = []
        #: wall seconds of the run's phases and of each set-up, for the
        #: info line
        self.phase_s: dict[str, float] = {}
        self.setup_times_s: list[float] = []

    def reset_caches(self) -> None:
        """Drop every engine-side cache so the next set-up starts cold."""
        from lexam_data_pipeline_spark import catalog
        from lexam_data_pipeline_spark.operators.caching import release_all

        release_all()
        catalog._TABLE_CACHE.clear()
        self.spark.catalog.clearCache()

    def setup(self, fn):
        """Run ``fn`` (set-up of the workload's inputs)
        :data:`SETUP_REPEATS` times, each after dropping the engine's
        caches; return its last result and the median wall time in
        seconds.  Only the first open is cold: the later ones find the
        JVM compiled and the file system cached, as a server that
        reopens its tables does."""
        times, out = [], None
        for _ in range(SETUP_REPEATS):
            self.reset_caches()
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
        self.phase_s["setup"] = sum(times)
        self.setup_times_s = times
        return out, statistics.median(times)


def make_session(work: Path):
    from lexam_data_pipeline_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep every temp file inside the checkout: Python's and the JVM's
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and every worker to exit."""
    from pyspark import SparkContext

    pids = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    for pid in pids:
        while time.monotonic() < deadline and os.path.exists(f"/proc/{pid}"):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    knobs = [k for k in AB_KNOBS if k in os.environ]
    if knobs:
        print(f"refusing to run with A/B knobs set: {', '.join(knobs)}", file=sys.stderr)
        return 2

    import importlib

    from trace import Tracer

    workload = importlib.import_module(f"wl_{args.workload}")
    work = Path.cwd() / ".perfbench" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "inputs").mkdir(parents=True)

    t_start = time.perf_counter()
    cpu0 = _cpu_times()
    mem = MemorySampler()
    mem.start()
    # inputs are written while the JVM starts: both are set-up work the
    # timed loop never sees
    gen_box: list = []
    gen_thread = threading.Thread(
        target=lambda: gen_box.append(workload.generate(args.seed, work / "inputs"))
    )
    gen_thread.start()
    spark = make_session(work)
    gen_thread.join()
    try:
        if not gen_box:
            raise RuntimeError("input generation failed")
        import pyspark

        info = hygiene()
        info["spark_version"] = pyspark.__version__
        ctx = Context(spark, args, work, Tracer(spark), mem)
        ctx.phase_s["start"] = time.perf_counter() - t_start
        t0 = time.perf_counter()
        res = workload.run(ctx, gen_box[0])
        ctx.phase_s["workload"] = time.perf_counter() - t0
        mem.stop()
        if args.trace:
            ctx.tracer.write(str(work / "spans.json"))
    finally:
        t0 = time.perf_counter()
        shutdown(spark)
    ctx.phase_s["shutdown"] = time.perf_counter() - t0

    res.e2e["peak_pss_mb"] = mem.window_pss
    info.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        attempted=res.attempted,
        failed=res.failed,
        error_rate=res.failed / res.attempted,
        cpu_steal_share=steal_share(cpu0, _cpu_times()),
        aliases={f"{args.workload}.{k}": v for k, v in res.aliases.items()},
        e2e=res.e2e,
        setup_times_s=ctx.setup_times_s,
        phase_s=ctx.phase_s,
        checks=res.checks,
        notes=res.notes,
    )
    info["aliases"]["peak_rss_mb"] = mem.window_rss
    info["aliases"]["peak_pss_mb"] = mem.window_pss
    info["aliases"]["run_peak_rss_mb"] = mem.peak_rss
    info["aliases"]["run_peak_pss_mb"] = mem.peak_pss
    info["aliases"]["error_rate"] = info["error_rate"]
    units = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = units["per_layer"] if args.trace else units["end_to_end"]
    values = res.layers if args.trace else res.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    if args.trace:
        # the construct/action split per layer, by the layers' own names
        info["layer_split"] = {k: v for k, v in res.layers.items() if k not in metrics}
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
