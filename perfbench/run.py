"""Benchmark of the mq source and the LLM batch mix.

    python3 perfbench/run.py --workload mq_etl_live --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

* ``mq_etl_live``: open loop, wall-clock ``format("mq")`` at a fixed event
  rate, watermark dedup, written to ``format("mqlog")``.
* ``llm_batch``: closed loop, an ordered mix of registered queries over
  the repository's sf0.01 test tables.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A readable report
goes to standard error; spans of a traced run go to
``.perfbench_work/<workload>/trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_sql_custom_mq_datasource_spark"

END_TO_END = {
    "setup_s": "s",
    "success_rate": "fraction",
    "peak_rss_mb": "MiB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

FAMILIES = (
    "plans.sql",
    "operators.dedup",
    "operators.vector",
    "operators.curation",
    "streaming.drain",
)
FAMILY_FIELDS = {
    "pass_s": "s",
    "build_s": "s",
    "collect_s": "s",
    "jobs": "count",
    "tasks": "count",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "py_gap_s": "s",
    "deser_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "bytes",
    "input_bytes": "bytes",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.warm_pass_s": "s",
    "sources.mq.rows": "count",
    "sources.mq.latest_offset_ms": "ms",
    "sources.mq.scan_tasks": "count",
    "sources.mq.scan_run_ms": "ms",
    "sources.mq.scan_cpu_ms": "ms",
    "sources.mq.scan_py_gap_ms": "ms",
    "sources.mq.single_core_rows_per_s": "1/s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_update_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_instances": "count",
    "streaming.lag_ms": "ms",
    "sources.mqlog.commits": "count",
    "sources.mqlog.rows": "count",
    "sources.mqlog.segments_per_commit": "count",
    "sources.mqlog.bytes_per_commit": "bytes",
    "sources.mqlog.write_stage_run_ms": "ms",
    "sources.mqlog.redelivered_batches": "count",
    **{f"{fam}.{field}": unit for fam in FAMILIES for field, unit in FAMILY_FIELDS.items()},
    "bench.samples": "count",
    "bench.window_cpu_s": "s",
    "bench.host_steal_share": "fraction",
    "bench.host_loop_ms": "ms",
    "bench.traced_throughput_per_s": "1/s",
    "bench.traced_latency_p50_ms": "ms",
}


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def host_loop_ms(reps: int = 5) -> float:
    """Median wall time of a fixed single-threaded Python loop: how fast
    the host runs plain CPU work at the end of the run. On a shared host
    it changes with the neighbours' load, which steal time does not fully
    show."""

    def once() -> float:
        t0, acc = time.perf_counter(), 0
        for i in range(1_000_000):
            acc += i * i
        return (time.perf_counter() - t0) * 1000.0

    return statistics.median(once() for _ in range(reps))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Tracer:
    """Spans around calls into the engine's layers, kept in memory and
    written out at the end. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.seconds = 0.0

    def __enter__(self):
        self.t0 = time.perf_counter()
        if self.tracer.enabled:
            self.id = len(self.tracer.spans)
            parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.tracer.spans.append({"id": self.id, "parent": parent, "name": self.name,
                                      "start": self.t0 - PROCESS_START, **self.attrs})
            self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.seconds = t1 - self.t0
        if self.tracer.enabled:
            self.tracer._stack.pop()
            self.tracer.spans[self.id]["end"] = t1 - PROCESS_START
        return False


class MemorySampler(threading.Thread):
    """Peak resident memory (summed PSS) of this process and its
    descendants (the driver JVM and the Python workers), from /proc."""

    def __init__(self, interval_s: float = 0.5):
        super().__init__(name="memory-sampler", daemon=True)
        self.interval_s = interval_s
        self.peak_kib = 0
        self._stop_evt = threading.Event()

    def run(self):
        from helpers import tree_pss_kib

        while not self._stop_evt.is_set():
            self.peak_kib = max(self.peak_kib, tree_pss_kib(os.getpid()))
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> float:
        """End sampling (again is harmless) and return the peak in MiB."""
        self._stop_evt.set()
        self.join()
        return self.peak_kib / 1024.0


class Context:
    """What a workload gets: the session, its arguments and places to put
    files and figures."""

    def __init__(self, args, work: str, cpus: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = cpus
        self.tracer = Tracer(self.trace)
        self.layer: dict[str, float] = {}
        self.report: dict = {}
        self.spark = None
        self.session_s = 0.0
        # stopped by the workload before its correctness check, whose own
        # memory (DuckDB, parquet reads) is not the engine's
        self.memory = MemorySampler()

    def start_session(self):
        from spark_sql_custom_mq_datasource_spark.session import get_spark

        with self.tracer.span("session.get_spark") as sp:
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = sp.seconds
        self.layer["session.get_spark_s"] = sp.seconds
        return self.spark

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


# Maximum driver heap. The heap starts small and grows, so peak memory
# shows how much of it the engine uses.
DRIVER_HEAP = "2g"


def prepare_env(work: str, cpus: int) -> None:
    """Fit Spark to the host and keep every file it writes in ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the engine (the mq source classes) by module
    # path, so they need the checkout root on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options",
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def stop_spark(ctx: Context) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        for q in ctx.spark.streams.active:
            q.stop()
        ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("mq_etl_live", "llm_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"the engine package {PACKAGE}/ is not in {ROOT}; run from a full checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)  # topic, checkpoints, .staging leftovers
    cpus = len(os.sched_getaffinity(0))
    prepare_env(work, cpus)

    import workloads

    ctx = Context(args, work, cpus)
    cpu0 = cpu_times()
    ctx.memory.start()
    try:
        outcome = workloads.WORKLOADS[args.workload](ctx)
    finally:
        try:
            stop_spark(ctx)
        finally:
            peak_mib = ctx.memory.stop()

    attempted, failed = outcome["attempted"], outcome["failed"]
    e2e = {
        "setup_s": outcome["setup_s"],
        "success_rate": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": peak_mib,
        "throughput_per_s": outcome["throughput_per_s"],
        "latency_p50_ms": outcome["latency_p50_ms"],
        "latency_tail_ms": outcome["latency_tail_ms"],
    }
    # time the hypervisor gave this VM's CPUs to others: a noisy host shows
    # here (iowait can step backwards, so negative deltas count as 0)
    ticks = [max(0, b - a) for a, b in zip(cpu0, cpu_times())]
    ctx.report["host_steal_share"] = ticks[7] / sum(ticks) if len(ticks) > 7 and sum(ticks) else 0.0
    ctx.layer["bench.host_steal_share"] = ctx.report["host_steal_share"]
    ctx.report["host_loop_ms"] = ctx.layer["bench.host_loop_ms"] = host_loop_ms()
    log("report " + json.dumps({**ctx.report, **e2e}, sort_keys=True))
    if ctx.trace:
        ctx.layer["bench.traced_throughput_per_s"] = e2e["throughput_per_s"]
        ctx.layer["bench.traced_latency_p50_ms"] = e2e["latency_p50_ms"]
        ctx.tracer.write(os.path.join(work, "trace.json"))
        units, values = PER_LAYER, {k: ctx.layer.get(k, 0.0) for k in PER_LAYER}
    else:
        units, values = END_TO_END, e2e
    result = {
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
