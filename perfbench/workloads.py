"""The benchmark's workloads. Each takes a ``run.Context``, drives the engine
through its public entry points only (``session.get_spark``,
``format("mq")``/``format("mqlog")``, ``streaming.pipelines`` state-store
helpers and ``plans.registry.QUERIES``), checks the outputs, and returns
``setup_s``, ``attempted``, ``failed``, ``throughput_per_s``,
``latency_p50_ms`` and ``latency_tail_ms``. Per-layer figures go to
``ctx.layer``, readable ones to ``ctx.report``.
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics
import threading
import time

import helpers
import sparkstats
from run import PROCESS_START, log

# mq_etl_live: cpus * 1000 / ETL_INTERVAL_MS events per second, deduplicated
# within ETL_WATERMARK_S, so the state settles at about rate * watermark keys
# once the stream has run for the watermark delay.
ETL_INTERVAL_MS = 4
ETL_WATERMARK_S = 5
# A trigger every ETL_TRIGGER_S, as a live pipeline is scheduled: batches
# are due on the clock rather than whenever the previous one ends. It is
# above the ~0.7-2.2 s a trigger takes on a 4-core host, so batches do not
# queue.
ETL_TRIGGER_S = 3
# The first triggers pay JIT and Python-worker start-up; trigger times were
# still falling after two commits, so the window opens after this many.
ETL_WARM_COMMITS = 4

# llm_batch: the ordered mix, as (family, registered query), one query per
# family so that the warm passes and timed passes fit one run. The mix
# settles only after two passes (after a single warm pass, the first timed
# pass ran 5-15% slower than the second), so two passes are untimed.
WARM_PASSES = 2
MIX = (
    ("plans.sql", "q1_pricing_summary"),
    ("operators.dedup", "q_dedup_minhash_lsh"),
    ("operators.vector", "q_ann_sq8_persisted"),
    ("operators.curation", "q_lm_perplexity"),
    ("streaming.drain", "q_stream_debounce"),
)
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _wait_for(cond, query, timeout_s: float, what: str) -> None:
    deadline = time.perf_counter() + timeout_s
    while not cond():
        if not query.isActive:
            raise RuntimeError(f"stream ended while waiting for {what}: {query.exception()}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"no {what} within {timeout_s:.0f} s")
        time.sleep(0.02)  # each check of the query is a call into the JVM


def _epoch_ms(iso: str) -> float:
    """Epoch ms of a progress timestamp ("2026-10-16T23:01:02.123Z")."""
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


STREAM_KEYS = ("batches", "trigger_ms", "add_batch_ms", "planning_ms", "wal_ms", "state_commit_ms",
               "state_update_ms", "state_rows", "state_bytes", "state_instances")


def _stream_layers(ctx, progress: list[dict], w0: float, w1: float) -> dict:
    """Per-trigger scan-stage and write-stage task metrics of the stream's
    jobs submitted in the window [w0, w1] (epoch ms), from the status API,
    and the progress records' phases."""
    api = sparkstats.StatusApi(ctx.spark)
    jobs = [j for j in api.settled_jobs() if w0 <= sparkstats.submitted_ms(j) <= w1]
    stages = api.stages()
    scan, write = [], []
    for job in jobs:
        own = [stages[s] for s in job["stageIds"] if s in stages and stages[s]["status"] == "COMPLETE"]
        for st in own:
            m = sparkstats.stage_metrics(st)
            (scan if st.get("shuffleReadBytes", 0) == 0 else write).append(m)
    med = statistics.median
    out = {}
    if scan:
        out["sources.mq.scan_tasks"] = med([m["tasks"] for m in scan])
        out["sources.mq.scan_run_ms"] = med([m["exec_run_ms"] for m in scan])
        out["sources.mq.scan_cpu_ms"] = med([m["exec_cpu_ms"] for m in scan])
        out["sources.mq.scan_py_gap_ms"] = med([m["exec_run_ms"] - m["exec_cpu_ms"] for m in scan])
    if write:
        out["write_stage_run_ms"] = med([m["exec_run_ms"] for m in write])
    s = sparkstats.stream_summary(progress, med)
    for k in STREAM_KEYS:
        out[f"streaming.{k}"] = s.get(k, 0)
    out["sources.mq.rows"] = s.get("rows", 0)
    out["sources.mq.latest_offset_ms"] = s.get("latest_offset_ms", 0)
    return out


# --------------------------------------------------------------- mq_etl_live


class _ManifestWatcher(threading.Thread):
    """Tails ``<topic>/_commits.jsonl`` and stamps each commit line with
    the wall-clock time it became visible."""

    def __init__(self, path: str):
        super().__init__(name="manifest-tailer", daemon=True)
        self.tailer = helpers.LineTailer(path)
        self.seen: list[tuple[dict, float]] = []
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self._poll()
            self._stop_evt.wait(0.005)
        self._poll()

    def _poll(self):
        lines = self.tailer.poll()
        now = time.time() * 1000.0
        self.seen.extend((entry, now) for entry in lines)

    def stop(self):
        self._stop_evt.set()
        self.join()


def _check_topic(topic: str, seed: int, parts: int, seen, offsets: dict) -> tuple[int, int]:
    """Every committed batch is checked once. A batch with a known offset
    range must hold exactly one row per (partition, record) of that range,
    with the payload the mq record model gives it; no batch may repeat a
    batch id or a key of an earlier batch. Returns (attempted, failed)."""
    import pyarrow.parquet as pq

    failed = 0
    batch_ids: set = set()
    all_keys: set = set()
    for entry, _ in seen:
        rows: dict = {}
        n_rows = 0
        for f in entry["files"]:
            t = pq.read_table(os.path.join(topic, "segments", f), columns=["key", "value"])
            rows.update(zip(t.column("key").to_pylist(), t.column("value").to_pylist()))
            n_rows += t.num_rows
        problems = []
        if entry["batch_id"] in batch_ids:
            problems.append("repeats its batch id")
        if n_rows != len(rows) or not all_keys.isdisjoint(rows):
            problems.append("repeats a key")
        batch_ids.add(entry["batch_id"])
        all_keys.update(rows)
        # the first batch has no start offset, and a batch committed just
        # before stop() may have no progress record: duplicates only
        start, end = offsets.get(entry["batch_id"], (None, None))
        if start is not None and end is not None:
            expected = {
                f"{p}:{i}": helpers.mq_payload(seed, p, i)
                for p in range(parts)
                for i in helpers.mq_indices(start, end, ETL_INTERVAL_MS)
            }
            if rows != expected or entry["rows"] != len(expected):
                problems.append(f"rows differ from offsets [{start}, {end})")
        if problems:
            failed += 1
            log(f"mq_etl_live batch {entry['batch_id']}: " + "; ".join(problems))
    return len(seen), failed


def _etl_stream(spark, ctx, clock: dict, topic: str, ckpt: str, trigger_s: float | None = None):
    """mq -> watermark dedup on ``key`` -> projection -> mqlog; one trigger
    every ``trigger_s`` seconds, or back to back when None."""
    from pyspark.sql import functions as F

    from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
        configure_state_store,
        small_state_parts,
    )

    configure_state_store(spark)
    # The dedup state grows with the feed, but a feed of ~60 KB/s stays far
    # below the engine's one-state-partition-per-32-MiB volume rule, which
    # then floors at the small-state count.
    spark.conf.set("spark.sql.shuffle.partitions", str(small_state_parts(spark)))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    out = (
        spark.readStream.format("mq")
        .option("numPartitions", ctx.cpus)
        .option("intervalMs", ETL_INTERVAL_MS)
        .option("includeMetadata", "true")
        .option("maxRecordsPerBatch", 0)
        .option("seed", ctx.seed)
        .options(**clock)
        .load()
        .withWatermark("timestamp", f"{ETL_WATERMARK_S} seconds")
        .dropDuplicatesWithinWatermark(["key"])
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            "partition",
            "offset",
            "timestamp",
        )
    )
    writer = out.writeStream.format("mqlog").option("path", topic).option("checkpointLocation", ckpt)
    if trigger_s is not None:
        writer = writer.trigger(processingTime=f"{trigger_s} seconds")
    return writer.start()


def _single_core_rows_per_s(ctx) -> float:
    """Closed-loop rows/s of the same pipeline on a fresh ``local[1]``
    session, fed by the deterministic clock: the single-thread baseline."""
    from spark_sql_custom_mq_datasource_spark.session import get_spark

    ctx.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    ctx.spark = spark = get_spark("perfbench-single-core")
    clock = {"startingTimestamp": 0, "advanceMsPerBatch": 1000}
    q = _etl_stream(spark, ctx, clock, ctx.path("topic-1core"), ctx.path("ckpt-1core"))
    try:
        _wait_for(lambda: len(q.recentProgress) >= 2, q, 120, "single-core warm-up")
        t0, n0 = time.perf_counter(), len(q.recentProgress)
        _wait_for(lambda: time.perf_counter() >= t0 + max(3.0, ctx.seconds / 3), q, 120, "single-core window")
    finally:
        q.stop()
    measured = sparkstats.progress_records(q)[n0:]
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in measured) / 1000.0
    return sum(p["numInputRows"] for p in measured) / busy_s if busy_s else 0.0


def _commit_rate(commits) -> float:
    """Events per second from the first to the last commit of the window:
    the rows of every commit but the first, over the time between them
    (whole batches only, so the rate does not jump with where the window
    edges fall)."""
    if len(commits) < 2:
        return 0.0
    span_ms = commits[-1][1] - commits[0][1]
    return sum(e["rows"] for e, _ in commits[1:]) / (span_ms / 1000.0)


def mq_etl_live(ctx) -> dict:
    spark = ctx.start_session()
    parts = ctx.cpus
    topic = ctx.path("topic")
    watcher = _ManifestWatcher(os.path.join(topic, "_commits.jsonl"))
    watcher.start()
    try:
        q = _etl_stream(spark, ctx, {"startingTimestamp": -1}, topic, ctx.path("ckpt-etl"), ETL_TRIGGER_S)
        stream_start = time.perf_counter()
        try:
            # Set-up ends with the first commit: session, stream start and
            # the cold first batch. Later warm-up commits wait for the
            # trigger clock, which would only add its 3 s steps.
            _wait_for(lambda: watcher.seen, q, 120, "the first commit")
            setup_s = time.perf_counter() - PROCESS_START
            _wait_for(lambda: len(watcher.seen) >= ETL_WARM_COMMITS, q, 120, "the warm-up commits")
            # let the dedup state fill to rate * watermark before measuring
            settle = stream_start + ETL_WATERMARK_S + 1
            _wait_for(lambda: time.perf_counter() >= settle, q, ETL_WATERMARK_S + 120, "settled state")
            w0, w0_perf = time.time() * 1000.0, time.perf_counter()
            cpu0 = helpers.tree_cpu_s(os.getpid())
            _wait_for(lambda: time.perf_counter() >= w0_perf + ctx.seconds, q, ctx.seconds + 120,
                      "the end of the window")
            w1 = time.time() * 1000.0
            ctx.layer["bench.window_cpu_s"] = helpers.tree_cpu_s(os.getpid()) - cpu0
        finally:
            q.stop()  # aborts the in-flight batch; it is not counted
    finally:
        watcher.stop()

    progress = sparkstats.progress_records(q)
    offsets = sparkstats.batch_offsets(progress)
    in_window = [(e, t) for e, t in watcher.seen if w0 <= t <= w1]
    latencies: list[float] = []
    for e, t in in_window:
        start, end = offsets.get(e["batch_id"], (None, None))
        if start is not None and end is not None:
            latencies.extend(helpers.event_latencies_ms(start, end, ETL_INTERVAL_MS, t))
    events_in_window = sum(e["rows"] for e, _ in in_window)
    ctx.memory.stop()
    attempted, failed = _check_topic(topic, ctx.seed, parts, watcher.seen, offsets)
    stats = helpers.summarize(latencies, (50, 90))
    n_events = len(latencies) * parts
    ctx.report.update(e2e_latency_p50_ms=stats["p50"], e2e_latency_p90_ms=stats["p90"], events=n_events,
                      rate_per_s=parts * 1000 / ETL_INTERVAL_MS, commits=len(in_window))
    ctx.layer["bench.samples"] = n_events
    ctx.layer["setup.warm_pass_s"] = setup_s - ctx.session_s
    ids = {e["batch_id"] for e, _ in in_window}
    window_progress = [p for p in progress if p["batchId"] in ids]
    ctx.report["trigger_ms_each"] = [p["durationMs"]["triggerExecution"] for p in window_progress]
    if ctx.trace:
        layers = _stream_layers(ctx, window_progress, w0, w1)
        ctx.layer["sources.mqlog.write_stage_run_ms"] = layers.pop("write_stage_run_ms", 0)
        ctx.layer.update(layers)
        lags = [_epoch_ms(p["timestamp"]) - offsets[p["batchId"]][0]
                for p in window_progress if offsets[p["batchId"]][0] is not None]
        ctx.layer["streaming.lag_ms"] = statistics.median(lags) if lags else 0
        sizes = [sum(os.path.getsize(os.path.join(topic, "segments", f)) for f in e["files"])
                 for e, _ in in_window]
        ctx.layer.update({
            "sources.mqlog.commits": len(in_window),
            "sources.mqlog.rows": events_in_window,
            "sources.mqlog.segments_per_commit": statistics.median([len(e["files"]) for e, _ in in_window]),
            "sources.mqlog.bytes_per_commit": statistics.median(sizes),
            "sources.mqlog.redelivered_batches": len(watcher.seen) - len({e["batch_id"] for e, _ in watcher.seen}),
        })
        ctx.layer["sources.mq.single_core_rows_per_s"] = _single_core_rows_per_s(ctx)
    return {
        "setup_s": setup_s,
        "attempted": attempted,
        "failed": failed,
        "throughput_per_s": _commit_rate(in_window),
        "latency_p50_ms": helpers.percentile(latencies, 50),
        "latency_tail_ms": helpers.percentile(latencies, 90),
    }


# ------------------------------------------------------------------ llm_batch


def _run_pass(ctx, queries, fixture: str, tag_jobs: bool) -> dict:
    """One pass of the mix. Returns per-query (build_s, collect_s, rows,
    df) or the error, per-family wall time and job-submission windows, and
    the pass's wall and CPU seconds."""
    sc = ctx.spark.sparkContext
    out = {"queries": {}, "family_s": {}, "windows": {}}
    cpu0 = helpers.tree_cpu_s(os.getpid())
    with ctx.tracer.span("llm_batch.pass") as pass_span:
        for family, name in MIX:
            if tag_jobs:
                sc.setJobGroup(f"perfbench:{family}", name)
            w0 = time.time() * 1000.0
            try:
                with ctx.tracer.span(f"{family}.build", query=name) as b:
                    df = queries[name].fn(ctx.spark, fixture)
                with ctx.tracer.span(f"{family}.collect", query=name) as c:
                    rows = df.collect()
                out["queries"][name] = (b.seconds, c.seconds, rows, df)
            except Exception as exc:  # a failed query is counted, the mix goes on
                log(f"{name} failed: {type(exc).__name__}: {exc}"[:400])
                out["queries"][name] = exc
            w1 = time.time() * 1000.0
            out["family_s"][family] = out["family_s"].get(family, 0.0) + (w1 - w0) / 1000.0
            out["windows"].setdefault(family, []).append((w0, w1))
        if tag_jobs:
            sc.setLocalProperty("spark.jobGroup.id", None)
    out["pass_s"] = pass_span.seconds
    out["pass_cpu_s"] = helpers.tree_cpu_s(os.getpid()) - cpu0
    return out


def _family_stage_totals(api, windows: dict) -> dict:
    """Per family: jobs and summed stage metrics of the jobs submitted
    inside one of its query windows of this pass, under its job group or,
    for stream-thread jobs that escape the group, under none."""
    jobs = api.settled_jobs()
    stages = api.stages()
    out: dict = {}
    for fam, spans in windows.items():
        stage_ids, n_jobs = set(), 0
        for job in jobs:
            group = job.get("jobGroup") or ""
            t = sparkstats.submitted_ms(job)
            inside = any(a <= t <= b for a, b in spans)
            if inside and (group == f"perfbench:{fam}" or not group.startswith("perfbench:")):
                n_jobs += 1
                stage_ids.update(job["stageIds"])
        total: dict = {}
        for s in stage_ids:
            if s in stages:
                sparkstats.add_metrics(total, sparkstats.stage_metrics(stages[s]))
        total["jobs"] = n_jobs
        out[fam] = total
    return out


def _check_mix(fixture: str, passes: list[dict]) -> tuple[int, int]:
    """Compare every timed result with the query's DuckDB oracle, using the
    repository's oracle-gate comparison (tools/check_oracles.py)."""
    import duckdb

    from spark_sql_custom_mq_datasource_spark.plans.registry import QUERIES
    from tools.check_oracles import _canon, _type_mismatches

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    attempted = failed = 0
    for _fam, name in MIX:
        oracle = QUERIES[name].oracle
        dtab = con.execute(oracle).arrow() if oracle else None
        for p in passes:
            attempted += 1
            res = p["queries"][name]
            if isinstance(res, Exception):
                failed += 1
                continue
            _b, _c, rows, df = res
            if dtab is None:
                ok = len(rows) > 0
            else:
                drows = [tuple(r.values()) for r in dtab.to_pylist()]
                ok = (
                    sorted(df.columns) == sorted(dtab.schema.names)
                    and not _type_mismatches(df.schema, dtab.schema)
                    and _canon([tuple(r) for r in rows], df.columns) == _canon(drows, dtab.schema.names)
                )
            if not ok:
                failed += 1
                log(f"{name}: result differs from its oracle")
    con.close()
    return attempted, failed


def llm_batch(ctx) -> dict:
    # The repository's seed-42 sf0.01 test tables, copied so that the
    # engine's fixture caches and index files are built afresh in each run.
    # They do not depend on --seed.
    fixture = ctx.path("fixture")
    shutil.copytree(FIXTURE, fixture)
    ctx.start_session()
    from spark_sql_custom_mq_datasource_spark.plans.registry import QUERIES, get_queries

    get_queries()
    if ctx.trace:
        api = sparkstats.StatusApi(ctx.spark)
        progress_log = sparkstats.ProgressLog()
        ctx.spark.streams.addListener(progress_log)
    with ctx.tracer.span("setup.warm_passes") as warm:
        for _ in range(WARM_PASSES):
            _run_pass(ctx, QUERIES, fixture, False)
    ctx.layer["setup.warm_pass_s"] = warm.seconds
    setup_s = time.perf_counter() - PROCESS_START

    passes, fam_stats, drains = [], [], []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < ctx.seconds:
        if ctx.trace:
            progress_log.take()
        p = _run_pass(ctx, QUERIES, fixture, ctx.trace)
        passes.append(p)
        if ctx.trace:
            fam_stats.append(_family_stage_totals(api, p["windows"]))
            drains.append(progress_log.take())
    ctx.memory.stop()
    attempted, failed = _check_mix(fixture, passes)

    med = statistics.median
    pass_s = [p["pass_s"] for p in passes]
    cpu_s = [p["pass_cpu_s"] for p in passes]
    fam_s = {f: med([p["family_s"][f] for p in passes]) for f, _ in MIX}
    ctx.report.update(mix_s=med(pass_s), passes=len(passes), pass_s_each=pass_s, pass_cpu_s_each=cpu_s,
                      **{f"{f.split('.')[-1]}_s": v for f, v in fam_s.items()})
    ctx.layer["bench.samples"] = len(passes)
    ctx.layer["bench.window_cpu_s"] = sum(cpu_s)
    if ctx.trace:
        ctx.spark.streams.removeListener(progress_log)
        for fam, _ in MIX:
            def per_pass(key, scale=1.0):
                return med([s[fam].get(key, 0) * scale for s in fam_stats])

            good = [p["queries"][n] for p in passes for f, n in MIX if f == fam]
            good = [r for r in good if not isinstance(r, Exception)]
            run_s, exec_cpu_s = per_pass("exec_run_ms", 1e-3), per_pass("exec_cpu_ms", 1e-3)
            ctx.layer.update({
                f"{fam}.pass_s": fam_s[fam],
                f"{fam}.build_s": sum(r[0] for r in good) / len(passes),
                f"{fam}.collect_s": sum(r[1] for r in good) / len(passes),
                f"{fam}.jobs": per_pass("jobs"),
                f"{fam}.tasks": per_pass("tasks"),
                f"{fam}.exec_run_s": run_s,
                f"{fam}.exec_cpu_s": exec_cpu_s,
                f"{fam}.py_gap_s": run_s - exec_cpu_s,
                f"{fam}.deser_s": per_pass("deser_ms", 1e-3),
                f"{fam}.gc_s": per_pass("gc_ms", 1e-3),
                f"{fam}.shuffle_bytes": per_pass("shuffle_bytes"),
                f"{fam}.input_bytes": per_pass("input_bytes"),
            })
        s = sparkstats.stream_summary(drains[-1], med)
        for k in STREAM_KEYS:
            ctx.layer[f"streaming.{k}"] = s.get(k, 0)
    # Wall time of whole passes. A few passes fit the window, so the tail
    # is the slowest pass rather than a percentile (see README.md).
    return {
        "setup_s": setup_s,
        "attempted": attempted,
        "failed": failed,
        "throughput_per_s": len(MIX) * len(passes) / sum(pass_s),
        "latency_p50_ms": 1000.0 * med(pass_s),
        "latency_tail_ms": 1000.0 * max(pass_s),
    }


WORKLOADS = {
    "mq_etl_live": mq_etl_live,
    "llm_batch": llm_batch,
}
