"""Read what Spark reports about the work it did: the status REST API
(jobs and stage task metrics) and streaming progress records.

Only public interfaces are used: ``sc.uiWebUrl`` + ``/api/v1`` and
``StreamingQueryListener``. Nothing here changes how queries run.
"""

from __future__ import annotations

import datetime
import json
import threading
import time
import urllib.request
from urllib.parse import urlsplit

from pyspark.sql.streaming import StreamingQueryListener

from helpers import parse_offset

STAGE_FIELDS = (
    "tasks",
    "exec_run_ms",
    "exec_cpu_ms",
    "deser_ms",
    "gc_ms",
    "shuffle_bytes",
    "input_bytes",
)


class StatusApi:
    """Jobs and stages of the running application from the UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is disabled; per-layer stage metrics need it")
        port = urlsplit(url).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settled_jobs(self, timeout_s: float = 10.0) -> list[dict]:
        """All jobs, once none is running and two reads agree: the status
        store is fed asynchronously by the listener bus."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = self._get("/jobs")
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                return jobs
            prev = key
            time.sleep(0.1)

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage, by stage id."""
        out: dict[int, dict] = {}
        for s in self._get("/stages"):
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out


def stage_metrics(stage: dict) -> dict:
    return {
        "tasks": stage.get("numCompleteTasks", 0),
        "exec_run_ms": stage.get("executorRunTime", 0),
        "exec_cpu_ms": stage.get("executorCpuTime", 0) / 1e6,
        "deser_ms": stage.get("executorDeserializeTime", 0),
        "gc_ms": stage.get("jvmGcTime", 0),
        "shuffle_bytes": stage.get("shuffleReadBytes", 0) + stage.get("shuffleWriteBytes", 0),
        "input_bytes": stage.get("inputBytes", 0),
    }


def add_metrics(total: dict, part: dict) -> dict:
    for k in STAGE_FIELDS:
        total[k] = total.get(k, 0) + part.get(k, 0)
    return total


def submitted_ms(job: dict) -> float:
    """Epoch ms of a job's submission ("2026-10-16T23:01:02.123GMT")."""
    t = datetime.datetime.strptime(job["submissionTime"], "%Y-%m-%dT%H:%M:%S.%f%Z")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


class ProgressLog(StreamingQueryListener):
    """Every progress record of every streaming query, as parsed JSON.

    ``recentProgress`` keeps only the newest records of a live query; the
    listener also sees queries that the engine starts and stops inside a
    query function."""

    def __init__(self):
        self._lock = threading.Lock()
        self.records: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        rec = json.loads(event.progress.json)
        with self._lock:
            self.records.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.records = self.records, []
        return out


def progress_records(query) -> list[dict]:
    """``query.recentProgress`` as plain parsed JSON."""
    return [json.loads(p.json) for p in query.recentProgress]


def batch_offsets(progress: list[dict]) -> dict[int, tuple]:
    """batchId -> (start_ts, end_ts) of the first source's ``ts`` offsets;
    start is None for the first batch."""
    out = {}
    for p in progress:
        src = p["sources"][0]
        start = parse_offset(src.get("startOffset"))
        end = parse_offset(src.get("endOffset"))
        out[p["batchId"]] = (start["ts"] if start else None, end["ts"] if end else None)
    return out


def stream_summary(progress: list[dict], median) -> dict:
    """Per-layer figures of a stream from its progress records: medians of
    the per-trigger phases, and the last state-store snapshot."""
    ran = [p for p in progress if p.get("numInputRows", 0) > 0] or progress
    if not ran:
        return {}

    def phase(name):
        return median([p["durationMs"].get(name, 0) for p in ran])

    def state(name):
        return sum(op.get(name, 0) for op in ran[-1].get("stateOperators", []))

    def state_median(name):
        return median([sum(op.get(name, 0) for op in p.get("stateOperators", [])) for p in ran])

    return {
        "batches": len(ran),
        "trigger_ms": phase("triggerExecution"),
        "add_batch_ms": phase("addBatch"),
        "planning_ms": phase("queryPlanning"),
        "wal_ms": phase("walCommit") + phase("commitOffsets"),
        "latest_offset_ms": phase("latestOffset"),
        "state_commit_ms": state_median("commitTimeMs"),
        "state_update_ms": state_median("allUpdatesTimeMs"),
        "state_rows": state("numRowsTotal"),
        "state_bytes": state("memoryUsedBytes"),
        "state_instances": state("numShufflePartitions"),
        "rows": sum(p.get("numInputRows", 0) for p in ran),
    }
