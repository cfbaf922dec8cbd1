"""Spark-free helpers of the benchmark: percentiles, per-event latency,
manifest tailing, offset parsing, /proc memory sums and the mq payload spec.

Everything here is pure Python so that ``perfbench/tests`` can check it
without starting a JVM.
"""

from __future__ import annotations

import ast
import json
import math
import os
import random

# A percentile is reported only when at least this many samples lie
# beyond it; otherwise the tail is one unlucky sample.
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated p-th percentile (0 <= p <= 100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def supports(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond the p-th
    percentile."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND


def summarize(values, ps=(50, 90)) -> dict:
    """``{"n": count, "p50": ..., "p90": ...}``; a percentile the sample
    count does not support is reported as None."""
    out: dict = {"n": len(values)}
    for p in ps:
        key = f"p{p:g}"
        out[key] = percentile(values, p) if values and supports(len(values), p) else None
    return out


# ------------------------------------------------------------------ mq spec

# The record model of the mq source (sources/mq.py module docstring):
# record i of partition p has timestamp i * intervalMs and a payload of
# 3-8 words drawn from a fixed 20-word vocabulary by a Random seeded from
# (seed, p, i). Restated here so the check does not trust the code it
# checks.
MQ_VOCAB = (
    "hello world spark stream batch query data row column value "
    "fast slow merge join scan filter group agg sort window"
).split()


def mq_payload(seed: int, partition: int, index: int) -> str:
    rng = random.Random((seed * 1_000_003 + partition) * 2_000_003 + index)
    n = rng.randint(3, 8)
    return " ".join(rng.choice(MQ_VOCAB) for _ in range(n))


def mq_indices(start_ts: int, end_ts: int, interval_ms: int) -> range:
    """Record indices i with start_ts <= i * interval_ms < end_ts."""
    if end_ts <= start_ts:
        return range(0)
    first = max(0, -(-start_ts // interval_ms))
    last = -(-end_ts // interval_ms)
    return range(first, max(first, last))


def event_latencies_ms(start_ts: int, end_ts: int, interval_ms: int,
                       visible_ms: float) -> list[float]:
    """Latency of each event timestamp in a batch [start_ts, end_ts): from
    the event's mq timestamp until the batch became visible. Every
    partition emits one event per timestamp, so these per-timestamp values
    have the same percentiles as the per-event ones."""
    return [visible_ms - i * interval_ms for i in mq_indices(start_ts, end_ts, interval_ms)]


# ------------------------------------------------------------------ offsets


def parse_offset(raw):
    """Decode a source offset from a streaming progress record.

    JSON sources give JSON text; Python data sources give the repr of a
    dict (``"{'ts': 1792190213722}"``). The first batch has no start
    offset: None, or its repr ``"None"``, gives None."""
    if raw is None or isinstance(raw, dict):
        return raw
    if raw.strip() in ("None", "null"):
        return None
    try:
        value = json.loads(raw)
    except ValueError:
        value = ast.literal_eval(raw)
    if not isinstance(value, dict):
        raise ValueError(f"offset is not a mapping: {raw!r}")
    return value


# ------------------------------------------------------------------ tailer


class LineTailer:
    """Incremental reader of an append-only JSON-lines file.

    ``poll()`` returns the records of the complete lines appended since the
    last call. A trailing line without its newline is being written; it is
    left for a later poll instead of being parsed half-written."""

    def __init__(self, path: str):
        self.path = path
        self._pos = 0

    def poll(self) -> list[dict]:
        try:
            with open(self.path, "rb") as fh:
                fh.seek(self._pos)
                chunk = fh.read()
        except FileNotFoundError:
            return []
        end = chunk.rfind(b"\n")
        if end < 0:
            return []
        self._pos += end + 1
        return [json.loads(line) for line in chunk[: end + 1].splitlines() if line.strip()]


# ------------------------------------------------------------------ /proc


def _children(proc: str) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we listed
        # field 4 is the parent pid; field 2 (comm) may hold spaces, so
        # split after its closing parenthesis
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kib(proc: str, pid: int) -> int:
    try:
        with open(os.path.join(proc, str(pid), "smaps_rollup")) as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0  # gone, or a kernel thread without a memory map


def _cpu_ticks(proc: str, pid: int) -> int:
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            stat = fh.read()
    except OSError:
        return 0
    # utime, stime, cutime, cstime: fields 14-17, counted from the state
    # field that follows the parenthesised comm
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(v) for v in fields[11:15])


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root`` and all its descendants,
    including children they have reaped. Time the hypervisor steals from
    the machine is not in it."""
    kids = _children(proc)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _cpu_ticks(proc, pid)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def tree_pss_kib(root: int, proc: str = "/proc") -> int:
    """Resident memory of ``root`` and all its descendants. Proportional
    set sizes are summed, so pages that forked Python workers share with
    their parent count once rather than once per process."""
    kids = _children(proc)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kib(proc, pid)
        todo.extend(kids.get(pid, []))
    return total
