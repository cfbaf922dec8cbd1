"""`mq-replay` — the MQ source contract over a REAL timestamped table.

The mock mq source (sources/mq.py) fabricates its records, like the
reference (MockInputPartitionReader.java:24-28). This source completes the
picture: it serves an existing parquet table as a message stream with the
SAME offset semantics — epoch-ms offsets, left-closed right-open batch
ranges (README.md:337-345), micro-batch planning, checkpoint recovery —
which is what the reference's README documents the real Kafka source doing
against broker data (README.md:474-487). The fixtures' `events` table is
"the batch image of the stream" (FIXTURES.md §B); this source replays it.

Offset/pushdown design:
  * Offsets are epoch-milliseconds over the `tsColumn` (default "ts").
    initial/latest offsets come from parquet ROW-GROUP STATISTICS (footer
    min/max) — no data scan on the driver.
  * Partition planning pushes the batch's [start, end) range down to row
    groups: groups whose [min, max] stats don't intersect the range are
    pruned, mirroring Kafka's partition→offset-range task mapping
    (README.md:427-446). With >= numPartitions surviving groups, each task
    reads a DISJOINT set of groups (no duplicate IO — the 100 TB path,
    where files have many row groups). Small files degenerate to one group;
    then tasks share the decoded range and take contiguous slices, trading
    duplicate decode for parallelism, which is the right trade only at the
    small end.
  * Executor-side reads go through pyarrow with an exact timestamp filter
    and hand Spark Arrow record batches, never Python rows; timestamps
    surface at microsecond precision (Spark's TimestampType), truncating
    nanos exactly like the batch path (plans/util.t).

Options: path (required), tsColumn (default ts), numPartitions (default 4),
minPartitions (default -1: when > numPartitions, planning targets that many
tasks instead — Kafka's minPartitions re-split contract, README.md:431-433,
713-721 — which matters exactly in the small-file degenerate path where one
row group would otherwise become one task), startingTimestamp /
endingTimestamp (epoch-ms; batch read), the stream options advanceMsPerBatch
(-1 = drain to latest stats in one batch) plus maxRecordsPerBatch (admission
control, estimated via row-group stats), and stateDir (persist the offset
frontier across restarts so the first recovered batch stays rate-limited —
same rationale as sources/mq.py).
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

MS = 1_000_000  # ns per ms
_EPOCH = datetime.datetime(1970, 1, 1)


def _spark_batches(table, prefer_timestamp_ntz: bool = False):
    """``table`` as an iterator of record batches in the Arrow types Spark
    reads back for its ``from_arrow_schema`` schema: timestamps in UTC
    microseconds (nanoseconds truncate); with ``prefer_timestamp_ntz`` a
    zone-less timestamp stays zone-less (TimestampNTZType)."""
    spark = from_arrow_schema(table.schema, prefer_timestamp_ntz=prefer_timestamp_ntz)
    return iter(table.cast(to_arrow_schema(spark), safe=False).to_batches())


def _ts_to_ms(v) -> int:
    """Parquet timestamp statistic → epoch ms (floor); naive means UTC."""
    if isinstance(v, datetime.datetime):
        aware = v.tzinfo is not None
        return int((v.timestamp() if aware else (v - _EPOCH).total_seconds()) * 1000)
    return int(v) // MS  # raw int64 nanos


class _ReplayMeta:
    """Driver-side footer metadata: schema + per-row-group ts stats."""

    def __init__(self, path: str, ts_col: str):
        import pyarrow.parquet as pq

        self.path = path
        self.ts_col = ts_col
        f = pq.ParquetFile(path)
        self.arrow_schema = f.schema_arrow
        if ts_col not in self.arrow_schema.names:
            raise ValueError(f"mq-replay: tsColumn '{ts_col}' not in {path}")
        ci = self.arrow_schema.names.index(ts_col)
        self.groups: list[tuple[int, int, int, int]] = []  # (idx, min_ms, max_ms, rows)
        for g in range(f.metadata.num_row_groups):
            col = f.metadata.row_group(g).column(ci)
            st = col.statistics
            self.groups.append(
                (
                    g,
                    _ts_to_ms(st.min),
                    _ts_to_ms(st.max),
                    f.metadata.row_group(g).num_rows,
                )
            )

    def min_ms(self) -> int:
        return min(g[1] for g in self.groups)

    def max_ms(self) -> int:
        return max(g[2] for g in self.groups)

    def groups_in_range(self, start_ms: int, end_ms: int) -> list[tuple[int, int]]:
        """(group_idx, rows) whose stats intersect [start_ms, end_ms)."""
        return [
            (g, rows)
            for g, mn, mx, rows in self.groups
            if mx >= start_ms and mn < end_ms
        ]


@dataclass
class ReplayPartition(InputPartition):
    path: str
    ts_col: str
    start_ms: int
    end_ms: int
    row_groups: list = field(default_factory=list)  # disjoint groups, or
    slice_of: int = -1  # ... shared-read slice index
    n_slices: int = 1
    columns: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# Executor-side pooling — the Python analogue of the Kafka source's
# executor-side consumer cache and FetchedData prefetch buffer
# (README.md:566-571 pool keyed per partition; :589-591 poll-ahead buffer).
# Python workers are reused across tasks (spark.python.worker.reuse), so
# module state lives for the executor's lifetime:
#   * _files: open ParquetFile handles — skips footer re-parse per task;
#   * _decoded: LRU of decoded row-group tables — when a stream replays in
#     fine time slices (advanceMsPerBatch), consecutive micro-batches land
#     in the SAME row groups; the buffer trades bounded worker memory for
#     not re-decoding them every trigger. Bounded by total buffered rows
#     (at 100 TB the bound would be bytes; rows is the honest proxy here).
# ---------------------------------------------------------------------------

_files: dict = {}
_decoded: "dict[tuple, object]" = {}
_decoded_lru: list = []  # key order, oldest first
_DECODED_MAX_ROWS = 4_000_000
pool_stats = {"file_hits": 0, "file_misses": 0, "decode_hits": 0, "decode_misses": 0}


def _pooled_file(path: str):
    import pyarrow.parquet as pq

    f = _files.get(path)
    if f is None:
        pool_stats["file_misses"] += 1
        f = _files[path] = pq.ParquetFile(path)
    else:
        pool_stats["file_hits"] += 1
    return f


def _decoded_groups(path: str, row_groups: tuple, columns: tuple):
    key = (path, row_groups, columns)
    table = _decoded.get(key)
    if table is not None:
        pool_stats["decode_hits"] += 1
        _decoded_lru.remove(key)
        _decoded_lru.append(key)
        return table
    pool_stats["decode_misses"] += 1
    f = _pooled_file(path)
    if row_groups:
        table = f.read_row_groups(list(row_groups), columns=list(columns))
    else:
        table = f.read(columns=list(columns))
    _decoded[key] = table
    _decoded_lru.append(key)
    while (
        sum(t.num_rows for t in _decoded.values()) > _DECODED_MAX_ROWS
        and len(_decoded_lru) > 1
    ):
        _decoded.pop(_decoded_lru.pop(0), None)
    return table


def _read_replay(part: ReplayPartition):
    import pyarrow.compute as pc

    table = _decoded_groups(
        part.path, tuple(part.row_groups), tuple(part.columns)
    )
    ts = table.column(part.ts_col)
    unit_per_ms = {"ns": 1_000_000, "us": 1_000, "ms": 1}[ts.type.unit]
    ts_int = ts.cast("int64")
    mask = pc.and_(
        pc.greater_equal(ts_int, part.start_ms * unit_per_ms),
        pc.less(ts_int, part.end_ms * unit_per_ms),
    )
    table = table.filter(mask)
    if part.slice_of >= 0:
        n = table.num_rows
        lo = part.slice_of * n // part.n_slices
        hi = (part.slice_of + 1) * n // part.n_slices
        table = table.slice(lo, hi - lo)
    return _spark_batches(table)


class _ReplayOptions:
    def __init__(self, options: dict):
        o = {k.lower(): v for k, v in options.items()}
        self.path = o.get("path")
        if not self.path:
            raise ValueError("mq-replay: 'path' option is required")
        self.ts_col = o.get("tscolumn", "ts")
        self.num_partitions = int(o.get("numpartitions", 4))
        self.min_partitions = int(o.get("minpartitions", -1))
        self.starting_ts = int(o.get("startingtimestamp", -1))
        self.ending_ts = int(o.get("endingtimestamp", -1))
        self.advance_ms = int(o.get("advancemsperbatch", -1))
        self.max_records = int(o.get("maxrecordsperbatch", 0))
        self.state_dir = o.get("statedir")

    @property
    def target_partitions(self) -> int:
        """Task-count target: numPartitions, raised to minPartitions when
        the user asks for finer parallelism than the source's natural
        partitioning (Kafka minPartitions semantics)."""
        return max(self.num_partitions, self.min_partitions)


def _plan(meta: _ReplayMeta, opts: _ReplayOptions, start_ms: int, end_ms: int):
    cols = list(meta.arrow_schema.names)
    live = meta.groups_in_range(start_ms, end_ms)
    n_tasks = opts.target_partitions
    if len(live) >= n_tasks:
        # disjoint row-group assignment (round-robin by size order)
        buckets: list[list[int]] = [[] for _ in range(n_tasks)]
        for i, (g, _rows) in enumerate(sorted(live, key=lambda x: -x[1])):
            buckets[i % n_tasks].append(g)
        return [
            ReplayPartition(
                path=meta.path, ts_col=meta.ts_col, start_ms=start_ms,
                end_ms=end_ms, row_groups=b, columns=cols,
            )
            for b in buckets
            if b
        ]
    groups = [g for g, _ in live]
    return [
        ReplayPartition(
            path=meta.path, ts_col=meta.ts_col, start_ms=start_ms, end_ms=end_ms,
            row_groups=groups, slice_of=p, n_slices=n_tasks,
            columns=cols,
        )
        for p in range(n_tasks)
    ]


class ReplayBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.opts = _ReplayOptions(options)
        self.meta = _ReplayMeta(self.opts.path, self.opts.ts_col)

    def partitions(self):
        start = (
            self.opts.starting_ts
            if self.opts.starting_ts >= 0
            else self.meta.min_ms()
        )
        end = (
            self.opts.ending_ts
            if self.opts.ending_ts >= 0
            else self.meta.max_ms() + 1
        )
        return _plan(self.meta, self.opts, start, end)

    def read(self, partition: ReplayPartition):
        return _read_replay(partition)


class ReplayStreamReader(DataSourceStreamReader):
    """Micro-batch replay: offsets advance through the table's time range.

    advanceMsPerBatch > 0 replays in fixed time slices (a deterministic
    "historical firehose"); -1 drains to the footer max in one batch.
    maxRecordsPerBatch caps a batch by ESTIMATED rows (row-group stats
    prorated by time overlap) — admission control without scanning data."""

    def __init__(self, options: dict):
        self.opts = _ReplayOptions(options)
        self.meta = _ReplayMeta(self.opts.path, self.opts.ts_col)
        self._last: int | None = None

    def initialOffset(self) -> dict:
        ts = (
            self.opts.starting_ts
            if self.opts.starting_ts >= 0
            else self.meta.min_ms()
        )
        self._last = ts
        return {"ts": ts}

    def latestOffset(self) -> dict:
        table_end = self.meta.max_ms() + 1
        if self._last is None:
            # Restart: initialOffset() wasn't called, so this reader can't
            # know the checkpointed frontier (the no-arg latestOffset can't
            # see the start offset). Returning anything derived from the
            # table MIN could regress below the checkpoint and re-emit data;
            # returning table END is always >= the frontier, so the first
            # post-restart batch drains the remainder uncapped — the same
            # convention as the mock source's wall-clock restart path.
            self._last = table_end
            return {"ts": table_end}
        if self.opts.advance_ms > 0:
            ts = min(self._last + self.opts.advance_ms, table_end)
        else:
            ts = table_end
        ts = self._clamp(self._last, ts)
        self._last = max(self._last, ts)
        return {"ts": self._last}

    def _clamp(self, start_ms: int, end_ms: int) -> int:
        """Admission control on estimated record count (stats-prorated)."""
        if self.opts.max_records <= 0 or end_ms <= start_ms:
            return end_ms
        est = self._estimate(start_ms, end_ms)
        if est <= self.opts.max_records:
            return end_ms
        # binary-search the largest end with estimate under the cap
        lo, hi = start_ms + 1, end_ms
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if self._estimate(start_ms, mid) <= self.opts.max_records:
                lo = mid
                if lo == hi:
                    break
            else:
                hi = mid - 1
        return max(lo, start_ms + 1)

    def _estimate(self, start_ms: int, end_ms: int) -> float:
        est = 0.0
        for _g, mn, mx, rows in self.meta.groups:
            span = max(1, mx - mn + 1)
            overlap = max(0, min(mx + 1, end_ms) - max(mn, start_ms))
            est += rows * (overlap / span)
        return est

    def partitions(self, start: dict, end: dict):
        s, e = int(start["ts"]), int(end["ts"])
        # the engine's (start, end) is authoritative — track the frontier so
        # subsequent latestOffset() calls advance from it
        self._last = max(self._last or e, e)
        if e <= s:
            return []
        return _plan(self.meta, self.opts, s, e)

    def read(self, partition: ReplayPartition):
        return _read_replay(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class ReplayDataSource(DataSource):
    """`spark.read/readStream.format("mq-replay").option("path", ...)`."""

    @classmethod
    def name(cls) -> str:
        return "mq-replay"

    def schema(self) -> StructType:
        opts = _ReplayOptions(dict(self.options))
        return from_arrow_schema(_ReplayMeta(opts.path, opts.ts_col).arrow_schema)

    def reader(self, schema: StructType) -> DataSourceReader:
        return ReplayBatchReader(dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return ReplayStreamReader(dict(self.options))
