"""`mqlog` — a file-backed append-only topic: the MQ WRITE path, completed.

The reference declares `SupportsWrite` but its write builder throws
(CustomTable.java:52-54); the README's subject (the Kafka connector) of
course has a real sink. This source completes that contract in PySpark:
`df.write.format("mqlog")` / `writeStream.format("mqlog")` append message
segments to a topic directory, and the matching batch/stream readers
consume them — a round-trippable micro-MQ.

Commit protocol (the part that makes it exactly-once):
  * Executors write parquet SEGMENT files into `<topic>/.staging/` with
    collision-free names and return them as commit messages; nothing under
    `.staging/` is visible to readers.
  * The driver's `commit()` promotes the staged files into
    `<topic>/segments/` (atomic rename) and appends ONE line to the
    `_commits.jsonl` manifest. A segment exists for readers exactly when a
    manifest line names it — the manifest is the log's source of truth,
    exactly like the offset/commit WAL pairing the reference README
    documents for Structured Streaming itself (README.md:471, :705-712).
  * Streaming commits carry Spark's epoch `batchId`; a re-delivered epoch
    (task retry after a driver failover) finds its batchId already in the
    manifest and is dropped — idempotent sink, no duplicates.
  * `abort()` deletes staged files; a crash between staging and commit
    leaves only invisible garbage in `.staging/`, never torn reads.
  * A crash mid-append can leave an unterminated last manifest line. It was
    never acknowledged (the append fsyncs before `commit()` returns), so
    readers skip it and the next commit truncates it before appending.
  * The sink is APPEND-ONLY (an MQ is a log): batch `mode("overwrite")`
    raises, like the Kafka sink.

Read side: offsets are manifest line numbers — `{"commit": n}` covers
segments of manifest lines [0, n). `latestOffset` is a manifest line
count (no data IO on the driver); `partitions(start, end)` maps one task
per segment file, so read parallelism tracks the number of commits a
batch spans (producers control segment granularity via their write
parallelism). At 100 TB the same layout holds: the manifest stays tiny
(one line per commit), data volume lives in the segment files, and a
real deployment swaps the local renames for an object store's
put-if-absent — the protocol is unchanged.

Data path: both directions move Arrow record batches, never Python rows.
The writers are Spark's Arrow writers (a task's batches become one
segment), and a read task yields each segment's batches cast to the types
Spark reads back (sources/replay.py:_spark_batches, shared with mq-replay).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

from .replay import _spark_batches


# ---------------------------------------------------------------- topic dir


class _Topic:
    def __init__(self, path: str):
        self.path = path
        self.staging = os.path.join(path, ".staging")
        self.segments = os.path.join(path, "segments")
        self.manifest = os.path.join(path, "_commits.jsonl")

    def ensure(self) -> None:
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.segments, exist_ok=True)

    def _load(self) -> tuple[list[dict], int]:
        """Parse the manifest once: its entries and the byte length of its
        complete lines. An unterminated last line is a torn append that never
        returned (``commit`` fsyncs before it acknowledges), so it is not an
        entry."""
        try:
            with open(self.manifest, "rb") as fh:
                data = fh.read()
        except FileNotFoundError:
            return [], 0
        end = data.rfind(b"\n") + 1
        return [json.loads(line) for line in data[:end].splitlines() if line.strip()], end

    def read_manifest(self) -> list[dict]:
        return self._load()[0]

    def commit(self, batch_id: int | None, files: list[str], rows: int) -> bool:
        """Promote ``files`` and append their manifest line, numbered after
        the committed entries. Returns False, promoting nothing, when
        ``batch_id`` is already committed (an epoch re-delivery)."""
        entries, end = self._load()
        if batch_id is not None and any(e.get("batch_id") == batch_id for e in entries):
            return False
        self.promote(files)
        line = {"commit": len(entries), "batch_id": batch_id, "files": files, "rows": rows}
        with open(self.manifest, "ab") as fh:
            if os.fstat(fh.fileno()).st_size > end:
                fh.truncate(end)  # drop a torn tail so the line starts on its own
            fh.write(json.dumps(line).encode() + b"\n")
            fh.flush()
            os.fsync(fh.fileno())
        return True

    def promote(self, names: list[str]) -> None:
        for n in names:
            os.replace(os.path.join(self.staging, n), os.path.join(self.segments, n))

    def discard(self, names: list[str]) -> None:
        for n in names:
            try:
                os.remove(os.path.join(self.staging, n))
            except FileNotFoundError:
                pass


# ---------------------------------------------------------------- write path


@dataclass
class _SegmentCommit(WriterCommitMessage):
    files: list = field(default_factory=list)  # staged file names
    rows: int = 0


def _nullable(t):
    """Arrow type ``t`` with every nested field nullable."""
    import pyarrow as pa

    if pa.types.is_list(t):
        return pa.list_(_nullable(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([(f.name, _nullable(f.type)) for f in t])
    return t


def _write_segment(topic: _Topic, schema: StructType, batches) -> _SegmentCommit:
    """Stage one parquet segment from a task's record batches. Segments are
    nullable at every level whatever ``schema`` says (Spark marks some
    columns not null), so a topic's read schema never depends on the query
    that wrote it; timestamps are stored in UTC, NTZ ones without a zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = list(batches)
    if not any(b.num_rows for b in batches):
        return _SegmentCommit(files=[], rows=0)
    target = pa.schema([(f.name, _nullable(f.type)) for f in to_arrow_schema(schema)])
    table = pa.Table.from_batches(batches).cast(target)
    name = f"seg-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, os.path.join(topic.staging, name))
    return _SegmentCommit(files=[name], rows=table.num_rows)


class MQLogBatchWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "mqlog is an append-only message log; mode('overwrite') is "
                "not supported (same as the Kafka sink)"
            )
        self.topic = _Topic(_path_option(options))
        self.schema = schema
        self.topic.ensure()

    def write(self, iterator) -> _SegmentCommit:
        return _write_segment(self.topic, self.schema, iterator)

    def commit(self, messages) -> None:
        files = [n for m in messages if m is not None for n in m.files]
        rows = sum(m.rows for m in messages if m is not None)
        self.topic.commit(None, files, rows)

    def abort(self, messages) -> None:
        self.topic.discard(
            [n for m in messages if m is not None for n in m.files]
        )


class MQLogStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.topic = _Topic(_path_option(options))
        self.schema = schema
        self.topic.ensure()

    def write(self, iterator) -> _SegmentCommit:
        return _write_segment(self.topic, self.schema, iterator)

    def commit(self, messages, batchId: int) -> None:
        files = [n for m in messages if m is not None for n in m.files]
        rows = sum(m.rows for m in messages if m is not None)
        if not self.topic.commit(batchId, files, rows):
            # epoch re-delivery after recovery: already durable, drop dupes
            self.topic.discard(files)

    def abort(self, messages, batchId: int) -> None:
        self.topic.discard(
            [n for m in messages if m is not None for n in m.files]
        )


# ----------------------------------------------------------------- read path


@dataclass
class MQLogPartition(InputPartition):
    path: str
    files: list = field(default_factory=list)
    columns: list = field(default_factory=list)


def _read_segments(part: MQLogPartition):
    import pyarrow.parquet as pq

    for name in part.files:
        table = pq.read_table(
            os.path.join(part.path, "segments", name), columns=part.columns
        )
        yield from _spark_batches(table, prefer_timestamp_ntz=True)


def _path_option(options: dict) -> str:
    path = {k.lower(): v for k, v in options.items()}.get("path")
    if not path:
        raise ValueError("mqlog: 'path' option is required")
    return path


def _topic_schema(topic: _Topic) -> StructType:
    """The topic's schema, from its first segment's footer: a zone-less
    timestamp column reads back as TimestampNTZType."""
    import pyarrow.parquet as pq

    entries = topic.read_manifest()
    for e in entries:
        if e["files"]:
            s = pq.ParquetFile(os.path.join(topic.segments, e["files"][0])).schema_arrow
            return from_arrow_schema(s, prefer_timestamp_ntz=True)
    raise ValueError(
        f"mqlog: topic '{topic.path}' has no committed segments to infer a "
        "schema from; write to it first"
    )


def _files_between(topic: _Topic, start: int, end: int) -> list[str]:
    entries = topic.read_manifest()[start:end]
    return [n for e in entries for n in e["files"]]


class MQLogBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.topic = _Topic(_path_option(options))
        self.columns = schema.fieldNames()

    def partitions(self):
        files = [n for e in self.topic.read_manifest() for n in e["files"]]
        return [
            MQLogPartition(path=self.topic.path, files=[f], columns=self.columns)
            for f in files
        ] or [MQLogPartition(path=self.topic.path, files=[], columns=self.columns)]

    def read(self, partition: MQLogPartition):
        return _read_segments(partition)


class MQLogStreamReader(DataSourceStreamReader):
    """Tail the topic: offset = manifest line count (commits consumed)."""

    def __init__(self, options: dict, schema: StructType):
        self.topic = _Topic(_path_option(options))
        self.columns = schema.fieldNames()

    def initialOffset(self) -> dict:
        return {"commit": 0}

    def latestOffset(self) -> dict:
        return {"commit": len(self.topic.read_manifest())}

    def partitions(self, start: dict, end: dict):
        files = _files_between(self.topic, int(start["commit"]), int(end["commit"]))
        return [
            MQLogPartition(path=self.topic.path, files=[f], columns=self.columns)
            for f in files
        ]

    def read(self, partition: MQLogPartition):
        return _read_segments(partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class MQLogDataSource(DataSource):
    """`spark.read/readStream/write/writeStream.format("mqlog")`."""

    @classmethod
    def name(cls) -> str:
        return "mqlog"

    def schema(self) -> StructType:
        return _topic_schema(_Topic(_path_option(dict(self.options))))

    def reader(self, schema: StructType) -> DataSourceReader:
        return MQLogBatchReader(dict(self.options), schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return MQLogStreamReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return MQLogBatchWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return MQLogStreamWriter(dict(self.options), schema, overwrite)
