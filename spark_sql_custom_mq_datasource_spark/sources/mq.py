"""Custom "mock MQ" data source — PySpark-native rebuild of the reference.

Reference contract (all citations under /root/reference/):
  - ``CustomTableProvider.java:12-24``  source registration + declared schema
  - ``CustomTable.java:19-55``          capabilities {MICRO_BATCH_READ}
  - ``CustomScan.java:11-42``           scan -> micro-batch stream
  - ``CustomMicroBatchStream.java``     offsets, partition planning, commit
  - ``MockTimestampOffset.java:5-19``   offset = epoch-ms long, JSON round-trip
  - ``MockInputPartition.java:5-12``    partition carrier (partitionIndex)
  - ``MockInputPartitionReader.java``   row-generating volcano iterator

Deliberate fixes over the reference (SURVEY.md §1.2, §2.1 #10, §3.3):
  * the declared schema is really ``value BINARY`` (the reference's
    ``StructType.add`` return value was discarded, yielding an empty schema);
  * ``read()`` is **bounded and deterministic**: the number and content of
    records are pure functions of (partition, offset range), replacing the
    reference's ``next() == true`` unbounded wall-clock generator;
  * a batch ``reader()`` exists (the reference threw for batch reads);
  * rate limiting (``maxRecordsPerBatch``) is honored by clamping
    ``latestOffset`` — the Python DataSource API has no
    ``SupportsAdmissionControl`` hook, so the clamp lives in the reader,
    mirroring the Kafka source's rateLimit() (README.md:399-422).

Record model
------------
The topic is an unbounded, append-only table (README.md:12). Each of
``numPartitions`` partitions emits one record every ``intervalMs``
milliseconds starting at ``startingTimestamp``; record *i* of partition *p*
has timestamp ``startingTimestamp + i*intervalMs`` and a payload of
seed-derived words (seed mixes ``seed``, *p*, *i*), so every (offset-range,
partition) pair maps to exactly one reproducible row set — on any cluster,
any executor count, any retry. Offsets are epoch-ms dicts ``{"ts": N}``
with the reference's ``-1`` sentinel meaning "begin at query start".

Options
-------
numPartitions        int, default 4     partitions per micro-batch / batch
minPartitions        int, default -1    if > numPartitions, each partition's
                                        offset range is re-split into
                                        contiguous sub-ranges so the batch
                                        plans >= minPartitions tasks
                                        (Kafka's minPartitions contract,
                                        README.md:431-433, 713-721)
intervalMs           int, default 10    ms between records within a partition
startingTimestamp    long, default -1   -1 = "now" (live-MQ); >=0 explicit
maxRecordsPerBatch   long, default 10000  admission control across partitions
advanceMsPerBatch    long, default -1   -1 = wall clock; >0 = deterministic
                                        fixed advance per trigger (tests)
includeMetadata      bool, default false  Kafka-style wide schema
                                        (README.md:226-233)
topic                str, default "mock-topic"
seed                 int, default 42    payload vocabulary seed
endingTimestamp      long (batch only)  end of range; default
                                        starting + 1000*intervalMs
retentionMs          long, default -1   -1 = infinite; >=0 = records older
                                        than (latest - retentionMs) have
                                        been purged from the MQ
failOnDataLoss       bool, default true behavior when a batch's start falls
                                        before the retention horizon: true =
                                        abort (README.md:618-631 abort-on-
                                        OffsetOutOfRange), false = skip the
                                        purged range and log (README.md:642-645)
stateDir             str, default unset directory where the reader persists
                                        its offset frontier (atomic JSON).
                                        The Python latestOffset() takes no
                                        start offset, so after a checkpoint
                                        restart the reader has no frontier
                                        context; with stateDir set the
                                        frontier survives the restart, so
                                        (a) the first recovered batch honors
                                        maxRecordsPerBatch and (b) a
                                        deterministic advanceMsPerBatch
                                        clock can never regress below the
                                        committed frontier (Kafka applies
                                        rateLimit from the recovered offset,
                                        README.md:412-422)
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_VOCAB = (
    "hello world spark stream batch query data row column value "
    "fast slow merge join scan filter group agg sort window"
).split()

MINIMAL_SCHEMA = StructType([StructField("value", BinaryType())])

# Kafka-style record shape documented at README.md:14-16, 226-233.
KAFKA_STYLE_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
        StructField(
            "headers",
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType()),
                        StructField("value", BinaryType()),
                    ]
                )
            ),
        ),
    ]
)


def _payload(seed: int, partition: int, index: int) -> str:
    """Deterministic space-separated words for record *index* of *partition*."""
    rng = random.Random((seed * 1_000_003 + partition) * 2_000_003 + index)
    n = rng.randint(3, 8)
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


def _indices_in_range(start_ts: int, end_ts: int, interval_ms: int) -> range:
    """Record indices i with start_ts <= i*interval_ms < end_ts (left-closed,
    right-open — README.md:337-345 offset-range convention)."""
    if end_ts <= start_ts:
        return range(0)
    first = max(0, -(-start_ts // interval_ms))  # ceil(start/interval)
    last = -(-end_ts // interval_ms)  # ceil(end/interval) — exclusive
    if end_ts % interval_ms == 0:
        last = end_ts // interval_ms
    return range(first, max(first, last))


@dataclass
class MQPartition(InputPartition):
    """Picklable task descriptor — MockInputPartition.java:5-12, extended
    with the offset range so read() is bounded."""

    index: int
    start_ts: int
    end_ts: int
    interval_ms: int
    seed: int
    include_metadata: bool
    topic: str


class _Options:
    def __init__(self, options: dict):
        o = {k.lower(): v for k, v in options.items()}
        self.num_partitions = int(o.get("numpartitions", 4))
        self.min_partitions = int(o.get("minpartitions", -1))
        self.interval_ms = max(1, int(o.get("intervalms", 10)))
        self.starting_ts = int(o.get("startingtimestamp", -1))
        self.max_records = int(o.get("maxrecordsperbatch", 10_000))
        self.advance_ms = int(o.get("advancemsperbatch", -1))
        self.include_metadata = str(o.get("includemetadata", "false")).lower() == "true"
        self.topic = o.get("topic", "mock-topic")
        self.seed = int(o.get("seed", 42))
        self.ending_ts = int(o.get("endingtimestamp", -1))
        self.retention_ms = int(o.get("retentionms", -1))
        self.fail_on_data_loss = str(o.get("failondataloss", "true")).lower() == "true"
        self.state_dir = o.get("statedir")


class DataLossError(RuntimeError):
    """Raised when a batch needs offsets the MQ has already purged and
    failOnDataLoss=true — the OffsetOutOfRangeException abort path the
    README documents for the real Kafka source (README.md:618-631)."""


def _apply_retention(opts: _Options, start_ts: int, end_ts: int) -> int:
    """Clamp a batch's start to the retention horizon, or abort.

    Horizon = end - retentionMs (the mock's "latest" is the batch end).
    failOnDataLoss=false skips the purged range and logs, mirroring
    README.md:642-645."""
    if opts.retention_ms < 0:
        return start_ts
    horizon = end_ts - opts.retention_ms
    if start_ts >= horizon:
        return start_ts
    if opts.fail_on_data_loss:
        raise DataLossError(
            f"offsets [{start_ts}, {horizon}) were purged by retention "
            f"(retentionMs={opts.retention_ms}); set failOnDataLoss=false "
            "to skip the lost range"
        )
    import logging

    logging.getLogger(__name__).warning(
        "mq: skipping purged offset range [%d, %d) (failOnDataLoss=false)",
        start_ts,
        horizon,
    )
    return horizon


def _split_range(
    start_ts: int, end_ts: int, interval_ms: int, k: int
) -> list[tuple[int, int]]:
    """Split ``[start_ts, end_ts)`` into <= k contiguous, disjoint sub-ranges
    whose record-index sets exactly cover the original range.

    Cut points land on record boundaries (``index * interval_ms``), so every
    record of the parent range belongs to exactly one sub-range and the
    per-sub-range record counts differ by at most 1. A range with <= 1
    records is never split."""
    idx = _indices_in_range(start_ts, end_ts, interval_ms)
    n = len(idx)
    if n <= 1 or k <= 1:
        return [(start_ts, end_ts)]
    k = min(k, n)
    first, last = idx.start, idx.stop
    bounds = [first + (n * j) // k for j in range(k + 1)]
    out: list[tuple[int, int]] = []
    for a, b in zip(bounds, bounds[1:]):
        sub_start = start_ts if a == first else a * interval_ms
        sub_end = end_ts if b == last else b * interval_ms
        out.append((sub_start, sub_end))
    return out


def _plan_partitions(opts: _Options, start_ts: int, end_ts: int) -> list[MQPartition]:
    """One InputPartition per MQ partition — the 1-partition↔1-task mapping
    (README.md:431-433). The reference planned one per *executor*
    (CustomMicroBatchStream.java:44-54); the Python API can't query executor
    ids, so the count is the `numPartitions` option (SURVEY.md §2.1 #7).

    When ``minPartitions > numPartitions``, each partition's offset range is
    re-split into ``ceil(min/num)`` contiguous sub-ranges — Kafka's
    documented minPartitions divide-and-parallelize contract
    (README.md:431-433, 713-721): a hot partition becomes several finer
    tasks instead of one oversized one. All mock partitions carry the same
    range, so an equal split is also the proportional split."""
    tasks_per_part = 1
    if opts.min_partitions > opts.num_partitions:
        tasks_per_part = -(-opts.min_partitions // opts.num_partitions)
    return [
        MQPartition(
            index=p,
            start_ts=sub_start,
            end_ts=sub_end,
            interval_ms=opts.interval_ms,
            seed=opts.seed,
            include_metadata=opts.include_metadata,
            topic=opts.topic,
        )
        for p in range(opts.num_partitions)
        for sub_start, sub_end in _split_range(
            start_ts, end_ts, opts.interval_ms, tasks_per_part
        )
    ]


def _read_partition(part: MQPartition) -> Iterator[tuple]:
    """Executor-side bounded generator — fixes the reference's unbounded
    next()==true loop (MockInputPartitionReader.java:19-21)."""
    import datetime

    for i in _indices_in_range(part.start_ts, part.end_ts, part.interval_ms):
        text = _payload(part.seed, part.index, i)
        value = text.encode("utf-8")
        if part.include_metadata:
            ts = datetime.datetime.fromtimestamp(
                (i * part.interval_ms) / 1000.0, tz=datetime.timezone.utc
            )
            key = f"{part.index}:{i}".encode()
            yield (key, value, part.topic, part.index, i, ts, 0, [("src", b"mock")])
        else:
            yield (value,)


class MQBatchReader(DataSourceReader):
    """Bounded batch scan over an explicit offset range — closes the
    reference's dead-end batch path (CustomScan.java:29-31 threw)."""

    def __init__(self, schema: StructType, options: dict):
        self.opts = _Options(options)

    def partitions(self) -> list[InputPartition]:
        start = self.opts.starting_ts if self.opts.starting_ts >= 0 else 0
        if self.opts.ending_ts >= 0:
            end = self.opts.ending_ts
        else:
            end = start + 1000 * self.opts.interval_ms
        start = _apply_retention(self.opts, start, end)
        return _plan_partitions(self.opts, start, end)

    def read(self, partition: MQPartition) -> Iterator[tuple]:
        return _read_partition(partition)


class MQStreamReader(DataSourceStreamReader):
    """Micro-batch stream reader — CustomMicroBatchStream.java rebuilt on
    pyspark.sql.datasource.DataSourceStreamReader."""

    def __init__(self, schema: StructType, options: dict):
        self.opts = _Options(options)
        self._last_ts: int | None = self._load_frontier()

    # -- frontier persistence (stateDir) ----------------------------------
    def _frontier_path(self) -> str | None:
        if not self.opts.state_dir:
            return None
        return os.path.join(self.opts.state_dir, "mq-frontier.json")

    def _load_frontier(self) -> int | None:
        """Recover the offset frontier after a restart. The Python
        latestOffset() takes no start offset (unlike Kafka's
        SupportsAdmissionControl.latestOffset(start, limit)), so without
        this the first post-restart batch has no rate-limit context and a
        deterministic advanceMsPerBatch clock would re-seed from
        startingTimestamp — *below* the committed frontier."""
        path = self._frontier_path()
        if path is None or not os.path.exists(path):
            return None
        try:
            with open(path) as f:
                return int(json.load(f)["ts"])
        except (OSError, ValueError, KeyError):
            return None

    def _save_frontier(self, ts: int) -> None:
        path = self._frontier_path()
        if path is None:
            return
        os.makedirs(self.opts.state_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"ts": ts}, f)
        os.replace(tmp, path)  # atomic on POSIX — no torn frontier

    def _adopt(self, ts: int) -> None:
        """Advance (never regress) the in-memory frontier and persist it."""
        if self._last_ts is None or ts > self._last_ts:
            self._last_ts = ts
            self._save_frontier(ts)

    # -- offset management ------------------------------------------------
    def initialOffset(self) -> dict:
        """First-ever start (CustomMicroBatchStream.java:63-66). The
        reference's -1 sentinel meant "begin now"; we resolve it eagerly so
        the checkpointed offset is concrete."""
        if self.opts.starting_ts >= 0:
            ts = self.opts.starting_ts
        else:
            ts = int(time.time() * 1000)
        self._adopt(ts)
        return {"ts": ts}

    def latestOffset(self) -> dict:
        """Advance to wall-clock now (CustomMicroBatchStream.java:32-41),
        clamped by maxRecordsPerBatch — the admission control the reference
        declared but ignored; Kafka's rateLimit() analogue
        (README.md:399-422).

        Restart behavior: with stateDir set, ``_load_frontier`` already
        recovered the frontier, so the first recovered batch is rate-limited
        exactly like any other (README.md:412-422) and the deterministic
        clock resumes from where it stopped. Without stateDir, the wall-clock
        path's first post-restart batch is uncapped (no start context), and
        the advance path re-seeds from startingTimestamp — ``partitions()``
        then re-adopts the engine's authoritative offsets so the regression
        is bounded to one empty batch, never duplicates of >1 range."""
        if self.opts.advance_ms > 0:
            if self._last_ts is None:
                self._last_ts = self.opts.starting_ts if self.opts.starting_ts >= 0 else 0
            ts = self._last_ts + self.opts.advance_ms
        else:
            ts = int(time.time() * 1000)
            if self._last_ts is None:
                # Restart without stateDir: no start-of-batch context
                # (the Python API's latestOffset takes no start offset) —
                # first post-restart batch is uncapped, then clamping resumes.
                self._adopt(ts)
                return {"ts": ts}
        ts = self._clamp(self._last_ts, ts)
        ts = max(ts, self._last_ts)  # offsets are monotone, never regress
        self._adopt(ts)
        return {"ts": ts}

    def _clamp(self, start_ts: int, end_ts: int) -> int:
        """Cap total records across partitions at maxRecordsPerBatch."""
        if self.opts.max_records <= 0:
            return end_ts
        per_part = max(1, self.opts.max_records // self.opts.num_partitions)
        n = len(_indices_in_range(start_ts, end_ts, self.opts.interval_ms))
        if n <= per_part:
            return end_ts
        first = max(0, -(-start_ts // self.opts.interval_ms))
        return (first + per_part) * self.opts.interval_ms

    # -- planning / execution ---------------------------------------------
    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        s, e = int(start["ts"]), int(end["ts"])
        # The engine's (start, end) is authoritative (it comes from the
        # write-ahead offset log): adopt it as the frontier so a restart —
        # with or without stateDir — can never advance the deterministic
        # clock from below the committed offset and re-emit ranges
        # (replay.py:382-384 applies the same defense).
        self._adopt(max(s, e))
        if e <= s:
            return []  # inverted/empty range — plan nothing
        s = _apply_retention(self.opts, s, e)
        return _plan_partitions(self.opts, s, e)

    def read(self, partition: MQPartition) -> Iterator[tuple]:
        return _read_partition(partition)

    # -- lifecycle ----------------------------------------------------------
    def commit(self, end: dict) -> None:
        """Post-durable-write ack hook (CustomMicroBatchStream.java:75-77,
        README.md:462-463). The committed end is the strongest frontier
        signal there is — persist it so a restart resumes rate-limited from
        here rather than uncapped/re-seeded."""
        self._adopt(int(end["ts"]))

    def stop(self) -> None:
        """Teardown (CustomMicroBatchStream.java:80-81) — nothing to release;
        records are fabricated in-process like the mock."""


class MQDataSource(DataSource):
    """`spark.readStream.format("mq")` / `spark.read.format("mq")`.

    Python DataSource API equivalent of CustomTableProvider+CustomTable:
    implementing streamReader() declares MICRO_BATCH_READ; reader() adds the
    batch capability the reference lacked; no writer() — the reference's
    write path threw (CustomTable.java:52-54)."""

    @classmethod
    def name(cls) -> str:
        return "mq"

    def schema(self) -> StructType:
        if _Options(self.options).include_metadata:
            return KAFKA_STYLE_SCHEMA
        return MINIMAL_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return MQBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return MQStreamReader(schema, dict(self.options))
