"""mqlog sink/source tests: batch round-trip, append-only enforcement,
commit-manifest visibility (staged files invisible), streaming write with
epoch-idempotent commits, and stream read-back — the write path the
reference stubs out (CustomTable.java:52-54), completed and verified."""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F

from spark_sql_custom_mq_datasource_spark.sources.mqlog import (
    _read_segments,
    _SegmentCommit,
    _Topic,
    _topic_schema,
    _write_segment,
    MQLogBatchReader,
    MQLogPartition,
    MQLogStreamWriter,
)

SF = "/root/testdata/sf0.001"


def _topic_dir() -> str:
    return os.path.join(tempfile.mkdtemp(), "topic")


@pytest.fixture()
def registered(spark):
    from spark_sql_custom_mq_datasource_spark.session import register_mq_source

    register_mq_source(spark)
    return spark


class TestBatchRoundTrip:
    def test_write_then_read_back(self, registered):
        spark = registered
        topic = _topic_dir()
        df = spark.createDataFrame(
            [(i, f"msg-{i}".encode(), float(i)) for i in range(100)],
            "k long, value binary, score double",
        )
        df.write.format("mqlog").option("path", topic).mode("append").save()
        back = spark.read.format("mqlog").option("path", topic).load()
        assert back.count() == 100
        assert dict(back.dtypes) == dict(df.dtypes)
        assert back.agg(F.sum("k")).first()[0] == sum(range(100))

    def test_append_accumulates(self, registered):
        spark = registered
        topic = _topic_dir()
        df = spark.range(10).select(F.col("id").cast("string").alias("value"))
        df.write.format("mqlog").option("path", topic).mode("append").save()
        df.write.format("mqlog").option("path", topic).mode("append").save()
        assert spark.read.format("mqlog").option("path", topic).load().count() == 20

    def test_overwrite_rejected(self, registered):
        spark = registered
        topic = _topic_dir()
        df = spark.range(5).select(F.col("id").cast("string").alias("value"))
        df.write.format("mqlog").option("path", topic).mode("append").save()
        with pytest.raises(Exception, match="append-only"):
            df.write.format("mqlog").option("path", topic).mode("overwrite").save()

    def test_staged_files_invisible(self, registered):
        spark = registered
        topic = _topic_dir()
        spark.range(5).select(F.col("id").cast("string").alias("value")).write.format(
            "mqlog"
        ).option("path", topic).mode("append").save()
        # a file in .staging (simulating a crashed task) must not be read
        t = _Topic(topic)
        with open(os.path.join(t.staging, "seg-orphan.parquet"), "wb") as fh:
            fh.write(b"garbage")
        assert spark.read.format("mqlog").option("path", topic).load().count() == 5

    def test_timestamps_survive(self, registered):
        spark = registered
        topic = _topic_dir()
        ev = spark.read.parquet(f"{SF}/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )
        ev.write.format("mqlog").option("path", topic).mode("append").save()
        back = spark.read.format("mqlog").option("path", topic).load()
        a = ev.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
        b = back.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
        assert (a[0], a[1]) == (b[0], b[1])


class TestCommitProtocol:
    def test_duplicate_epoch_dropped(self):
        topic = _Topic(_topic_dir())
        topic.ensure()
        w = MQLogStreamWriter({"path": topic.path}, None, False)
        for name in ("seg-a.parquet", "seg-b.parquet"):
            with open(os.path.join(topic.staging, name), "wb") as fh:
                fh.write(b"x")
        w.commit([_SegmentCommit(files=["seg-a.parquet"], rows=1)], batchId=7)
        # epoch 7 re-delivered with a retried file: must be discarded
        w.commit([_SegmentCommit(files=["seg-b.parquet"], rows=1)], batchId=7)
        entries = topic.read_manifest()
        assert [e["batch_id"] for e in entries] == [7]
        assert entries[0]["files"] == ["seg-a.parquet"]
        assert os.listdir(topic.staging) == []  # dupe discarded
        assert sorted(os.listdir(topic.segments)) == ["seg-a.parquet"]

    def test_abort_discards(self):
        topic = _Topic(_topic_dir())
        topic.ensure()
        w = MQLogStreamWriter({"path": topic.path}, None, False)
        with open(os.path.join(topic.staging, "seg-x.parquet"), "wb") as fh:
            fh.write(b"x")
        w.abort([_SegmentCommit(files=["seg-x.parquet"], rows=1)], batchId=0)
        assert os.listdir(topic.staging) == []
        assert topic.read_manifest() == []

    def test_torn_tail_ignored_and_next_commit_contiguous(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        topic = _Topic(_topic_dir())
        topic.ensure()
        w = MQLogStreamWriter({"path": topic.path}, None, False)

        def stage(name, values):
            pq.write_table(pa.table({"value": values}), os.path.join(topic.staging, name))
            return _SegmentCommit(files=[name], rows=len(values))

        w.commit([stage("seg-a.parquet", ["a0", "a1"])], batchId=0)
        # a crash mid-append leaves an unterminated, never-acknowledged line
        with open(topic.manifest, "a") as fh:
            fh.write('{"commit": 1, "batch_id": 1, "fil')
        assert [e["batch_id"] for e in topic.read_manifest()] == [0]

        w.commit([stage("seg-b.parquet", ["b0"])], batchId=1)
        with open(topic.manifest) as fh:
            lines = [json.loads(line) for line in fh]
        assert [(e["commit"], e["batch_id"]) for e in lines] == [(0, 0), (1, 1)]
        assert lines[1] == {"commit": 1, "batch_id": 1, "files": ["seg-b.parquet"], "rows": 1}
        reader = MQLogBatchReader({"path": topic.path}, _topic_schema(topic))
        rows = [
            tuple(r.values())
            for p in reader.partitions()
            for b in reader.read(p)
            for r in b.to_pylist()
        ]
        assert sorted(rows) == [("a0",), ("a1",), ("b0",)]


class TestSegmentFormat:
    """A segment's parquet schema is the topic's on-disk contract (other
    readers open segments with pyarrow): nullable at every level, aware
    timestamps in UTC microseconds, NTZ ones without a zone, whatever
    nullability the writing query's batches carry."""

    def test_non_null_batch_writes_the_nullable_segment_schema(self):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import TimestampNTZType, TimestampType

        t0 = datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)
        aware = t0.replace(tzinfo=datetime.timezone.utc)
        later = datetime.timedelta(seconds=1)
        columns = [
            ("key", pa.string(), ["k0", "k1"]),
            ("value", pa.binary(), [b"v0", b"v1"]),
            ("flag", pa.bool_(), [True, False]),
            ("n32", pa.int32(), [1, -2]),
            ("n64", pa.int64(), [3, 2**40]),
            ("timestamp", pa.timestamp("us", tz="UTC"), [aware, aware + later]),
            ("ntz", pa.timestamp("us"), [t0, t0 + later]),
            ("arr", pa.list_(pa.field("element", pa.float64(), nullable=False)), [[1.5], [2.0, -3.0]]),
        ]
        batch = pa.record_batch(
            [pa.array(values, t) for _, t, values in columns],
            schema=pa.schema([pa.field(n, t, nullable=False) for n, t, _ in columns]),
        )
        topic = _Topic(_topic_dir())
        topic.ensure()
        # the schema Spark hands a writer for these columns: not null throughout
        schema = from_arrow_schema(batch.schema, prefer_timestamp_ntz=True)
        assert not any(f.nullable for f in schema.fields)
        msg = _write_segment(topic, schema, iter([batch]))
        assert msg.rows == 2
        assert topic.commit(0, msg.files, msg.rows)

        written = pq.read_schema(os.path.join(topic.segments, msg.files[0]))
        assert written.equals(
            pa.schema(
                [
                    ("key", pa.string()),
                    ("value", pa.binary()),
                    ("flag", pa.bool_()),
                    ("n32", pa.int32()),
                    ("n64", pa.int64()),
                    ("timestamp", pa.timestamp("us", tz="UTC")),
                    ("ntz", pa.timestamp("us")),
                    ("arr", pa.list_(pa.field("element", pa.float64()))),
                ]
            ),
            check_metadata=True,
        ), written
        read_schema = _topic_schema(topic)
        assert read_schema["timestamp"].dataType == TimestampType()
        assert read_schema["ntz"].dataType == TimestampNTZType()
        assert all(f.nullable for f in read_schema.fields)
        assert read_schema["arr"].dataType.containsNull

        part = MQLogPartition(path=topic.path, files=msg.files, columns=read_schema.fieldNames())
        back = pa.Table.from_batches(list(_read_segments(part)))
        assert back.to_pylist() == batch.to_pylist()

    def test_empty_task_stages_nothing(self):
        import pyarrow as pa
        from pyspark.sql.types import LongType, StructField, StructType

        topic = _Topic(_topic_dir())
        topic.ensure()
        schema = StructType([StructField("k", LongType())])
        empty = pa.record_batch([pa.array([], pa.int64())], names=["k"])
        for batches in ([], [empty]):
            msg = _write_segment(topic, schema, iter(batches))
            assert (msg.files, msg.rows) == ([], 0)
        assert os.listdir(topic.staging) == []


@pytest.mark.slow
class TestStreaming:
    def test_stream_write_then_stream_read(self, registered):
        spark = registered
        topic = _topic_dir()
        ckpt = tempfile.mkdtemp()

        # stage 1: replay events through mq-replay, stream-write to mqlog
        src = (
            spark.readStream.format("mq-replay")
            .option("path", f"{SF}/events.parquet")
            .option("numPartitions", 4)
            .load()
            .select("event_id", "event_type", "ts")
        )
        q = (
            src.writeStream.format("mqlog")
            .option("path", topic)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        expected = spark.read.parquet(f"{SF}/events.parquet").count()
        topic_rows = spark.read.format("mqlog").option("path", topic).load()
        assert topic_rows.count() == expected
        assert topic_rows.select("event_id").distinct().count() == expected

        # stage 2: tail the topic as a stream and aggregate
        name = "mqlog_" + uuid.uuid4().hex[:6]
        agg = (
            spark.readStream.format("mqlog")
            .option("path", topic)
            .load()
            .groupBy("event_type")
            .agg(F.count("*").alias("cnt"))
        )
        q2 = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        q2.stop()
        got = {r["event_type"]: r["cnt"] for r in spark.table(name).collect()}
        exp = {
            r["event_type"]: r["cnt"]
            for r in spark.read.parquet(f"{SF}/events.parquet")
            .groupBy("event_type")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        assert got == exp


@pytest.mark.slow
class TestExactlyOnceRestart:
    def test_failed_batch_rerun_lands_every_offset_once(self, registered):
        """mq (deterministic clock) -> mqlog; one offset of batch 1 raises in
        the JVM, which kills the query; a restart from the same checkpoint
        without the raise re-runs batch 1 and goes on. Every (partition,
        offset) must land exactly once, batch ids must be contiguous, and no
        staged file may be visible to readers."""
        spark = registered
        topic_path = _topic_dir()
        ckpt = tempfile.mkdtemp()
        state_dir = tempfile.mkdtemp()
        fail_offset = 25  # 20 records per partition per batch: batch 1

        def start(fail: bool):
            src = (
                spark.readStream.format("mq")
                .option("numPartitions", 2)
                .option("intervalMs", 10)
                .option("startingTimestamp", 0)
                .option("advanceMsPerBatch", 200)
                .option("includeMetadata", "true")
                .option("stateDir", state_dir)
                .load()
                .select("partition", "offset")
            )
            if fail:
                boom = (F.col("partition") == 0) & (F.col("offset") == fail_offset)
                src = src.withColumn(
                    "offset",
                    F.when(boom, F.raise_error(F.lit("injected failure"))).otherwise(
                        F.col("offset")
                    ),
                )
            return (
                src.writeStream.format("mqlog")
                .option("path", topic_path)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="200 milliseconds")
                .start()
            )

        topic = _Topic(topic_path)

        def batch_ids():
            return [e["batch_id"] for e in topic.read_manifest()]

        q = start(fail=True)
        deadline = time.time() + 90
        while time.time() < deadline and q.isActive:
            time.sleep(0.2)
        assert not q.isActive and q.exception() is not None
        assert "injected failure" in str(q.exception())
        assert batch_ids() == [0], topic.read_manifest()

        q = start(fail=False)
        deadline = time.time() + 90
        while time.time() < deadline and len(batch_ids()) < 3 and q.isActive:
            time.sleep(0.2)
        q.stop()
        q.awaitTermination()

        entries = topic.read_manifest()
        assert len(entries) >= 3
        assert [e["batch_id"] for e in entries] == list(range(len(entries)))
        named = sorted(n for e in entries for n in e["files"])
        assert sorted(os.listdir(topic.segments)) == named
        # .staging/ may still hold a file from a task that outlived its batch's
        # abort (never promoted, never named); the read below must not see it

        rows = spark.read.format("mqlog").option("path", topic_path).load().collect()
        assert len(rows) == sum(e["rows"] for e in entries)
        by_partition: dict = {}
        for r in rows:
            by_partition.setdefault(r["partition"], []).append(r["offset"])
        assert sorted(by_partition) == [0, 1]
        for offsets in by_partition.values():
            assert sorted(offsets) == list(range(len(offsets)))  # once each, no gap
            assert len(offsets) > fail_offset
