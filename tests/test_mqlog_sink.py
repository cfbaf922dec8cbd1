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
    _SegmentCommit,
    _Topic,
    MQLogBatchReader,
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
        reader = MQLogBatchReader({"path": topic.path})
        rows = [r for p in reader.partitions() for r in reader.read(p)]
        assert sorted(rows) == [("a0",), ("a1",), ("b0",)]


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
