"""The engine's Python worker daemon: its stat-guarded
``zipimporter.invalidate_caches`` re-reads an archive only when it changed,
the session's Python workers run under it, and so do the data-source planner
and commit workers that Spark forks from plain ``pyspark.daemon``."""

from __future__ import annotations

import importlib
import os
import sys
import time
import uuid
import zipfile
import zipimport

import pytest

from spark_sql_custom_mq_datasource_spark import worker_daemon


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimport reads its directory lazily; no guard is installed",
)
def test_guard_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    first, second = (f"zg_{uuid.uuid4().hex[:8]}_{i}" for i in (1, 2))
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{first}.py", "VALUE = 1\n")

    reads = []
    unguarded_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return unguarded_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._unguarded)
    monkeypatch.setattr(worker_daemon, "_last_read", {})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(first).VALUE == 1
        assert worker_daemon.install_zip_guard()

        importlib.invalidate_caches()  # first guarded call: one read
        assert len(reads) == 2  # + the import's own read
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 2  # unchanged archive: not re-read

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr(f"{second}.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert len(reads) == 3
        assert importlib.import_module(second).VALUE == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in (first, second):
            sys.modules.pop(name, None)


def test_python_workers_run_the_guard(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        name = zipimport.zipimporter.invalidate_caches.__name__
        yield pa.RecordBatch.from_pydict({"guard": [name]})

    got = spark.range(1, numPartitions=1).mapInArrow(probe, "guard string").collect()
    assert [r.guard for r in got] == [worker_daemon.invalidate_caches_if_changed.__name__]


def _guard_reporter():
    """A report, pickled by value into a worker, of which ``invalidate_caches``
    it runs and whether the guard has served a read there (it has once a
    reused process ran twice)."""

    def report() -> str:
        import zipimport

        from spark_sql_custom_mq_datasource_spark import worker_daemon as wd

        return f"{zipimport.zipimporter.invalidate_caches.__name__}:{bool(wd._last_read)}"

    return report


_GUARDED = f"{worker_daemon.invalidate_caches_if_changed.__name__}:True"


def test_sources_never_patch_the_driver(tmp_path):
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_sql_custom_mq_datasource_spark import sources
    from spark_sql_custom_mq_datasource_spark.sources.mq import MQDataSource
    from spark_sql_custom_mq_datasource_spark.sources.mqlog import MQLogDataSource
    from spark_sql_custom_mq_datasource_spark.sources.replay import ReplayDataSource

    importlib.reload(sources)  # re-run the install site's worker check
    events = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"ts": pa.array([0, 10], pa.timestamp("ms"))}), events)
    replay = ReplayDataSource({"path": events})
    mqlog = MQLogDataSource({"path": str(tmp_path / "topic")})
    mqlog.streamWriter(replay.schema(), False)
    writer = mqlog.writer(replay.schema(), False)
    ts = pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us", tz="UTC"))
    writer.commit([writer.write(iter([pa.record_batch([ts], names=["ts"])]))])
    for src in (MQDataSource({}), replay, mqlog):
        schema = src.schema()
        src.reader(schema)
        src.streamReader(schema)
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._unguarded


def test_planner_workers_run_the_guard(spark):
    from pyspark.sql.datasource import DataSourceReader, InputPartition

    from spark_sql_custom_mq_datasource_spark.sources.mq import MQDataSource

    report = _guard_reporter()

    class _Reader(DataSourceReader):
        def partitions(self):  # runs in the read-planning worker
            return [InputPartition(report())]

        def read(self, partition):
            yield (partition.value,)

    class GuardProbe(MQDataSource):  # pickled by value, its base by reference
        @classmethod
        def name(cls):
            return "zip_guard_probe"

        def schema(self):
            return "guard string"

        def reader(self, schema):
            return _Reader()

    spark.dataSource.register(GuardProbe)
    got = [spark.read.format("zip_guard_probe").load().first().guard for _ in range(3)]
    assert got[-1] == _GUARDED, got


def test_stream_commit_worker_runs_the_guard(spark, tmp_path):
    from spark_sql_custom_mq_datasource_spark.sources.mqlog import (
        MQLogDataSource,
        MQLogStreamWriter,
    )

    log = str(tmp_path / "commits.txt")
    report = _guard_reporter()

    class _Writer(MQLogStreamWriter):
        def commit(self, messages, batchId):  # runs in the stream-sink worker
            super().commit(messages, batchId)
            with open(log, "a") as f:
                f.write(report() + "\n")

    class CommitProbe(MQLogDataSource):
        @classmethod
        def name(cls):
            return "zip_guard_commit_probe"

        def streamWriter(self, schema, overwrite):
            return _Writer(dict(self.options), schema, overwrite)

    spark.dataSource.register(CommitProbe)
    q = (
        spark.readStream.format("mq")
        .option("numPartitions", 1)
        .option("startingTimestamp", 0)
        .option("advanceMsPerBatch", 100)
        .load()
        .writeStream.format("zip_guard_commit_probe")
        .option("path", str(tmp_path / "topic"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        lines: list[str] = []
        while len(lines) < 3 and time.monotonic() < deadline and q.isActive:
            time.sleep(0.2)
            if os.path.exists(log):
                with open(log) as f:
                    lines = f.read().split()
    finally:
        q.stop()
    assert len(lines) >= 3 and lines[2] == _GUARDED, lines
