"""The engine's Python worker daemon: its stat-guarded
``zipimporter.invalidate_caches`` re-reads an archive only when it changed,
and the session's Python workers run under it."""

from __future__ import annotations

import importlib
import sys
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
