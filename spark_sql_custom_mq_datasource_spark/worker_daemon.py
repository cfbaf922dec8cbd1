"""The engine's Python worker daemon (``spark.python.daemon.module``).

Every Python task (UDFs, ``mapInPandas``/``mapInArrow``,
``applyInPandasWithState``, Python data sources) starts with PySpark's
``setup_spark_files``, which calls ``importlib.invalidate_caches()``. Workers
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, and before Python
3.13 ``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once per zipimporter (one per imported pyspark subpackage). That is
a fixed tax of 100-300 ms on every task for an archive that never changes
while the engine runs.

Run as a module, this installs a stat-guarded ``invalidate_caches`` — the
archive is re-read only when its ``(st_mtime_ns, st_size)`` differs from the
last read — then hands over to ``pyspark.daemon.manager()``. Workers fork from
the daemon, so they all inherit the guard.

Spark's data-source planner workers (``pyspark.sql.worker.*``: read planning,
writer setup, batch and stream commits) and the stream-source runner fork from
a hard-coded ``pyspark.daemon`` and ignore ``spark.python.daemon.module``. The
second install site, ``sources/__init__.py``, reaches them: every such runner
imports it when it unpickles an engine data source, and it installs the guard
only when ``SparkFiles._is_running_on_worker`` is set (``setup_spark_files``
sets it before any command is unpickled). A reused worker then pays the
re-reads on its first run only. Importing this module patches nothing, and
neither site patches the driver.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> ((st_mtime_ns, st_size), directory) of the last guarded read
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}
_unguarded = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    it changed on disk since the last read; otherwise it shares that read."""
    stamp = _stamp(self.archive)
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _unguarded(self)
    if stamp is not None:
        # stat before read: an archive replaced in between is re-read next time
        _last_read[self.archive] = (stamp, self._files)


def install_zip_guard() -> bool:
    """Install the guard on ``zipimporter``; False where it is not needed
    (3.13+ reads the directory lazily through ``_get_files``)."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return False
    # a worker forked from this module's ``__main__`` already runs its guard
    if zipimport.zipimporter.invalidate_caches.__name__ != invalidate_caches_if_changed.__name__:
        zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    return True


if __name__ == "__main__":
    from pyspark import daemon

    if install_zip_guard():
        # one read per archive here, so forked workers start with it
        import importlib

        importlib.invalidate_caches()
    daemon.manager()
