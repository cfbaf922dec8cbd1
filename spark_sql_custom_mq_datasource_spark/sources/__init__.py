from pyspark.core.files import SparkFiles

from ..worker_daemon import install_zip_guard
from .mq import MQDataSource

# Spark's planner, commit and stream-source runners fork from plain
# ``pyspark.daemon`` and import this package when they unpickle an engine
# source: guard their pyspark.zip re-reads there (worker_daemon.py), never in
# the driver. The flag is private; tests/test_worker_daemon.py pins it.
if getattr(SparkFiles, "_is_running_on_worker", False):
    install_zip_guard()

__all__ = ["MQDataSource"]
