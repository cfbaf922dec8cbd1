"""SparkSession construction and fixture-table catalog.

Scale posture: these settings are chosen so the same code runs on a
1000-executor cluster unchanged — AQE handles runtime re-planning (shuffle
partition coalescing, broadcast conversion, skew-join splitting); the
shuffle-partition default is only the pre-AQE ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Python workers fork from the engine's daemon (worker_daemon.py), which
# needs the package importable in the worker processes.
_WORKER_DAEMON_MODULE = f"{__package__}.worker_daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def builder_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configuration to a SparkSession builder.

    Kept separate so tests / bench / driver can layer their own master().
    """
    pythonpath = builder._options.get(_EXECUTOR_PYTHONPATH)
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDF / applyInPandas / mapInPandas hot paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep split size default (128 MiB) — correct for the 100 TB target.
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts encoding robustness: if the fixture ships TIMESTAMP(NANOS)
        # Spark 4 rejects the scan unless nanos arrive as int64; no-op for the
        # current timestamp[us] fixture (util._normalize_events_ts adapts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[32] runs all 32 executor threads inside the driver JVM, so
        # this is effectively the whole-cluster heap; 16g keeps scan + agg
        # working set comfortably off the GC cliff on the 128 GiB test host.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.showConsoleProgress", "false")
        # every Python task otherwise re-reads pyspark.zip (worker_daemon.py)
        .config("spark.python.daemon.module", _WORKER_DAEMON_MODULE)
        .config(
            _EXECUTOR_PYTHONPATH,
            os.pathsep.join(p for p in (pythonpath, _PACKAGE_PARENT) if p),
        )
    )


def get_spark(app_name: str = "mq-analytics") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    spark = builder_conf(b).getOrCreate()
    register_mq_source(spark)
    return spark


def register_mq_source(spark: SparkSession) -> None:
    """Register the custom MQ Python data source under the short name 'mq'.

    The reference had no DataSourceRegister short name (SURVEY.md §3.1.1);
    we fix that: `spark.read/readStream.format("mq")` just works.
    """
    from .sources.mq import MQDataSource
    from .sources.mqlog import MQLogDataSource
    from .sources.replay import ReplayDataSource

    for src in (MQDataSource, ReplayDataSource, MQLogDataSource):
        try:
            spark.dataSource.register(src)
        except Exception:
            # Already registered in this session — idempotent.
            pass


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table as a DataFrame (lazy parquet scans)."""
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view for spark.sql(...)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
