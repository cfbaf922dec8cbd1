"""Streaming analytics pipelines (SURVEY.md §7 M5) — Structured Streaming
twins of the batch analytics queries, runnable under the driver's batch
correctness gate.

Strategy: each registered query replays a fixture table through a REAL
Structured Streaming query (file stream source or the custom `mq` source),
drains it with ``Trigger.AvailableNow`` into a memory sink, and returns the
sink table as a batch DataFrame. Because the inputs are finite and
deterministic, the streamed result is exactly comparable to an ANSI-SQL
oracle — including watermark semantics, which append-mode queries encode in
the oracle as a `max(ts) - delay` cutoff (the reference documents this
micro-batch lifecycle at README.md:474-487; watermarking is the stock-Spark
machinery the reference's demo relies on, README.md:86).

Scale notes (100 TB posture):
  * All stateful operators key their state by the SAME columns the batch
    twin shuffles on (window+type, user_id, event_type) — state is
    hash-partitioned across executors by key, so a 1000-executor cluster
    spreads it; nothing here collects to the driver.
  * Watermarks bound state: append-mode windows and stream-stream joins
    evict state once the watermark passes, which is what makes these
    pipelines runnable on an unbounded 100 TB/day firehose.
  * applyInPandasWithState state is O(#keys), not O(#rows).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..operators.index_lifecycle import committed_batch_dirs, compact_batch_root
from ..plans.registry import register
from ..plans.util import (
    data_bytes,
    ordered_inbox,
    read_inbox,
    stream_inbox,
    t,
    work_dir,
)

# --------------------------------------------------------------------------
# Plumbing
# --------------------------------------------------------------------------


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file-stream source (the batch image of the
    stream the mq source models, FIXTURES.md §B).

    `ts` is normalized to a micros timestamp the same way plans.util.t does
    for the batch twin — cast only when the file schema delivers int64 nanos
    (see plans.util._normalize_events_ts; the unconditional cast here was the
    second half of the round-2/3 regression, VERDICT.md r03 item 2).
    """
    from ..plans.util import _normalize_events_ts

    t(spark, sf_dir, "events")  # sets nanosAsLong (no-op for us-fixture)
    file_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(file_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_events_ts(stream)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def configure_state_store(spark: SparkSession) -> None:
    """Route streaming state to RocksDB (VERDICT.md r04 item 6).

    The default HDFSBackedStateStoreProvider keeps every key's state as
    deserialized JVM objects on the executor heap — at 100 TB/day the state
    for windowed aggs / stream-stream joins / dedup outgrows the heap long
    before anything else breaks. RocksDB keeps state off-heap + on local
    disk with incremental changelog checkpointing, which is the provider
    every large production deployment runs. rocksdbjni ships inside the
    pyspark wheel, so this holds on the driver's vanilla session too.

    Set per-session (captured by each query at start). Escape hatch:
    SPARK_GRAFT_STATE_STORE=hdfs restores the default provider."""
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "hdfs":
        return
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    # Changelog checkpointing: upload per-batch deltas instead of full
    # RocksDB snapshots — the at-scale default for commit latency.
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def _ckpt(name: str) -> str:
    """Fresh checkpoint directory with a BOUNDED footprint: a fixed
    per-call-site path cleared on entry. Fresh-per-run semantics are
    intentional (every invocation starts a new deterministic fold), but
    a new ``mkdtemp`` per run left each run's RocksDB state stranded in
    /tmp for the life of the machine — ~10 sites × 50+ query runs per
    session accumulated without bound (VERDICT r07 "what's wrong" 2).
    ``work_dir`` keeps the fresh-start contract while each site reuses
    one footprint. Its only caller is the drain core ``_drain``: queries
    run serially, and ``_drain`` stops every stream before its query
    function returns, so clearing on the NEXT entry never races a live
    stream."""
    return work_dir(f"ckpt_{name}")


DRAIN_TIMEOUT_S = 300


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    name: str,
    ckpt_name: str,
    state_partitions: int | None,
) -> None:
    """The one lifecycle of every streaming query here: RocksDB state,
    an availableNow start, a bounded wait, and a stop that also runs when
    a micro-batch fails.

    ``state_partitions``: optional override of ``spark.sql.shuffle.partitions``
    for the duration of the drain. The shuffle-partition count at stream START
    pins the number of state partitions — one RocksDB instance each — for the
    checkpoint's lifetime, and every micro-batch pays a FIXED per-instance
    update/commit cost (measured ~0.4-1.0 s/partition/batch at sf0.1)
    regardless of how little state the instance holds. Callers whose total
    state is small and bounded pass a value derived from
    ``defaultParallelism`` so the instance count tracks state volume instead
    of defaulting to one instance per core (guide §2.2: partition count must
    match the data, not the machine). foreachBatch folds also run their
    batch shuffles at this width. Results are invariant to the setting —
    it only shards the state rows. The session value is restored after the
    drain; the stream itself keeps the cloned conf it captured at start."""
    configure_state_store(spark)
    restore: str | None = None
    if state_partitions is not None:
        restore = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            writer.option("checkpointLocation", _ckpt(ckpt_name))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise TimeoutError(
                    f"streaming query {name} did not drain in {DRAIN_TIMEOUT_S}s"
                )
        finally:
            if q.isActive:
                q.stop()
    finally:
        if restore is not None:
            spark.conf.set("spark.sql.shuffle.partitions", restore)


def run_to_table(
    spark: SparkSession,
    df: DataFrame,
    output_mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a finite streaming DataFrame into a memory sink; return the
    sink contents as a batch DataFrame. The sink's view is dropped once
    the result is bound, so its rows live only as long as the result."""
    name = "strm_" + uuid.uuid4().hex[:12]
    writer = df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    _drain(spark, writer, name, "run_to_table", state_partitions)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def run_foreach_batch(
    spark: SparkSession,
    df: DataFrame,
    fold: Callable[[DataFrame, int], None],
    ckpt_name: str,
    output_mode: str | None = None,
    state_partitions: int | None = None,
) -> list[int]:
    """Drain a finite streaming DataFrame through ``fold(batch_df,
    batch_id)``, the foreachBatch sink; returns the ids of the folded
    batches in delivery order."""
    delivered: list[int] = []

    def tracked(bdf: DataFrame, batch_id: int) -> None:
        fold(bdf, batch_id)
        delivered.append(int(batch_id))

    writer = df.writeStream.foreachBatch(tracked)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    _drain(spark, writer, ckpt_name, ckpt_name, state_partitions)
    return delivered


def redelivery_exercise() -> bool:
    """Whether the foreachBatch queries re-fold a delivered batch under
    its own id to prove the fold idempotent (the exactly-once sink
    contract). On unless SPARK_GRAFT_REDELIVERY_EXERCISE=0, which bench
    runs set so the timed body is the fold alone; read at call time."""
    return os.environ.get("SPARK_GRAFT_REDELIVERY_EXERCISE") != "0"


def small_state_parts(spark: SparkSession) -> int:
    """``state_partitions`` value for drains whose TOTAL state is small and
    bounded by the operator's construction — a fixed shard count or a
    few-key domain (event types, sources, langs, calendar windows) — so the
    per-RocksDB-instance fixed update/commit cost dominates the fold work.
    Measured at sf0.1/local[32] (OPTIMIZATION_r17.md, warm draws):
    parallelism//4 = 8 instances reads 1.4-1.8x faster than one instance
    per core and 5-6x faster than the vanilla-session conf default of 200
    (e.g. q_stream_table_fingerprint 5.5 s @32 / 18.1 s @200 / 3.0 s @8).
    Derived from cluster parallelism, not a local constant (guide §2.2);
    results are invariant — the value only shards the state map. Streams
    whose state grows with the data (stream-stream joins, dedup state,
    per-user folds) deliberately do NOT use this: at scale they need the
    full stateful-stage parallelism — they derive their count from the
    feed's volume instead (volume_state_parts)."""
    return max(1, spark.sparkContext.defaultParallelism // 4)


VOLUME_BYTES_PER_STATE_PART = 32 * 1024 * 1024


def volume_state_parts(spark: SparkSession, inbox: str) -> int:
    """``state_partitions`` value for drains whose state GROWS with the
    data (per-user sessionizers, stream-stream join buffers, key-domain
    dedup), derived from the feed's actual byte volume rather than the
    machine's core count or the conf default (guide §2.2: partition from
    input size, never a constant tuned for one deployment). One state
    partition per ~``VOLUME_BYTES_PER_STATE_PART`` of feed, floored at
    ``small_state_parts`` (below that the fixed per-RocksDB-instance
    update/commit cost dominates: measured ~95-110 s vs ~9-12 s for the
    5-trigger timesliced co-presence drain at sf0.001 under the
    vanilla-session default of 200 instances vs the derived 8) and
    capped at 8x the cluster parallelism (a 100 TB feed saturates the
    cap, getting the full stateful-stage width and then some; a
    test-scale feed stops paying for hundreds of idle instances).
    ``inbox`` may be a directory of feed files or a single feed file,
    sized by data_bytes — metadata-rate at any scale. ALL regular data
    files count, not just *.parquet — a non-parquet feed must not
    silently size to zero and take the floor (VERDICT r17 "what's wrong"
    3); hidden/metadata names are skipped, mirroring Spark's own data-
    file filter. Results are invariant — the value only shards the
    state map."""
    need = -(-data_bytes(inbox) // VOLUME_BYTES_PER_STATE_PART)
    para = spark.sparkContext.defaultParallelism
    return min(max(small_state_parts(spark), need), max(1, para * 8))


# --------------------------------------------------------------------------
# 1. Tumbling window, complete mode — bit-identical to the batch window agg.
# --------------------------------------------------------------------------


@register(
    "q_stream_tumbling_1d",
    """
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="STREAMING tumbling 1-day window (complete mode, availableNow drain); "
    "oracle = the batch tumbling agg.",
)
def q_stream_tumbling_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    out = run_to_table(
        spark, agg, "complete", state_partitions=small_state_parts(spark)
    )
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
    ).orderBy("win_start", "event_type")


# --------------------------------------------------------------------------
# 2. Tumbling window, APPEND mode + watermark — the oracle encodes exactly
#    Spark's late-data contract: a window is emitted iff the final watermark
#    (global max ts − delay) has passed its end. Verifies the no-data batch
#    + watermark eviction path end to end.
# --------------------------------------------------------------------------


@register(
    "q_stream_tumbling_watermark",
    """
    WITH cut AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL '1 day', min(ts)) + INTERVAL 1 DAY
             <= (SELECT wm FROM cut)
    ORDER BY 1, 2
    """,
    doc="STREAMING append-mode tumbling window with 1h watermark; oracle "
    "reproduces the closed-window cutoff (window_end <= max_ts - 1h).",
)
def q_stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    out = run_to_table(
        spark, agg, "append", state_partitions=small_state_parts(spark)
    )
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "cnt",
    ).orderBy("win_start", "event_type")


# --------------------------------------------------------------------------
# 2b. Sliding window (6h window, 3h slide), complete mode — every event
#     lands in exactly two windows; shares the batch sliding-agg oracle.
# --------------------------------------------------------------------------


@register(
    "q_stream_sliding_6h",
    """
    WITH buckets AS (
      SELECT ts, value,
             time_bucket(INTERVAL '3 hour', ts) AS b
      FROM events WHERE event_type = 'purchase'
    ), slides AS (
      SELECT b AS win_start, ts, value FROM buckets
      UNION ALL
      SELECT b - INTERVAL '3 hour' AS win_start, ts, value FROM buckets
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM slides
    GROUP BY 1
    ORDER BY 1
    """,
    doc="STREAMING sliding 6h/3h window agg (complete mode drain).",
)
def q_stream_sliding_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.util import dec

    agg = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
        )
    )
    out = run_to_table(
        spark, agg, "complete", state_partitions=small_state_parts(spark)
    )
    return out.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "cnt",
        "sum_value",
    ).orderBy("win_start")


# --------------------------------------------------------------------------
# 3. Streaming dedup — dropDuplicates keyed on (user_id, event_type);
#    emitting only key columns makes "keep whichever arrived first"
#    order-insensitive, so the oracle is SELECT DISTINCT.
# --------------------------------------------------------------------------


@register(
    "q_stream_dedup_pairs",
    """
    SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
    """,
    doc="STREAMING exact dedup (dropDuplicates state op) to distinct "
    "(user, event_type) pairs.",
)
def q_stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = (
        events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_to_table(
        spark,
        dedup,
        "append",
        state_partitions=volume_state_parts(spark, f"{sf_dir}/events.parquet"),
    ).orderBy("user_id", "event_type")


# --------------------------------------------------------------------------
# 3b. Watermark-bounded streaming dedup — dropDuplicatesWithinWatermark
#     keeps per-key state only until the watermark passes (the 100 TB
#     posture: state is bounded by the delay window, not corpus size).
#     Replaying a finite fixture whose duplicates are all within the delay
#     makes the result equal to a plain DISTINCT, so it oracle-checks.
# --------------------------------------------------------------------------


@register(
    "q_stream_dedup_within_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
    """,
    doc="STREAMING dropDuplicatesWithinWatermark (state bounded by the "
    "watermark delay).",
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "90 days")  # fixture spans ~30 days → exact
        .select("ts", "user_id", "event_type")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_table(
        spark,
        dedup,
        "append",
        state_partitions=volume_state_parts(spark, f"{sf_dir}/events.parquet"),
    ).orderBy("user_id", "event_type")


# --------------------------------------------------------------------------
# 4. Stream–stream inner join: purchase joined to the same user's clicks
#    within the following 30 minutes. Watermarks + the event-time range
#    condition bound the join state (the 100 TB requirement); for a finite
#    replay the inner-join output equals the batch join, so the oracle is
#    plain SQL.
# --------------------------------------------------------------------------


@register(
    "q_stream_stream_join",
    """
    SELECT p.user_id AS user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 30 MINUTE
    ORDER BY user_id, purchase_id, click_id
    """,
    doc="STREAMING stream-stream inner join with watermarks + time-range "
    "state eviction.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
    )
    # join-buffer state grows with the watermark window's share of the
    # feed — derive the state-partition count from the feed volume
    return run_to_table(
        spark,
        joined,
        "append",
        state_partitions=volume_state_parts(spark, f"{sf_dir}/events.parquet"),
    ).orderBy("user_id", "purchase_id", "click_id")


# --------------------------------------------------------------------------
# 5. Custom stateful operator via applyInPandasWithState: running per-key
#    stats (count + id bounds — integer-exact, so order-insensitive). The
#    finite replay drains in one batch, so the last update per key equals
#    the batch GROUP BY; state is O(#event_types).
# --------------------------------------------------------------------------

_STATEFUL_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("cnt", LongType()),
        StructField("min_event_id", LongType()),
        StructField("max_event_id", LongType()),
    ]
)
_STATEFUL_STATE = StructType(
    [
        StructField("cnt", LongType()),
        StructField("mn", LongType()),
        StructField("mx", LongType()),
    ]
)


def _running_stats(key: tuple, pdfs, state: GroupState):
    cnt, mn, mx = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        cnt += len(pdf)
        lo, hi = int(pdf["event_id"].min()), int(pdf["event_id"].max())
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    state.update((cnt, mn, mx))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "cnt": [cnt],
            "min_event_id": [mn],
            "max_event_id": [mx],
        }
    )


@register(
    "q_stream_stateful_stats",
    """
    SELECT event_type, COUNT(*) AS cnt,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="STREAMING custom stateful operator (applyInPandasWithState) — "
    "running per-type stats; state O(#keys).",
)
def q_stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    updates = (
        events_stream(spark, sf_dir)
        .select("event_type", "event_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _running_stats,
            _STATEFUL_OUT,
            _STATEFUL_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_table(
        spark, updates, "update", state_partitions=small_state_parts(spark)
    )
    # multiple micro-batches would emit one update per key per batch; the
    # final (max-cnt) update per key is the converged value.
    return (
        out.groupBy("event_type")
        .agg(
            F.max("cnt").alias("cnt"),
            F.min("min_event_id").alias("min_event_id"),
            F.max("max_event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# 6. Native session windows (streaming session_window) — per-user sessions
#    with a 30-min inactivity gap, aggregated per user AFTER the sink
#    (streaming allows a single stateful agg). Same session semantics as
#    the batch lag-based q_events_sessionize, so it shares that oracle.
# --------------------------------------------------------------------------


@register(
    "q_stream_session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    ), per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           MAX(n_events) AS max_session_events,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="STREAMING native session_window(30 min) sessionization; oracle = "
    "the batch lag-based sessionizer (identical gap semantics).",
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = (
        events_stream(spark, sf_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
    )
    per_session = run_to_table(
        spark,
        sessions,
        "complete",
        state_partitions=volume_state_parts(spark, f"{sf_dir}/events.parquet"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("total_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# 7. The reference's flagship WordCount (README.md:64-124) over the custom
#    mq source, drained deterministically: startingTimestamp=0 +
#    advanceMsPerBatch makes the offset range — and therefore every payload
#    — a pure function of the options (SURVEY.md §2.1 #10 fix). The mq
#    stream isn't a DuckDB table, but the payload generator IS the spec:
#    the oracle below recomputes the exact expected counts from it at
#    import time and ships them to DuckDB as a VALUES literal, making the
#    reference's own flagship demo hash-checkable (VERDICT.md r04 item 2).
# --------------------------------------------------------------------------


def _mq_wordcount_oracle() -> str:
    """Expected word counts for the exact drain below — seed=42, partitions
    0-3, offsets [0, 5000) at intervalMs=10 → record indices [0, 500) per
    partition — recomputed from the deterministic payload function
    (sources/mq.py:137-145) and emitted as a DuckDB VALUES table."""
    import collections

    from ..sources.mq import _indices_in_range, _payload

    expected: collections.Counter = collections.Counter()
    for p in range(4):
        for i in _indices_in_range(0, 5000, 10):
            expected.update(_payload(42, p, i).split(" "))
    rows = ", ".join(f"('{w}', {n})" for w, n in sorted(expected.items()))
    return (
        f'SELECT word, CAST(cnt AS BIGINT) AS "count" '
        f"FROM (VALUES {rows}) AS t(word, cnt) ORDER BY word"
    )


@register(
    "q_stream_mq_wordcount",
    _mq_wordcount_oracle(),
    doc="Reference WordCount over the custom mq streaming source "
    "(deterministic bounded drain); oracle = VALUES literal recomputed "
    "from the payload generator.",
)
def q_stream_mq_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import register_mq_source

    register_mq_source(spark)
    stream = (
        spark.readStream.format("mq")
        .option("numPartitions", 4)
        .option("intervalMs", 10)
        .option("startingTimestamp", 0)
        .option("advanceMsPerBatch", 5000)
        .option("maxRecordsPerBatch", 0)
        .load()
    )
    counts = (
        stream.selectExpr("CAST(value AS STRING) AS line")
        .select(F.explode(F.split("line", " ")).alias("word"))
        .groupBy("word")
        .count()
    )
    # state is small BY THE SOURCE'S CONSTRUCTION: the mq mock fabricates
    # payloads from its fixed 20-word _VOCAB (sources/mq.py), so the
    # grouped state is <= 20 keys however long the feed runs — the
    # few-key-domain category, not a growing vocabulary (the
    # high-cardinality twin is q_stream_gram_counts_mv)
    return run_to_table(
        spark, counts, "complete", state_partitions=small_state_parts(spark)
    ).orderBy("word")


# --------------------------------------------------------------------------
# 8. Stream-static join — the events stream enriched against a static
#    dimension (customer), then aggregated. The static side is broadcast:
#    no stream-side state at all, the canonical "enrich a firehose with a
#    dimension table" pattern (stream-STREAM joins, which do need state,
#    are #4).
# --------------------------------------------------------------------------


@register(
    "q_stream_static_join",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
    doc="STREAMING stream-static join: events enriched with a broadcast "
    "customer dim, aggregated per market segment.",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.util import dec, t as t_

    cust = t_(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
        )
    )
    return run_to_table(
        spark, joined, "complete", state_partitions=small_state_parts(spark)
    ).orderBy("segment")


# --------------------------------------------------------------------------
# 9. Replay a REAL table through the mq-replay source: the events parquet
#    served as a message stream (epoch-ms offsets from footer statistics,
#    row-group pushdown) and aggregated downstream. Single-batch drain here;
#    multi-batch replay with checkpoint recovery is covered in
#    tests/test_replay_source.py.
# --------------------------------------------------------------------------


@register(
    "q_stream_mq_replay",
    """
    SELECT event_type, COUNT(*) AS cnt,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="STREAMING replay of the events parquet through the mq-replay "
    "source (offset semantics over a real table), aggregated per type.",
)
def q_stream_mq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.util import dec
    from ..session import register_mq_source

    register_mq_source(spark)
    stream = (
        spark.readStream.format("mq-replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("numPartitions", 8)
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.sum(dec("value", 18, 6)).cast("double").alias("sum_value"),
    )
    return run_to_table(
        spark, agg, "complete", state_partitions=small_state_parts(spark)
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# 12. foreachBatch → partitioned parquet sink: the "custom sink" escape
#     hatch (SURVEY.md §2.4 sinks row). Each micro-batch lands in its own
#     batch=<id> directory with mode=overwrite — re-running a batch after a
#     failure overwrites, not duplicates, which is the standard idempotent
#     exactly-once recipe for sinks without transactional commit. Reading
#     the root back discovers `batch` as a partition column; the oracle is
#     the plain batch aggregate, proving no loss and no duplication across
#     the whole stream.
# --------------------------------------------------------------------------


@register(
    "q_stream_foreachbatch_parquet",
    """
    SELECT event_type,
           strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="STREAMING foreachBatch sink -> per-batch overwrite parquet dirs "
    "(idempotent exactly-once); oracle proves loss-free, dup-free landing.",
)
def q_stream_foreachbatch_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = work_dir("fb_sink")

    def land(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

    run_foreach_batch(
        spark,
        events_stream(spark, sf_dir).select("event_type", "ts", "value"),
        land,
        "foreachbatch_parquet",
    )

    landed = spark.read.parquet(out_dir)
    return (
        landed.groupBy(
            "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# 13. Built-in rate-micro-batch source (SURVEY.md §2.4 sources row): the
#     stock load-generator Spark ships for throughput testing. One
#     availableNow batch of rowsPerBatch sequential values is fully
#     deterministic, so even this "load" source gets a value-level oracle
#     (generate_series). numPartitions shows the same partition→task
#     mapping contract as the mq source.
# --------------------------------------------------------------------------


@register(
    "q_stream_rate_source",
    """
    SELECT v % 10 AS bucket, COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS sum_v
    FROM generate_series(0, 999) t(v)
    GROUP BY v % 10
    ORDER BY bucket
    """,
    doc="STREAMING built-in rate-micro-batch source, one deterministic "
    "availableNow batch of 1000 sequential values.",
)
def q_stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    agg = (
        src.select((F.col("value") % 10).alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_v"))
    )
    return run_to_table(spark, agg, "complete").orderBy("bucket")


# --------------------------------------------------------------------------
# 14. transformWithStateInPandas (Spark 4's next-gen arbitrary-state API,
#     successor to applyInPandasWithState): per-user running aggregate held
#     in a typed ValueState. One availableNow batch over the finite stream
#     => each user emits exactly once, so the result equals the batch
#     aggregate and gets a full value oracle. State is per-key and
#     watermark/TTL-evictable at scale; nothing global.
#
#     ENV FALLBACK: Spark's TransformWithStateInPySpark driver worker
#     speaks protobuf to the JVM; the `google.protobuf` Python package is
#     not in this container (and installs are off-limits). The query is
#     registered UNCONDITIONALLY — where protobuf exists it runs the real
#     transformWithStateInPandas operator; otherwise the same per-key
#     running aggregate runs through applyInPandasWithState.
# --------------------------------------------------------------------------


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_running_agg_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("mx", DoubleType())]
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            cnt, mx = 0, float("-inf")
            if self._state.exists():
                cnt, mx = self._state.get()
            for pdf in rows:
                cnt += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((cnt, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [cnt], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return RunningAgg()


def q_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    grouped = events_stream(spark, sf_dir).select("user_id", "value").groupBy("user_id")
    if _has_protobuf():
        agg = grouped.transformWithStateInPandas(
            statefulProcessor=_make_running_agg_processor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    else:
        # Fallback surface: Spark's TransformWithStateInPySpark worker
        # speaks protobuf to the JVM and google.protobuf is absent from
        # this container (installs are off-limits). applyInPandasWithState
        # expresses the IDENTICAL per-key running aggregate through the
        # older arbitrary-state API, so the query stays registered and
        # driver-checkable everywhere; on a protobuf-equipped cluster the
        # branch above exercises the real transformWithState operator.
        def running_agg(key, pdfs, state: GroupState):  # noqa: ANN001
            cnt, mx = state.get if state.exists else (0, float("-inf"))
            for pdf in pdfs:
                cnt += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            state.update((cnt, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [cnt], "max_value": [mx]}
            )

        agg = grouped.applyInPandasWithState(
            func=running_agg,
            outputStructType=out_schema,
            stateStructType=StructType(
                [StructField("cnt", LongType()), StructField("mx", DoubleType())]
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    out = run_to_table(
        spark,
        agg,
        "update",
        state_partitions=volume_state_parts(spark, f"{sf_dir}/events.parquet"),
    )
    # availableNow may split the file into several batches; keep each
    # user's LAST update (the running state is monotone in batch order).
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("user_id", "n_events", "max_value")
        .orderBy("user_id")
    )


register(
    "q_stream_transform_with_state",
    """
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="STREAMING transformWithStateInPandas (Spark 4 arbitrary-state "
    "API): per-user ValueState running aggregate; oracle = batch agg. "
    "Registered unconditionally (VERDICT.md r03 item 7): where "
    "google.protobuf is unavailable the identical semantics run through "
    "applyInPandasWithState instead of silently vanishing from queries().",
)(q_stream_transform_with_state)


# --------------------------------------------------------------------------
# 15. Stream-stream LEFT OUTER join: unmatched purchases emit (id, NULL)
#     — but only after the watermark passes their join window, when Spark
#     evicts the state row and knows no match can arrive. The oracle
#     encodes exactly that contract: matched rows unconditionally, outer
#     rows iff the window end is below the FINAL watermark
#     (min over both inputs of max event time, minus the delay).
# --------------------------------------------------------------------------


@register(
    "q_stream_stream_left_outer",
    """
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
               (SELECT max(ts) FROM events WHERE event_type = 'click')
             ) - INTERVAL 1 HOUR AS w
    ),
    j AS (
      SELECT p.user_id AS user_id,
             p.event_id AS purchase_id,
             c.event_id AS click_id,
             p.ts AS p_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, purchase_id, click_id
    FROM j, wm
    WHERE click_id IS NOT NULL
       OR p_ts + INTERVAL 30 MINUTE < wm.w
    ORDER BY user_id, purchase_id, click_id
    """,
    doc="STREAMING stream-stream LEFT OUTER join: outer null rows emit on "
    "watermark-driven state eviction; oracle encodes the final-watermark "
    "contract.",
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(F.col("p_user").alias("user_id"), "purchase_id", "click_id")
    return run_to_table(
        spark,
        joined,
        "append",
        state_partitions=volume_state_parts(spark, f"{sf_dir}/events.parquet"),
    ).orderBy("user_id", "purchase_id", "click_id")


# --------------------------------------------------------------------------
# 16. Streaming decontamination: the curation family composed with
#     Structured Streaming — a firehose of crawled docs is checked against
#     the (broadcast, static) benchmark shingle index IN-FLIGHT, so
#     contaminated docs are flagged before they ever land in the corpus.
#     The stream side explodes to hashed shingles (pure Catalyst), probes
#     the broadcast index map-side, and the per-(doc, eval) match counts
#     are a streaming aggregation whose state is keyed exactly like the
#     batch twin's shuffle. Oracle = the batch decontamination SQL.
# --------------------------------------------------------------------------


def _register_stream_decontaminate() -> None:
    from ..operators.curation import DECONTAM_EVAL_MOD, DECONTAM_THRESHOLD

    @register(
        "q_stream_decontaminate",
        f"""
        WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        sh AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                        generate_series(1, len(ws) - 2),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
               FROM w WHERE len(ws) >= 3),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        m AS (SELECT t.doc_id, e.doc_id AS eval_id, COUNT(*) AS common
              FROM sh t JOIN sh e ON t.s = e.s
              WHERE e.doc_id % {DECONTAM_EVAL_MOD} = 0 AND t.doc_id <> e.doc_id
              GROUP BY 1, 2)
        SELECT m.doc_id, m.eval_id, CAST(m.common AS INTEGER) AS common,
               CAST(m.common AS DOUBLE) / sz.n AS containment
        FROM m JOIN sz ON m.doc_id = sz.doc_id
        WHERE CAST(m.common AS DOUBLE) / sz.n >= {DECONTAM_THRESHOLD}
        ORDER BY m.doc_id, m.eval_id
        """,
        doc="STREAMING decontamination: stream-static broadcast probe of the "
        "doc firehose against the benchmark shingle index, run per "
        "micro-batch via foreachBatch. A document is one input row, so all "
        "of its shingle matches live inside one batch — the per-batch probe "
        "carries ZERO cross-batch state (no watermark needed; evictability "
        "is structural), unlike a global streaming agg which would grow "
        "per-(doc,eval) state forever (ADVICE r04 item 5).",
    )
    def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.text import word_hash  # noqa: F401 (module init)
        from ..operators.dedup import hashed_shingles, shingle_sets_cached

        sets = shingle_sets_cached(spark, sf_dir)
        eval_sh = (
            sets.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
            .select(F.col("doc_id").alias("eval_id"), F.explode("hset").alias("s"))
        )
        docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        out_dir = work_dir("decon_sink")

        def probe(bdf: DataFrame, batch_id: int) -> None:
            # Batch-local probe: broadcast the (small) eval index, aggregate
            # only the docs in THIS batch, land verdicts, release everything.
            sh = (
                bdf.where(F.size(F.split(F.trim("text"), " ")) >= 3)
                .select("doc_id", hashed_shingles("text").alias("hset"))
                .select(
                    "doc_id", F.size("hset").alias("n"), F.explode("hset").alias("s")
                )
            )
            matches = (
                sh.join(F.broadcast(eval_sh), "s")
                .where(F.col("doc_id") != F.col("eval_id"))
                .groupBy("doc_id", "eval_id", "n")
                .agg(F.count("*").alias("common"))
            )
            matches.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )

        run_foreach_batch(spark, stream, probe, "decontaminate")

        landed_schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("eval_id", LongType()),
                StructField("n", IntegerType()),
                StructField("common", LongType()),
            ]
        )
        landed = spark.read.schema(landed_schema).parquet(out_dir)
        return (
            landed.select(
                "doc_id",
                "eval_id",
                F.col("common").cast("int").alias("common"),
                (F.col("common") / F.col("n")).alias("containment"),
            )
            .where(F.col("containment") >= DECONTAM_THRESHOLD)
            .orderBy("doc_id", "eval_id")
        )


_register_stream_decontaminate()


# --------------------------------------------------------------------------
# 17. Streaming quality gate — the Gopher repetition/shape rules
#     (functions/text.py q_quality_gopher) applied to the document firehose
#     in-flight. Every metric is a PER-ROW computation (array HOFs over the
#     doc's own tokens), so the streaming form is stateless: no watermark,
#     no state store, nothing to evict — the gate is a map over the stream,
#     which is exactly how a 100 TB/day ingest wants its quality filter.
#     Oracle = the batch twin's SQL (identical rules, identical integers).
# --------------------------------------------------------------------------


def _register_stream_quality_gate() -> None:
    from ..functions.text import (
        GOPHER_DUP2_MAX_Q20,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_MAX_Q20,
        GOPHER_MWL_MIN_Q20,
        GOPHER_TOPWORD_MAX_Q20,
    )

    @register(
        "q_stream_quality_gate",
        f"""
        WITH ws AS (
          SELECT doc_id, lang, string_split(trim(text), ' ') AS ws FROM documents
        ),
        g2 AS (
          SELECT doc_id, lang, ws,
                 list_transform(generate_series(1, len(ws) - 1),
                                i -> ws[i] || ' ' || ws[i+1]) AS g2
          FROM ws
        ),
        m AS (
          SELECT doc_id, lang,
                 len(ws) AS wc,
                 CAST(floor((len(g2) - len(list_distinct(g2))) * 1048576.0
                            / len(g2) + 0.5) AS BIGINT) AS dup2_q20,
                 (SELECT CAST(floor(MAX(cnt) * 1048576.0 / SUM(cnt) + 0.5) AS BIGINT)
                  FROM (SELECT COUNT(*) AS cnt FROM unnest(ws) AS u(w) GROUP BY w))
                   AS topword_q20,
                 (SELECT CAST(floor(SUM(length(w)) * 1048576.0 / COUNT(*) + 0.5) AS BIGINT)
                  FROM unnest(ws) AS u(w)) AS mwl_q20
          FROM g2 WHERE len(g2) > 0
        ),
        gated AS (
          SELECT lang,
                 (wc >= {GOPHER_MIN_WORDS}
                  AND dup2_q20 <= {GOPHER_DUP2_MAX_Q20}
                  AND topword_q20 <= {GOPHER_TOPWORD_MAX_Q20}
                  AND mwl_q20 BETWEEN {GOPHER_MWL_MIN_Q20} AND {GOPHER_MWL_MAX_Q20})
                   AS accept
          FROM m
        )
        SELECT lang, accept, COUNT(*) AS n_docs
        FROM gated GROUP BY lang, accept ORDER BY lang, accept
        """,
        doc="STREAMING quality gate: the Gopher repetition/shape rules "
        "applied per-row to the doc firehose (stateless map — no state "
        "store, no watermark), per-(lang, accept) admission counts; "
        "oracle = the batch rules inlined.",
    )
    def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        q20 = F.lit(1048576.0)
        ws = F.split(F.trim("text"), " ")
        g2 = F.expr(
            "transform(sequence(0, size(split(trim(text), ' ')) - 2),"
            " i -> concat(split(trim(text), ' ')[i], ' ',"
            "             split(trim(text), ' ')[i+1]))"
        )
        # per-row top-word count via sort + fold over the doc's own tokens:
        # stateless, no shuffle — run-length max over the sorted array
        run_max = F.expr(
            "aggregate(array_sort(split(trim(text), ' ')),"
            " struct(CAST(0 AS BIGINT) AS best, CAST(0 AS BIGINT) AS run,"
            "        CAST(NULL AS STRING) AS prev),"
            " (acc, w) -> struct("
            "   greatest(acc.best, IF(acc.prev <=> w, acc.run + 1, CAST(1 AS BIGINT))),"
            "   IF(acc.prev <=> w, acc.run + 1, CAST(1 AS BIGINT)),"
            "   w),"
            " acc -> acc.best)"
        )
        sum_len = F.aggregate(
            ws, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
        )
        wc = F.size(ws).cast("bigint")
        metrics = stream.where(F.size(g2) > 0).select(
            "lang",
            wc.alias("wc"),
            F.floor(
                (F.size(g2) - F.size(F.array_distinct(g2))) * q20 / F.size(g2)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("dup2_q20"),
            F.floor(run_max * q20 / wc + F.lit(0.5)).cast("bigint").alias(
                "topword_q20"
            ),
            F.floor(sum_len * q20 / wc + F.lit(0.5)).cast("bigint").alias("mwl_q20"),
        )
        from ..functions.text import (
            GOPHER_DUP2_MAX_Q20,
            GOPHER_MIN_WORDS,
            GOPHER_MWL_MAX_Q20,
            GOPHER_MWL_MIN_Q20,
            GOPHER_TOPWORD_MAX_Q20,
        )

        gated = metrics.select(
            "lang",
            (
                (F.col("wc") >= GOPHER_MIN_WORDS)
                & (F.col("dup2_q20") <= GOPHER_DUP2_MAX_Q20)
                & (F.col("topword_q20") <= GOPHER_TOPWORD_MAX_Q20)
                & (F.col("mwl_q20") >= GOPHER_MWL_MIN_Q20)
                & (F.col("mwl_q20") <= GOPHER_MWL_MAX_Q20)
            ).alias("accept"),
        )
        counts = gated.groupBy("lang", "accept").agg(F.count("*").alias("n_docs"))
        return run_to_table(
            spark, counts, "complete", state_partitions=small_state_parts(spark)
        ).orderBy("lang", "accept")


_register_stream_quality_gate()


def _register_stream_pii_redact() -> None:
    from ..operators.privacy import _SQL_PII, _injected_text, pii_counts, redact_pii

    @register(
        "q_stream_pii_redact",
        _SQL_PII,
        doc="STREAMING PII redaction: the privacy regex pass applied per-row "
        "to the doc firehose — a stateless append-mode map (no state store, "
        "no watermark; at 100 TB/day this is pure pipelined throughput). "
        "Oracle = the batch redaction inlined.",
    )
    def q_stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        injected = stream.select("doc_id", _injected_text().alias("itext"))
        counts = pii_counts("itext")
        red = injected.select(
            "doc_id",
            counts["n_email"].alias("n_email"),
            counts["n_ip"].alias("n_ip"),
            counts["n_phone"].alias("n_phone"),
            F.md5(redact_pii("itext")).alias("red_md5"),
        )
        return run_to_table(spark, red, "append").orderBy("doc_id")


_register_stream_pii_redact()


def _register_stream_chunk() -> None:
    from ..operators.curation import _SQL_CHUNK, chunk_documents

    @register(
        "q_stream_chunk_documents",
        _SQL_CHUNK,
        doc="STREAMING chunking: the context-window 1->N split applied to "
        "the doc firehose — a stateless append-mode flatMap (explode "
        "fan-out bounded per row, no state store, no watermark): the "
        "chunk-and-ship ingestion shape. Oracle = the batch chunking.",
    )
    def q_stream_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        chunks = chunk_documents(stream.select("doc_id", "text"))
        return run_to_table(spark, chunks, "append").orderBy("doc_id", "chunk_id")


_register_stream_chunk()


def _register_stream_scd2_enrich() -> None:
    @register(
        "q_stream_scd2_enrich",
        """
        WITH chg AS (
          SELECT event_id, user_id, value, ts FROM events
          WHERE event_type = 'signup'
        ),
        iv AS (
          SELECT user_id, value AS signup_value, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
          FROM chg
        ),
        clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        )
        SELECT c.event_id, c.user_id,
               CAST(iv.signup_value AS DOUBLE) AS signup_value
        FROM clicks c
        LEFT JOIN iv ON iv.user_id = c.user_id
                    AND iv.valid_from <= c.ts
                    AND (iv.valid_to IS NULL OR c.ts < iv.valid_to)
        ORDER BY c.event_id
        """,
        doc="STREAMING SCD2 enrichment: the click firehose LEFT-joined "
        "against the STATIC SCD2 interval dimension on a non-equi "
        "(key + interval containment) condition — stream-static joins "
        "are stateless per micro-batch (the dimension is re-read, no "
        "state store), so the at-scale cost is the dim lookup per batch, "
        "not unbounded join state. Oracle = the batch interval join.",
    )
    def q_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..plans.util import _normalize_events_ts
        from ..sources.maintenance import scd2_build

        ev = t(spark, sf_dir, "events")
        iv = scd2_build(
            ev.where(F.col("event_type") == "signup").select(
                "event_id", "user_id", F.col("value").alias("signup_value"), "ts"
            ),
            "user_id",
            "ts",
            ["signup_value"],
            tiebreak_cols=["event_id"],
        ).select(
            F.col("user_id").alias("iv_user"),
            "signup_value",
            "valid_from",
            "valid_to",
        )

        file_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream = _normalize_events_ts(
            spark.readStream.schema(file_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        clicks = stream.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        joined = clicks.join(
            iv,
            (F.col("user_id") == F.col("iv_user"))
            & (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
            "left",
        ).select(
            "event_id",
            "user_id",
            F.col("signup_value").cast("double").alias("signup_value"),
        )
        return run_to_table(spark, joined, "append").orderBy("event_id")


_register_stream_scd2_enrich()


def _register_stream_lm_score() -> None:
    from ..operators.lm import LM_DOC_MOD, _SQL_PERPLEXITY, score_with_lm, train_bigram_lm
    from ..plans.util import work_dir

    @register(
        "q_stream_lm_score",
        _SQL_PERPLEXITY,
        doc="STREAMING LM-perplexity scoring: a bigram model trained "
        "AHEAD on the static corpus is applied to the doc firehose via "
        "foreachBatch — each micro-batch is scored batch-style against "
        "the broadcast model and landed to parquet; zero cross-batch "
        "state (the model is the state, and it is read-only). This is "
        "the deployment shape of a quality filter at ingest. Oracle = "
        "the batch self-scored result (same model, same docs).",
    )
    def q_stream_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..plans.util import tp

        # reference model, trained once in batch (broadcast-sized tables)
        c1, c2 = train_bigram_lm(tp(spark, sf_dir, "documents"))
        c1 = c1.cache()
        c2 = c2.cache()
        c1.count(), c2.count()  # materialize before the stream starts

        docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = (
            spark.readStream.schema(docs_schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        out_dir = work_dir("lm_score_sink")

        def score(bdf: DataFrame, batch_id: int) -> None:
            score_with_lm(bdf.select("doc_id", "text"), c1, c2).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"batch={batch_id}"))

        run_foreach_batch(spark, stream, score, "lm_score")

        landed = spark.read.parquet(out_dir)
        return (
            landed.where(F.col("doc_id") % LM_DOC_MOD == 0)
            .select("doc_id", "n_trans", "nll_q20", "avg_nll")
            .orderBy("doc_id")
        )


_register_stream_lm_score()


def _register_stream_mv_merge() -> None:
    from ..sources.manifest import (
        _observed_version,
        read_manifest,
        read_snapshot,
        replace_partitions,
    )

    @register(
        "q_stream_mv_merge",
        """
        SELECT CAST(ts AS DATE) AS day, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
        """,
        doc="STREAMING materialized-view maintenance with EXACTLY-ONCE "
        "folds: the event firehose folds into a per-day aggregate held "
        "in a manifest (snapshot-isolated) table — each micro-batch "
        "merges partials over ONLY the affected day partitions and "
        "commits atomically via replace_partitions, which records the "
        "batch_id so a foreachBatch redelivery is a no-op instead of a "
        "double-count (ADVICE r06 item 2). Each batch costs O(batch + "
        "affected partitions); cross-batch state IS the MV. Oracle = "
        "the full recompute.",
    )
    def q_stream_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
        table = work_dir("stream_daily_mv")

        ev = t(spark, sf_dir, "events")
        # 4 TIME-ORDERED day-sliced arrival files + one file per trigger
        # = 4 REAL micro-batches: batch 1 exercises the bootstrap, 2-4
        # the incremental merge. Time-ordered arrival is the ingest
        # cadence the MV design assumes — each fold touches only ITS
        # days' partitions (a round-robin slice made every batch touch
        # all 31 days: a 4x full-MV rewrite, not an incremental fold).
        # Built once per (sf, spec) and reused (VERDICT r06 item 4).
        bounds = [(1, 8), (9, 15), (16, 23), (24, 31)]
        inbox = ordered_inbox(
            "stream_daily_mv",
            sf_dir,
            f"daily-mv-v2 {bounds}",
            [ev.where(F.dayofmonth("ts").between(d0, d1)) for d0, d1 in bounds],
        )
        stream = read_inbox(spark, ev.schema, inbox)

        def fold(bdf: DataFrame, batch_id: int) -> None:
            base = _observed_version(table)
            if base is not None:
                m = read_manifest(table, base)
                if batch_id in m.get("batches", []):
                    return  # redelivered batch: already folded
                have = {e["day"] for e in m["files"]}
            else:
                have = set()
            delta = (
                bdf.withColumn("day", F.to_date("ts"))
                .groupBy("day", "event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,6)")).alias(
                        "value_sum"
                    ),
                )
                .withColumn("day", F.col("day").cast("string"))
                .persist()
            )
            days = [
                r["day"]
                for r in delta.select("day").distinct().limit(1001).collect()
            ]
            if len(days) > 1000:
                raise ValueError("batch spans >1000 days; run per-range")
            overlap = set(days) & have
            merged = delta
            if overlap:
                existing = read_snapshot(spark, table, base, values=overlap)
                merged = (
                    existing.unionByName(delta)
                    .groupBy("day", "event_type")
                    .agg(
                        F.sum("n_events").alias("n_events"),
                        F.sum("value_sum")
                        .cast("decimal(18,6)")
                        .alias("value_sum"),
                    )
                )
            replace_partitions(merged, table, "day", batch_id)
            delta.unpersist()

        run_foreach_batch(spark, stream, fold, "mv_merge")

        mv = read_snapshot(spark, table)
        return mv.select(
            F.col("day").cast("date").alias("day"),
            "event_type",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        ).orderBy("day", "event_type")


_register_stream_mv_merge()


def _register_stream_manifest_ingest() -> None:
    from ..sources.manifest import append_snapshot, read_append_table

    @register(
        "q_stream_manifest_ingest",
        """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY 1 ORDER BY 1
        """,
        doc="TRANSACTIONAL streaming ingest: each micro-batch commits an "
        "append snapshot to the manifest table with its batch_id "
        "recorded — redelivered batches are no-ops (the exactly-once "
        "sink contract), every commit is an atomic pointer swap, and a "
        "failed attempt's files stay invisible orphans. Batch 2 is "
        "deliberately RE-DELIVERED in-line to prove idempotence under "
        "the driver's own correctness gate. Oracle = the full corpus.",
    )
    def q_stream_manifest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
        root = work_dir("manifest_ingest")
        table = os.path.join(root, "tbl")
        inbox = os.path.join(root, "inbox")
        ev = t(spark, sf_dir, "events")
        ev.repartition(4).write.mode("overwrite").parquet(inbox)
        stream = read_inbox(spark, ev.schema, inbox)

        def land(bdf: DataFrame, batch_id: int) -> None:
            append_snapshot(bdf, table, batch_id)
            if batch_id == 2:
                # simulate the failure-retry redelivery foreachBatch gives:
                # the second commit of the same batch id MUST be a no-op
                assert append_snapshot(bdf, table, batch_id) is None

        run_foreach_batch(spark, stream, land, "manifest_ingest")

        landed = read_append_table(spark, table)
        return (
            landed.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("value_sum"),
            )
            .orderBy("event_type")
        )


_register_stream_manifest_ingest()


def _register_stream_kmeans_assign() -> None:
    from ..operators.similarity import (
        KMEANS_DIM,
        _kmeans_loop,
        _kmeans_oracle_sql,
        QUANT,
    )

    @register(
        "q_stream_kmeans_assign",
        _kmeans_oracle_sql(),
        doc="STREAMING online cluster assignment: centroids trained AHEAD "
        "(the bounded Lloyd loop), then the embedding firehose is "
        "assigned per row against the centroid literal — a stateless "
        "append-mode map. Streams cannot use window functions, so the "
        "argmax is a struct-ordered array_max over the per-centroid "
        "similarities (max sim, ties to lowest cid). Oracle = the batch "
        "k-means membership.",
    )
    def q_stream_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..plans.util import tp

        emb = tp(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        _, cents = _kmeans_loop(spark, emb)  # k (cid, cu) rows, driver-side

        # centroid literal: array<struct<negcid:int, cu:array<double>>>
        cent_lit = F.array(
            *[
                F.struct(
                    F.lit(-cid).alias("negcid"),
                    F.array(*[F.lit(v) for v in cu]).alias("cu"),
                )
                for cid, cu in cents
            ]
        )

        file_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
        stream = (
            spark.readStream.schema(file_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )
        eq = F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * QUANT + 0.5).cast("double"),
        )
        norm = F.sqrt(
            F.aggregate(
                F.transform(eq, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
            )
        )
        vu = F.transform(eq, lambda x: x / norm)
        # per-centroid similarity; argmax via struct ordering (sim first,
        # then -cid: ties break to the LOWEST cluster id, matching the
        # batch window's ORDER BY sim DESC, cid ASC)
        sims = F.transform(
            cent_lit,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(vu, c["cu"], lambda a, b: a * b),
                    F.lit(0.0),
                    lambda a, v: a + v,
                ).alias("sim"),
                c["negcid"].alias("negcid"),
            ),
        )
        assigned = stream.select(
            "vec_id", (-F.array_max(sims)["negcid"]).cast("int").alias("cid")
        )
        out = run_to_table(spark, assigned, "append")
        return (
            out.groupBy("cid")
            .agg(
                F.count("*").alias("n_vectors"),
                F.sum("vec_id").cast("bigint").alias("id_sum"),
            )
            .orderBy("cid")
        )


_register_stream_kmeans_assign()


def _register_stream_funnel() -> None:
    from ..plans.product_analytics import FUNNEL

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("stage", IntegerType())]
    )
    state_schema = StructType(
        [
            StructField("t1", LongType()),
            StructField("t2", LongType()),
            StructField("t3", LongType()),
        ]
    )

    def fold(key: tuple, pdfs, state: GroupState):
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames) if frames else pd.DataFrame(
            {"tsu": [], "event_type": []}
        )
        rows = rows.sort_values(["tsu", "event_type"])
        for et, tsu in zip(rows["event_type"], rows["tsu"]):
            tsu = int(tsu)
            if t1 is None and et == FUNNEL[0]:
                t1 = tsu
            elif t2 is None and t1 is not None and et == FUNNEL[1] and tsu > t1:
                t2 = tsu
            elif t3 is None and t2 is not None and et == FUNNEL[2] and tsu > t2:
                t3 = tsu
        state.update((t1, t2, t3))
        stage = 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0
        yield pd.DataFrame({"user_id": [int(key[0])], "stage": [stage]})

    @register(
        "q_stream_funnel_stateful",
        f"""
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM events
          WHERE event_type = '{FUNNEL[0]}' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = '{FUNNEL[1]}' AND e.ts > s1.t1
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = '{FUNNEL[2]}' AND e.ts > s2.t2
          GROUP BY e.user_id
        )
        SELECT * FROM (
          SELECT 1 AS stage, '{FUNNEL[0]}' AS event_type,
                 (SELECT COUNT(*) FROM s1) AS users
          UNION ALL
          SELECT 2, '{FUNNEL[1]}', (SELECT COUNT(*) FROM s2)
          UNION ALL
          SELECT 3, '{FUNNEL[2]}', (SELECT COUNT(*) FROM s3)
        ) ORDER BY stage
        """,
        doc="STREAMING STATEFUL funnel: per-user (t1, t2, t3) stage state "
        "evolves ACROSS micro-batches via applyInPandasWithState — the "
        "event history arrives as 4 time-sliced files (mtime-ordered, "
        "one per trigger), so later batches genuinely extend state built "
        "by earlier ones; stage reach is monotone, so the converged "
        "per-user max equals the batch funnel. Oracle = the batch "
        "conditional-min chain.",
    )
    def q_stream_funnel_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = t(spark, sf_dir, "events").select(
            "user_id", "event_type", F.unix_micros(F.col("ts")).alias("tsu")
        ).where(F.col("event_type").isin(list(FUNNEL)))
        # 4 DISJOINT, time-ordered day slices -> 4 micro-batches whose
        # arrival order matches event time (mtimes pinned ascending).
        # Built ONCE per (sf, spec) and reused, so the timed body is the
        # stateful fold, not fixture I/O (VERDICT r06 item 4).
        bounds = [(1, 8), (9, 15), (16, 23), (24, 31)]
        day = F.dayofmonth(F.timestamp_micros("tsu"))
        inbox = ordered_inbox(
            "funnel_state",
            sf_dir,
            f"funnel-v1 {FUNNEL} {bounds}",
            [ev.where(day.between(d0, d1)) for d0, d1 in bounds],
        )
        stream = read_inbox(spark, "user_id long, event_type string, tsu long", inbox)
        updates = stream.groupBy("user_id").applyInPandasWithState(
            fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        out = run_to_table(
            spark,
            updates,
            "update",
            state_partitions=volume_state_parts(spark, inbox),
        )
        # stage reach is monotone per user; the max update is the converged
        # value, and counts of stage >= k reproduce the funnel rows
        reach = out.groupBy("user_id").agg(F.max("stage").alias("stage"))
        counts = reach.agg(
            F.sum((F.col("stage") >= 1).cast("long")).alias("u1"),
            F.sum((F.col("stage") >= 2).cast("long")).alias("u2"),
            F.sum((F.col("stage") >= 3).cast("long")).alias("u3"),
        )
        return (
            counts.select(
                F.expr(
                    f"stack(3, 1, '{FUNNEL[0]}', u1, 2, '{FUNNEL[1]}', u2,"
                    f" 3, '{FUNNEL[2]}', u3) AS (stage, event_type, users)"
                )
            )
            .select(
                F.col("stage").cast("int").alias("stage"), "event_type", "users"
            )
            .orderBy("stage")
        )


_register_stream_funnel()


def _register_stream_mq_to_manifest() -> None:
    @register(
        "q_stream_mq_to_manifest",
        _mq_wordcount_oracle(),
        doc="reference source -> transactional sink, end to end: the "
        "custom mq stream (deterministic bounded drain) lands in the "
        "manifest table via per-batch idempotent append commits "
        "(redelivery of batch 0 asserted to be a no-op in-line), then "
        "the WordCount runs over the LANDED table — same oracle as the "
        "memory-sink WordCount, proving the transactional landing is "
        "loss-free and duplicate-free.",
    )
    def q_stream_mq_to_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..session import register_mq_source
        from ..sources.manifest import append_snapshot, read_append_table

        register_mq_source(spark)
        table = os.path.join(work_dir("mq_to_manifest"), "tbl")

        stream = (
            spark.readStream.format("mq")
            .option("numPartitions", 4)
            .option("intervalMs", 10)
            .option("startingTimestamp", 0)
            .option("advanceMsPerBatch", 5000)
            .option("maxRecordsPerBatch", 0)
            .load()
        )
        lines = stream.selectExpr("CAST(value AS STRING) AS line")

        def land(bdf: DataFrame, batch_id: int) -> None:
            append_snapshot(bdf, table, batch_id)
            if batch_id == 0:
                assert append_snapshot(bdf, table, batch_id) is None

        run_foreach_batch(spark, lines, land, "mq_to_manifest")

        landed = read_append_table(spark, table)
        return (
            landed.select(F.explode(F.split("line", " ")).alias("word"))
            .groupBy("word")
            .count()
            .orderBy("word")
        )


_register_stream_mq_to_manifest()


def _register_stream_gram_mv() -> None:
    @register(
        "q_stream_gram_counts_mv",
        """
        WITH g AS (
          SELECT unnest(list_transform(
                   generate_series(1, len(string_split(trim(text), ' ')) - 1),
                   i -> string_split(trim(text), ' ')[i] || ' ' ||
                        string_split(trim(text), ' ')[i+1])) AS gram
          FROM documents
        ),
        c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram)
        SELECT gram, CAST(cnt AS BIGINT) AS cnt FROM (
          SELECT gram, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS rk
          FROM c
        ) WHERE rk <= 20 ORDER BY cnt DESC, gram
        """,
        doc="STREAMING high-cardinality aggregate maintenance: per-batch "
        "2-gram counts fold into a BUCKETED parquet count-MV (the "
        "pattern for state too large for a state store — vocabulary-"
        "scale keys live in a table, merged as partials per batch at "
        "O(batch + touched buckets) cost); the doc firehose arrives in "
        "4 slices, and the converged MV's exact top-20 equals the "
        "batch recompute.",
    )
    def q_stream_gram_counts_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.manifest import (
            _observed_version,
            read_manifest,
            read_snapshot,
            replace_partitions,
        )

        table = work_dir("gram_mv")

        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        inbox = stream_inbox(docs, "gram_mv", sf_dir)
        stream = read_inbox(spark, "doc_id long, text string", inbox)

        N_BUCKETS = 16
        COUNTS_SCHEMA = "gram string, cnt bigint"  # the MV's bucket files
        gram = F.explode(
            F.expr(
                "transform(sequence(0, size(split(trim(text), ' ')) - 2),"
                " i -> concat(split(trim(text), ' ')[i], ' ',"
                "             split(trim(text), ' ')[i+1]))"
            )
        )

        bkt_of = F.pmod(F.xxhash64("gram"), F.lit(N_BUCKETS)).cast("string")

        def fold(bdf: DataFrame, batch_id: int) -> None:
            import os as _os

            # exactly-once: replace_partitions records batch ids in the
            # manifest, so a foreachBatch redelivery is a no-op and the
            # bucket swap is an atomic pointer commit, not a directory
            # rewrite (ADVICE r06 item 2)
            base = _observed_version(table)
            if base is not None:
                m = read_manifest(table, base)
                if batch_id in m.get("batches", []):
                    return
                have = {e["bkt"] for e in m["files"]}
            else:
                m = None
                have = set()
            delta = (
                bdf.where(F.size(F.split(F.trim("text"), " ")) >= 2)
                .select(gram.alias("gram"))
                .groupBy("gram")
                .agg(F.count("*").alias("cnt"))
                .withColumn("bkt", bkt_of)
                .persist()
            )
            bkts = [
                r["bkt"] for r in delta.select("bkt").distinct().collect()
            ]  # bounded: <= N_BUCKETS ids
            overlap = set(bkts) & have
            merged = delta
            if overlap:
                # The generic read_snapshot builds one read + union LEG
                # per bucket value (schema inference per leg, lit-attached
                # partition column) — measured 1.2-1.4 s of pure DRIVER
                # plan construction per trigger at 16 buckets (guide
                # §7.3: planning cost IS the stage for metadata-scale
                # batches). Here the partition value is a FUNCTION of the
                # row (bkt = pmod(xxhash64(gram), B)), so the fold reads
                # every touched bucket's files in ONE pruned scan with
                # the known schema and recomputes bkt with the identical
                # expression delta uses — bit-equal to the stored
                # partition value by construction.
                paths = [
                    _os.path.join(table, e["path"])
                    for e in m["files"]
                    if e["bkt"] in overlap
                ]
                existing = (
                    spark.read.schema(COUNTS_SCHEMA)
                    .parquet(*paths)
                    .withColumn("bkt", bkt_of)
                )
                merged = (
                    existing.unionByName(delta)
                    .groupBy("bkt", "gram")
                    .agg(F.sum("cnt").alias("cnt"))
                )
            replace_partitions(merged, table, "bkt", batch_id)
            delta.unpersist()

        # The MV's state lives in a durable manifest table (no state
        # store), so the state-partition lever does not apply — but every
        # per-trigger BATCH shuffle in the fold (the delta groupBy(gram),
        # the merge groupBy(bkt, gram)) and the bucket write run at the
        # session's shuffle-partition conf, which under the driver's
        # VANILLA session is 200 for a KB-scale micro-batch (measured
        # 18.2 s/drain at sf0.001 @200 in r17's batch-7 probe; AQE
        # coalescing alone did not close it). Derive the fold width from
        # the feed's byte volume instead (guide §2.2) — full width at
        # 100 TB (volume_state_parts saturates its cap), no idle reduce
        # tasks at test scale. Results are invariant: the grouped counts
        # are sums, partition-count-independent by construction.
        run_foreach_batch(
            spark,
            stream,
            fold,
            "gram_mv",
            state_partitions=volume_state_parts(spark, inbox),
        )

        # top-20 via orderBy+limit (TakeOrderedAndProject): the converged
        # count table is vocabulary-scale, and a partition-less ranking
        # window would drag all of it through one task. The read-out
        # needs only (gram, cnt), so it reads the manifest's file list in
        # ONE scan with the known schema instead of read_snapshot's
        # per-bucket union legs (same §7.3 planning cost as the fold).
        import os as _os

        mf = read_manifest(table)
        counts = spark.read.schema(COUNTS_SCHEMA).parquet(
            *[_os.path.join(table, e["path"]) for e in mf["files"]]
        )
        return (
            counts.select("gram", F.col("cnt").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "gram")
            .limit(20)
        )


_register_stream_gram_mv()


def _register_stream_split_route() -> None:
    from ..sources.manifest import append_snapshot, read_append_table

    # The routing gate: cheap per-row shape rules (token count floor,
    # mean-word-length ceiling) — pure projection, evaluable identically
    # in the oracle. Docs failing the gate are NOT dropped: a production
    # pipeline quarantines them for audit/reprocessing.
    _MIN_TOKENS = 12
    _MAX_MEAN_WORD_LEN_X16 = 6 * 16  # mean word length <= 6.0, in 1/16 units

    @register(
        "q_stream_split_route",
        f"""
        WITH scored AS (
          SELECT doc_id,
                 len(string_split(trim(text), ' ')) AS n_tokens,
                 len(replace(trim(text), ' ', '')) AS n_letters
          FROM documents
        ),
        routed AS (
          SELECT doc_id, n_tokens,
                 CASE WHEN n_tokens >= {_MIN_TOKENS}
                       AND n_letters * 16 <= n_tokens * {_MAX_MEAN_WORD_LEN_X16}
                      THEN 'accept' ELSE 'quarantine' END AS dest
          FROM scored
        )
        SELECT dest, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS token_sum
        FROM routed GROUP BY dest ORDER BY dest
        """,
        headline=True,
        doc="STREAMING dual-sink routing with exactly-once on BOTH sinks: "
        "each micro-batch splits on a projection-level quality gate and "
        "appends the accepted slice to one manifest table, the rejected "
        "slice to a quarantine table — both commits idempotent on "
        "batch_id (a redelivered batch is a no-op on each sink "
        "independently; exercised inline for batch 0). The union "
        "read-back must equal the batch recompute: nothing lost, "
        "nothing duplicated, every doc in exactly one table.",
    )
    def q_stream_split_route(spark: SparkSession, sf_dir: str) -> DataFrame:
        root = work_dir("split_route")
        t_accept = os.path.join(root, "accept")
        t_quar = os.path.join(root, "quarantine")

        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
        inbox = stream_inbox(docs, "split_route", sf_dir)
        stream = read_inbox(spark, "doc_id long, text string", inbox)
        toks = F.split(F.trim("text"), " ")
        letters = F.length(F.regexp_replace(F.trim("text"), " ", ""))
        gate = (F.size(toks) >= _MIN_TOKENS) & (
            letters * 16 <= F.size(toks) * _MAX_MEAN_WORD_LEN_X16
        )

        from ..sources.manifest import append_file_dir

        def route(bdf: DataFrame, batch_id: int) -> None:
            import shutil

            # ONE gate evaluation, ONE write: the batch is written once
            # partitioned by destination, then each partition directory
            # is registered with its sink's manifest as a metadata-only
            # commit (append_file_dir) — the r16 shape persisted the
            # scored batch and ran a separate Spark write per sink, so
            # every trigger paid N sink write jobs for one routing pass
            # (guide §2.4: N sinks, one data move).
            staging = os.path.join(root, "staging", f"b{batch_id}")
            shutil.rmtree(staging, ignore_errors=True)
            (
                bdf.select(
                    "doc_id",
                    F.size(toks).alias("n_tokens"),
                    F.when(gate, F.lit("accept"))
                    .otherwise(F.lit("quarantine"))
                    .alias("dest"),
                )
                .write.mode("overwrite")
                .partitionBy("dest")
                .parquet(staging)
            )
            append_file_dir(
                t_accept, os.path.join(staging, "dest=accept"), batch_id
            )
            append_file_dir(
                t_quar, os.path.join(staging, "dest=quarantine"), batch_id
            )
            # redelivery is a no-op on each sink — a correctness exercise,
            # not part of the routing fold's cost; bench runs exclude it
            # via the same gate the incremental-dedup fold uses
            # (ADVICE r09 item 1), correctness runs keep it ON
            if batch_id == 0 and redelivery_exercise():
                assert append_file_dir(t_accept, None, batch_id) is None
            shutil.rmtree(staging, ignore_errors=True)

        run_foreach_batch(spark, stream, route, "split_route")

        acc = read_append_table(spark, t_accept).withColumn(
            "dest", F.lit("accept")
        )
        quar = read_append_table(spark, t_quar).withColumn(
            "dest", F.lit("quarantine")
        )
        return (
            acc.unionByName(quar)
            .groupBy("dest")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("token_sum"),
            )
            .orderBy("dest")
        )


_register_stream_split_route()


def _register_stream_debounce() -> None:
    from ..plans.analytics import DEBOUNCE_GAP_S

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("kept", LongType()),
            StructField("dropped", LongType()),
        ]
    )
    # Bucketed (key-coarsened) state: one state row per BUCKET of
    # (user, type) keys, holding parallel arrays of the per-key triples.
    # The r16 shape kept one state row per key, so every micro-batch paid
    # the applyInPandasWithState per-group machinery (Arrow slice, state
    # get/put, RocksDB ops) ~7,500x — measured ~4.3 ms/group against a
    # ~35 s allUpdatesTimeMs + ~30 s commitTimeMs per batch summed across
    # the 32 state partitions, i.e. the stage WAS the per-group overhead
    # (guide §4.5: amortize per-call setup; §4.2: batch the boundary).
    # Coarsening the state key to pmod(xxhash64(user, type), B) divides
    # the group-call count by the mean bucket occupancy while total state
    # stays O(#keys) and the per-key fold below is unchanged arithmetic —
    # kept/dropped/last evolve identically, so the converged result is
    # bit-identical to the per-key shape (oracle unchanged).
    state_schema = StructType(
        [
            StructField("user_ids", ArrayType(LongType())),
            StructField("event_types", ArrayType(StringType())),
            StructField("last_tsu", ArrayType(LongType())),
            StructField("kept", ArrayType(LongType())),
            StructField("dropped", ArrayType(LongType())),
        ]
    )
    gap_us = DEBOUNCE_GAP_S * 1_000_000

    def fold(key: tuple, pdfs, state: GroupState):
        # Vectorized bucket body: ONE numpy pass over the bucket's batch
        # slice. Events are grouped by (user, type) via factorized codes
        # + lexsort, the burst test is one shifted-gap comparison with
        # per-segment carry-in from the bucket's state map, and the
        # per-key counts come from add.reduceat over segment starts. An
        # event is KEPT iff it starts a burst (no prior event, or gap >
        # gap_us from the PREVIOUS event in (tsu, event_id) order —
        # `last` advances every event), exactly the per-key fold's rule.
        if state.exists:
            s_uid, s_et, s_last, s_kept, s_drop = state.get
            smap = {
                (u, e): (l, k, d)
                for u, e, l, k, d in zip(s_uid, s_et, s_last, s_kept, s_drop)
            }
        else:
            smap = {}
        uid_p, et_p, tsu_p, eid_p = [], [], [], []
        for pdf in pdfs:  # single pass: pdfs is a one-shot iterator
            uid_p.append(pdf["user_id"].to_numpy(np.int64))
            et_p.append(pdf["event_type"].to_numpy())
            tsu_p.append(pdf["tsu"].to_numpy(np.int64))
            eid_p.append(pdf["event_id"].to_numpy(np.int64))
        if uid_p:
            uid = np.concatenate(uid_p) if len(uid_p) > 1 else uid_p[0]
            tsu = np.concatenate(tsu_p) if len(tsu_p) > 1 else tsu_p[0]
            eid = np.concatenate(eid_p) if len(eid_p) > 1 else eid_p[0]
            et = (
                np.concatenate(et_p) if len(et_p) > 1 else et_p[0]
            )
            codes, uniques = pd.factorize(et)
            order = np.lexsort((eid, tsu, codes, uid))
            u_s = uid[order]
            c_s = codes[order]
            t_s = tsu[order]
            starts = np.flatnonzero(
                np.r_[True, (np.diff(u_s) != 0) | (np.diff(c_s) != 0)]
            )
            ends = np.r_[starts[1:], u_s.size]
            prev = np.empty_like(t_s)
            prev[1:] = t_s[:-1]
            keys = [
                (int(u_s[s]), str(uniques[c_s[s]])) for s in starts
            ]
            for i, s in enumerate(starts):
                st = smap.get(keys[i])
                prev[s] = t_s[s] - gap_us - 1 if st is None else st[0]
            new_burst = (t_s - prev > gap_us).astype(np.int64)
            kept_add = np.add.reduceat(new_burst, starts)
            seg_len = ends - starts
            out_uid = np.empty(len(starts), np.int64)
            out_et: list = [None] * len(starts)
            out_kept = np.empty(len(starts), np.int64)
            out_drop = np.empty(len(starts), np.int64)
            for i, kk in enumerate(keys):
                st = smap.get(kk)
                k0, d0 = (st[1], st[2]) if st is not None else (0, 0)
                nk = k0 + int(kept_add[i])
                nd = d0 + int(seg_len[i] - kept_add[i])
                smap[kk] = (int(t_s[ends[i] - 1]), nk, nd)
                out_uid[i] = kk[0]
                out_et[i] = kk[1]
                out_kept[i] = nk
                out_drop[i] = nd
            emit = pd.DataFrame(
                {
                    "user_id": out_uid,
                    "event_type": out_et,
                    "kept": out_kept,
                    "dropped": out_drop,
                }
            )
        else:
            emit = pd.DataFrame(
                {
                    "user_id": pd.Series([], dtype="int64"),
                    "event_type": pd.Series([], dtype="object"),
                    "kept": pd.Series([], dtype="int64"),
                    "dropped": pd.Series([], dtype="int64"),
                }
            )
        items = sorted(smap.items())
        state.update(
            (
                [u for (u, _), _v in items],
                [e for (_, e), _v in items],
                [v[0] for _k, v in items],
                [v[1] for _k, v in items],
                [v[2] for _k, v in items],
            )
        )
        yield emit

    @register(
        "q_stream_debounce",
        f"""
        WITH g AS (
          SELECT event_type,
                 CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > CAST({DEBOUNCE_GAP_S} AS BIGINT) * 1000000
                      THEN 1 ELSE 0 END AS new_burst
          FROM events
          WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        )
        SELECT event_type,
               CAST(SUM(new_burst) AS BIGINT) AS n_kept,
               CAST(SUM(1 - new_burst) AS BIGINT) AS n_dropped
        FROM g GROUP BY event_type ORDER BY event_type
        """,
        doc="STREAMING debounce: per-(user, type) burst state (last event "
        "time + running kept/dropped counts) evolves ACROSS micro-batches "
        "via applyInPandasWithState — history arrives as 4 time-ordered "
        "day slices, so bursts straddling a batch boundary are only "
        "collapsed correctly if the state carries over (state is O(#keys) "
        "total, key-coarsened into hash buckets of per-key arrays so the "
        "per-group boundary cost amortizes; hash-spread across "
        "executors). The converged per-type counts "
        "must equal the batch debounce exactly. Every path — the "
        "stateful fold, the batch twin, and both oracles — compares "
        "MICROSECOND gaps (the fixture's timestamps carry sub-second "
        "micros; whole-second epochs would truncate boundary gaps).",
        headline=True,  # the bench's stateful-streaming representative
    )
    def q_stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = t(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("tsu"),
        )
        bounds = [(1, 8), (9, 15), (16, 23), (24, 31)]
        day = F.dayofmonth(F.timestamp_micros("tsu"))
        inbox = ordered_inbox(
            "stream_debounce",
            sf_dir,
            f"debounce-v1 {bounds}",
            [ev.where(day.between(d0, d1)) for d0, d1 in bounds],
        )
        stream = read_inbox(
            spark, "event_id long, user_id long, event_type string, tsu long", inbox
        )
        # Scale-adaptive bucket count: enough buckets to spread hot state
        # partitions (8x parallelism keeps per-call batches vectorizable
        # while cutting group-call count ~30x vs per-key state); the
        # result is invariant to B — it only shards the state map.
        n_buckets = spark.sparkContext.defaultParallelism * 8
        bucketed = stream.withColumn(
            "bucket",
            F.pmod(F.xxhash64("user_id", "event_type"), F.lit(n_buckets)),
        )
        updates = bucketed.groupBy("bucket").applyInPandasWithState(
            fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        # State-partition count tracks the (bounded) state volume, not the
        # core count: with B = 8x parallelism buckets, parallelism/4
        # partitions keep ~32 buckets per RocksDB instance, amortizing the
        # fixed per-instance per-batch update/commit cost 4x better than
        # one instance per core (measured at sf0.1/local[32]: 19.0 s drain
        # at 32 state partitions vs 6.8 s at 8, identical rows; the fold
        # work per batch is microseconds, so instance overhead dominated).
        # Scales with SPARK_GRAFT_CPUS / cluster parallelism, not a local
        # constant (guide §2.2).
        out = run_to_table(
            spark,
            updates,
            "update",
            state_partitions=small_state_parts(spark),
        )
        # kept/dropped are monotone per key; the max update is converged
        conv = out.groupBy("user_id", "event_type").agg(
            F.max("kept").alias("kept"), F.max("dropped").alias("dropped")
        )
        return (
            conv.groupBy("event_type")
            .agg(
                F.sum("kept").cast("bigint").alias("n_kept"),
                F.sum("dropped").cast("bigint").alias("n_dropped"),
            )
            .orderBy("event_type")
        )


_register_stream_debounce()


# --------------------------------------------------------------------------
# STREAMING incremental dedup — the continuous-ingest flagship: documents
# arrive as doc_id-ordered micro-batches; each batch is near-dup-checked
# against a PERSISTED index (MinHash band table + shingle store) that
# GROWS as batches commit — the daily-ingest loop of
# q_dedup_incremental_minhash run as a stream. Per batch the work is
# O(batch + collisions): batch bands probe index ∪ batch bands, exact
# verification reads corpus shingles from the store, survivors append to
# the output, and the batch's OWN sets/bands append to the index
# (dups included — Jaccard is not transitive, so future arrivals must
# still see every earlier doc, not just survivors). Because batches
# arrive in doc_id order, "dup iff an earlier-id partner exists" folds
# across batches exactly, and the converged result must equal the
# one-shot batch dedup of the whole corpus — which is the oracle.
# --------------------------------------------------------------------------


DOCS_INBOX_SCHEMA = "doc_id long, source string, text string"


def docs_quartile_inbox(spark: SparkSession, sf_dir: str) -> str:
    """The documents fixture as four doc_id-ordered, mtime-ordered parquet
    slices — the micro-batch inbox shared by the doc_id-ordered streaming
    folds (incremental dedup, source quota). Content-fingerprint cached
    via cached_fixture_dir, so every consumer in a session shares one
    build."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def quartiles():
        mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        cuts = [0, mx // 4, mx // 2, (3 * mx) // 4, mx + 1]
        for lo, hi in zip(cuts, cuts[1:]):
            yield docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    return ordered_inbox(
        "stream_dedup_inc", sf_dir, "dedup-inc-v1 quartiles", quartiles()
    )


def _dedup_index_dirs(state: str) -> tuple[str, str, str]:
    import os as _os

    return (
        _os.path.join(state, "bands"),
        _os.path.join(state, "sets"),
        _os.path.join(state, "surv"),
    )


def dedup_index_probe(
    spark: SparkSession,
    state: str,
    bsets: DataFrame,
    bbands: DataFrame,
    batch_id: int,
) -> DataFrame:
    """READ path of the persisted incremental-dedup index: the doc_ids in
    a batch (shingle sets ``bsets``, band table ``bbands``) that have a
    VERIFIED earlier near-dup partner — in the index of batches
    < ``batch_id`` or earlier within the batch itself. O(batch +
    collisions); the corpus text is never re-read."""
    from ..operators.dedup import JACCARD_THRESHOLD, _verify_pairs

    bands_dir, sets_dir, _ = _dedup_index_dirs(state)
    prior_bands = committed_batch_dirs(bands_dir, below=batch_id)
    if prior_bands:
        all_bands = spark.read.parquet(*prior_bands).unionByName(bbands)
        all_sets = spark.read.parquet(
            *committed_batch_dirs(sets_dir, below=batch_id)
        ).unionByName(bsets)
    else:
        all_bands, all_sets = bbands, bsets
    l, r = bbands.alias("l"), all_bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("r.doc_id") < F.col("l.doc_id")),
        )
        .select(F.col("r.doc_id").alias("da"), F.col("l.doc_id").alias("db"))
        .distinct()
    )
    return _verify_pairs(cand, all_sets, JACCARD_THRESHOLD).select("db").distinct()


def dedup_index_fold(
    spark: SparkSession, state: str, bdf: DataFrame, batch_id: int
) -> None:
    """One incremental-dedup fold: near-dup-check ``bdf`` against the
    persisted index, write its survivors, and append its own sets/bands
    to the index (dups included — Jaccard is not transitive, so future
    arrivals must still see every earlier doc, not just survivors).

    REDELIVERY-IDEMPOTENT (VERDICT r08 item 2): every write of this
    batch goes to a batch-keyed subdir in OVERWRITE mode, so a
    foreachBatch re-invocation with the same batch_id replaces its own
    prior output instead of double-appending survivors and
    double-entering the index — the same exactly-once contract
    replace_partitions pins for the MV folds (sources/manifest.py). The
    index probe reads only subdirs of batches EARLIER than this one, so
    a redelivered batch sees the identical index state its first
    delivery saw."""
    import os as _os

    from ..operators.dedup import _shingle_sets, banded_signatures

    bands_dir, sets_dir, surv_dir = _dedup_index_dirs(state)
    bsets = _shingle_sets(bdf).persist()
    bbands = banded_signatures(bsets).persist()
    try:
        dups = dedup_index_probe(spark, state, bsets, bbands, batch_id)
        surv = bdf.join(dups, bdf["doc_id"] == dups["db"], "left_anti").select(
            "doc_id", "source"
        )
        tag = f"b{batch_id:05d}"
        surv.write.mode("overwrite").parquet(_os.path.join(surv_dir, tag))
        bsets.write.mode("overwrite").parquet(_os.path.join(sets_dir, tag))
        bbands.write.mode("overwrite").parquet(_os.path.join(bands_dir, tag))
    finally:
        bsets.unpersist()
        bbands.unpersist()


def compact_dedup_index(
    spark: SparkSession, state: str, coalesce_to: int = 1
) -> dict[str, tuple[int, int]]:
    """Small-file maintenance for the growing dedup index (VERDICT r08
    "what's missing" 3): every trigger appends one ``bNNNNN`` subdir per
    root (bands/sets/surv), so at daily-ingest cadence the index becomes
    the small-files problem the manifest world already solves with
    compact_append_table. Each root is compacted by compact_batch_root
    (operators/index_lifecycle.py), the primitive every grown index
    shares: committed subdirs rewritten into ONE subdir carrying the MAX
    compacted batch id, swapped in with replace_dir. The probe path is
    UNCHANGED: committed_batch_dirs(root, below=b) sees the compacted
    dir exactly when it saw any constituent. Row content is unchanged,
    so every future probe is bit-identical — pinned by
    q_dedup_index_compact below.

    Returns {root_name: (parquet_files_before, parquet_files_after)}."""
    import os as _os

    return {
        root_name: compact_batch_root(
            spark, _os.path.join(state, root_name), coalesce_to=coalesce_to
        )
        for root_name in ("bands", "sets", "surv")
    }


def _dedup_incremental_oracle() -> str:
    """The full-recompute oracle shared by the streaming incremental dedup
    and the index-compaction query: exact Jaccard over the whole corpus,
    survivors = docs with no earlier-id partner above the threshold."""
    from ..operators.dedup import _SQL_SHINGLES, JACCARD_THRESHOLD

    return f"""
    {_SQL_SHINGLES},
    pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    dup AS (SELECT DISTINCT db AS doc_id FROM pairs
            JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
            WHERE CAST(common AS DOUBLE) / (x.n + y.n - common)
                    >= {JACCARD_THRESHOLD}),
    d AS (SELECT doc_id, source FROM documents)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_arrived,
           CAST(SUM(CASE WHEN dup.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving
    FROM d LEFT JOIN dup ON dup.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """


def _register_stream_dedup_incremental() -> None:
    @register(
        "q_stream_dedup_incremental",
        _dedup_incremental_oracle(),
        doc="STREAMING incremental near-dup: doc_id-ordered micro-batches "
        "probe a persisted MinHash index that grows batch-over-batch "
        "(O(batch) work per trigger, corpus text never re-read); "
        "survivors per source after the drain must equal the one-shot "
        "batch dedup of the whole corpus — the oracle is that full "
        "recompute.",
    )
    def q_stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
        inbox = docs_quartile_inbox(spark, sf_dir)
        state = work_dir("stream_dedup_inc_state")

        def fold(bdf: DataFrame, batch_id: int) -> None:
            dedup_index_fold(spark, state, bdf, batch_id)

        delivered = run_foreach_batch(
            spark, read_inbox(spark, DOCS_INBOX_SCHEMA, inbox), fold, "dedup_inc"
        )
        # Redelivery exercise: re-invoke the fold with the LAST batch's
        # exact content and batch_id, simulating a foreachBatch retry
        # after a sink-side failure. With batch-keyed overwrite the
        # result below (which IS the driver-checked oracle comparison)
        # must be unchanged — double-appended survivors would break it.
        # Gated by redelivery_exercise() (default ON) so correctness runs
        # always exercise it while bench.py disables it — the timed body
        # then measures only the streaming fold, not a test assertion
        # (ADVICE r09 item 1); tests/test_streaming.py pins the same
        # invariant suite-side.
        if delivered and redelivery_exercise():
            last = max(delivered)
            redelivered = spark.read.schema(DOCS_INBOX_SCHEMA).parquet(
                os.path.join(inbox, f"{last:02d}.parquet")
            )
            fold(redelivered, last)
        surv_parts = committed_batch_dirs(os.path.join(state, "surv"))
        surv = spark.read.parquet(*surv_parts)
        arrived = docs.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_arrived")
        )
        kept = surv.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_surviving")
        )
        return (
            arrived.join(kept, "source", "left")
            .select(
                "source",
                "n_arrived",
                F.coalesce(F.col("n_surviving"), F.lit(0))
                .cast("bigint")
                .alias("n_surviving"),
            )
            .orderBy("source")
        )


_register_stream_dedup_incremental()


# --------------------------------------------------------------------------
# Dedup-index compaction — the maintenance story for the index the
# incremental folds grow forever (VERDICT r08 "what's missing" 3): build
# the batch-keyed index with four doc_id-ordered folds, snapshot a
# read-only probe of the last batch plus the survivor set, compact, and
# PROVE the probe and the survivors are bit-identical afterwards while
# the parquet file count shrank. The returned read-out is the converged
# per-source survivor count — the same full-recompute oracle as the
# streaming twin, so compaction is value-checked end-to-end, not just
# asserted.
# --------------------------------------------------------------------------


def _register_dedup_index_compact() -> None:
    @register(
        "q_dedup_index_compact",
        _dedup_incremental_oracle(),
        doc="atomic small-file compaction of the persisted incremental-"
        "dedup index: 4 batch folds grow bands/sets/surv as batch-keyed "
        "subdirs, compaction rewrites each root into ONE committed subdir "
        "(staged-rename swap, the incremental-BM25 pattern) keeping the "
        "max batch id so probe visibility is unchanged; the query "
        "re-probes the last batch before and after and raises unless the "
        "probe and the survivor set are bit-identical and the file count "
        "shrank; the per-source survivor read-out equals the one-shot "
        "full-corpus dedup (shared oracle with the streaming twin).",
    )
    def q_dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os as _os

        from ..operators.dedup import _shingle_sets, banded_signatures

        docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
        mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        cuts = [0, mx // 4, mx // 2, (3 * mx) // 4, mx + 1]
        state = work_dir("dedup_index_compact_state")
        for i in range(4):
            dedup_index_fold(
                spark,
                state,
                docs.where(
                    (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
                ),
                i,
            )
        # Read-only re-probe of the LAST batch against the full persisted
        # index (batch_id=4 sees every committed subdir): snapshot it and
        # the survivor union to scratch parquet BEFORE the swap — a lazy
        # DataFrame would re-read paths compaction deletes. Distributed
        # writes, no driver collect; at scale this full equality audit
        # would run sampled/per-partition (the q_manifest_compact note),
        # but the assertion itself is the contract.
        last = docs.where((F.col("doc_id") >= cuts[3]) & (F.col("doc_id") < cuts[4]))
        lsets = _shingle_sets(last).persist()
        lbands = banded_signatures(lsets).persist()
        pre_probe_dir = work_dir("dedup_index_compact_preprobe")
        pre_surv_dir = work_dir("dedup_index_compact_presurv")
        surv_root = _os.path.join(state, "surv")
        try:
            dedup_index_probe(spark, state, lsets, lbands, 4).write.mode(
                "overwrite"
            ).parquet(pre_probe_dir)
            spark.read.parquet(*committed_batch_dirs(surv_root)).write.mode(
                "overwrite"
            ).parquet(pre_surv_dir)

            stats = compact_dedup_index(spark, state)
            for root_name in ("bands", "sets", "surv"):
                before, after = stats[root_name]
                if after >= before:
                    raise RuntimeError(
                        f"compaction must shrink {root_name} "
                        f"({before} -> {after} files)"
                    )

            post_probe = dedup_index_probe(spark, state, lsets, lbands, 4)
            pre_probe = spark.read.parquet(pre_probe_dir)
            if (
                pre_probe.exceptAll(post_probe).limit(1).count() > 0
                or post_probe.exceptAll(pre_probe).limit(1).count() > 0
            ):
                raise RuntimeError("probe must be identical pre/post compaction")
            post_surv = spark.read.parquet(*committed_batch_dirs(surv_root))
            pre_surv = spark.read.parquet(pre_surv_dir)
            if (
                pre_surv.exceptAll(post_surv).limit(1).count() > 0
                or post_surv.exceptAll(pre_surv).limit(1).count() > 0
            ):
                raise RuntimeError(
                    "survivors must read identically pre/post compaction"
                )
        finally:
            lsets.unpersist()
            lbands.unpersist()
        arrived = docs.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_arrived")
        )
        kept = post_surv.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_surviving")
        )
        return (
            arrived.join(kept, "source", "left")
            .select(
                "source",
                "n_arrived",
                F.coalesce(F.col("n_surviving"), F.lit(0))
                .cast("bigint")
                .alias("n_surviving"),
            )
            .orderBy("source")
        )


_register_dedup_index_compact()


# --------------------------------------------------------------------------
# STREAMING source-quota admission — rate-capping a firehose per source:
# each source admits its first STREAM_SOURCE_QUOTA documents in doc_id
# order and drops the rest, with the admitted-so-far count held in per-
# source state across micro-batches (applyInPandasWithState, O(|sources|)
# state: ONE integer per key). Because batches arrive doc_id-ordered
# (shared quartile inbox) and each batch is sorted within the group, the
# converged admitted set is exactly the globally-first K per source —
# which is the SQL oracle (row_number over doc_id <= K). The admission
# decision never looks at the row payload, so at 100 TB this is a
# constant-state gate in front of any downstream pipeline.
# --------------------------------------------------------------------------

STREAM_SOURCE_QUOTA = 15


def _register_stream_source_quota() -> None:
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
        ]
    )
    state_schema = StructType([StructField("n_admitted", LongType())])

    def fold(key: tuple, pdfs, state: GroupState):
        count = int(state.get[0]) if state.exists else 0
        frames = [pdf for pdf in pdfs]
        if not frames:
            state.update((count,))
            return
        rows = pd.concat(frames).sort_values("doc_id")
        take = max(0, STREAM_SOURCE_QUOTA - count)
        adm = rows.head(take)
        state.update((count + len(adm),))
        if len(adm):
            yield adm[["doc_id", "source"]]

    @register(
        "q_stream_source_quota",
        f"""
        WITH r AS (SELECT doc_id, source,
                          ROW_NUMBER() OVER (PARTITION BY source
                                             ORDER BY doc_id) AS rk
                   FROM documents)
        SELECT doc_id, source FROM r
        WHERE rk <= {STREAM_SOURCE_QUOTA}
        ORDER BY source, doc_id
        """,
        doc="streaming per-source admission quota: the first "
        f"{STREAM_SOURCE_QUOTA} docs per source (doc_id arrival order) "
        "are admitted across micro-batches via ONE integer of "
        "applyInPandasWithState state per source; converged admissions "
        "equal the batch row_number cut (the oracle). Constant state, "
        "stateless output — the firehose rate-cap shape.",
    )
    def q_stream_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
        inbox = docs_quartile_inbox(spark, sf_dir)
        stream = read_inbox(spark, DOCS_INBOX_SCHEMA, inbox).select(
            "doc_id", "source"
        )
        admitted = stream.groupBy("source").applyInPandasWithState(
            fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        out = run_to_table(
            spark, admitted, "update", state_partitions=small_state_parts(spark)
        )
        return out.select("doc_id", "source").orderBy("source", "doc_id")


_register_stream_source_quota()


# --------------------------------------------------------------------------
# STREAMING anomaly monitor — the stateful twin of
# q_events_anomaly_zscore: daily (event_type, day) counts arrive as
# day-complete micro-batches and each day is judged against the
# trailing week held in per-type state (applyInPandasWithState,
# O(|event types|) state: at most 7 (day, count) pairs per key). The
# z-test runs in arbitrary-precision Python ints inside the fold — the
# same division-free algebra as the batch twin, so the converged flags
# must equal the batch recompute bit-for-bit, which is the shared
# oracle. Keeping only the 7 newest days per key is lossless: a future
# day's baseline window can only contain days newer than anything
# pruned.
# --------------------------------------------------------------------------


def _register_stream_anomaly() -> None:
    from ..plans.product_analytics import (
        ANOMALY_BASELINE_DAYS,
        ANOMALY_ORACLE_SQL,
        ANOMALY_SIGMA_SQ,
    )
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("di", LongType()),
            StructField("n_events", LongType()),
            StructField("baseline_days", LongType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("dis", ArrayType(LongType())),
            StructField("ns", ArrayType(LongType())),
        ]
    )

    def fold(key: tuple, pdfs, state: GroupState):
        if state.exists:
            dis, ns = state.get
            hist = dict(zip(list(dis), list(ns)))
        else:
            hist = {}
        frames = [pdf for pdf in pdfs]
        rows = pd.concat(frames) if frames else pd.DataFrame({"di": []})
        counts = rows.groupby("di").size().sort_index()
        out = []
        for di, n in counts.items():
            di, n = int(di), int(n)
            win = [
                hist[d]
                for d in hist
                if di - ANOMALY_BASELINE_DAYS <= d <= di - 1
            ]
            m, s1 = len(win), sum(win)
            s2 = sum(v * v for v in win)
            flag = bool(
                m == ANOMALY_BASELINE_DAYS
                and (n * m - s1) ** 2 * (m - 1)
                > ANOMALY_SIGMA_SQ * m * (m * s2 - s1 * s1)
            )
            out.append((str(key[0]), di, n, m, flag))
            hist[di] = n
            if len(hist) > ANOMALY_BASELINE_DAYS:
                for stale in sorted(hist)[: len(hist) - ANOMALY_BASELINE_DAYS]:
                    del hist[stale]
        keep = sorted(hist)
        state.update(([int(d) for d in keep], [int(hist[d]) for d in keep]))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "event_type",
                    "di",
                    "n_events",
                    "baseline_days",
                    "is_anomaly",
                ],
            )

    @register(
        "q_stream_anomaly_zscore",
        ANOMALY_ORACLE_SQL,
        doc="STREAMING daily-count anomaly flags: day-complete "
        "micro-batches judged against the trailing week in per-type "
        "state (applyInPandasWithState, <=7 (day, count) pairs per "
        "key); the division-free integer z-test runs in arbitrary-"
        "precision Python inside the fold, so the converged flags "
        "equal the batch twin bit-for-bit — the oracle is shared.",
    )
    def q_stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = t(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("di"),
        )
        # Micro-batch by ABSOLUTE epoch-day ranges (di quantile split),
        # not day-of-month: the stateful trailing-7-day fold is
        # order-sensitive, and day-of-month bounds would interleave days
        # non-chronologically as soon as the fixture spans >1 month
        # (month-2 day 1 judged before month-1 days 25-31 arrive) —
        # ADVICE r08 item 1. Contiguous di ranges guarantee chronological
        # day-complete batches for ANY fixture span. The min/max scan (a
        # 1-row driver collect, bounded) runs INSIDE the build, so a cached
        # inbox costs zero scans; the content fingerprint in the fixture
        # key covers invalidation (ADVICE r09 item 4). An empty events
        # fixture (lo is None) builds an empty inbox, handled below.
        def day_quartiles():
            lo, hi = ev.agg(F.min("di"), F.max("di")).first()
            if lo is None:
                return
            span = int(hi) - int(lo) + 1
            cuts = [int(lo) + span * i // 4 for i in range(5)]
            for d0, d1 in zip(cuts, cuts[1:]):
                if d0 <= d1 - 1:
                    yield ev.where(F.col("di").between(d0, d1 - 1))

        inbox = ordered_inbox(
            "stream_anomaly", sf_dir, "anomaly-v3-epochday-quartiles", day_quartiles()
        )
        if not any(f.endswith(".parquet") for f in os.listdir(inbox)):
            # empty events fixture: nothing to stream — empty result with
            # the contract schema (int(None) previously raised TypeError)
            return spark.createDataFrame(
                [],
                "event_type string, day date, n_events bigint,"
                " baseline_days int, is_anomaly boolean",
            )
        stream = read_inbox(spark, "event_id long, event_type string, di long", inbox)
        updates = stream.groupBy("event_type").applyInPandasWithState(
            fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        out = run_to_table(
            spark, updates, "update", state_partitions=small_state_parts(spark)
        )
        # each (type, day) is emitted exactly once (its day-complete batch)
        return (
            out.select(
                "event_type",
                F.date_add(
                    F.lit("1970-01-01").cast("date"), F.col("di").cast("int")
                ).alias("day"),
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("baseline_days").cast("int").alias("baseline_days"),
                "is_anomaly",
            )
            .orderBy("event_type", "day")
        )


_register_stream_anomaly()


# --------------------------------------------------------------------------
# Streaming heavy hitters: sharded mergeable Misra-Gries summaries.
# The batch q_heavy_hitters_2gram answers "what dominates the corpus";
# a live ingest pipeline needs the same answer continuously WITHOUT
# unbounded per-token state. Misra-Gries summaries are mergeable
# (Agarwal et al., "Mergeable Summaries", PODS'12): merging two
# capacity-C summaries = sum counts, then subtract the (C+1)-th largest
# count from all and drop non-positives — per-key undercount is bounded
# by total/(C+1) across ANY merge tree. State is keyed by a token-hash
# SHARD (not by token!), so state size is EXACTLY shards x C entries no
# matter how many distinct tokens stream past; each trigger folds the
# batch's token counts into its shard's summary in one pandas pass.
# The registered query sizes C above the fixture vocabulary, making the
# summary EXACT — the DuckDB oracle is the plain batch top-k; the
# undercount bound of the truncating path is property-tested suite-side
# (tests/test_streaming.py).
# --------------------------------------------------------------------------

HH_SHARDS = 8
HH_CAPACITY = 4096
HH_TOPK = 20

_HH_OUT = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("token", StringType()),
        StructField("cnt", LongType()),
        StructField("seq", LongType()),
    ]
)
_HH_STATE = StructType(
    [
        StructField("tokens", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("seq", LongType()),
    ]
)


def _mg_merge(summary: dict, batch_counts: dict, capacity: int) -> dict:
    """Misra-Gries merge of a batch's exact counts into a capacity-C
    summary. Deterministic: ties at the truncation boundary resolve by
    token order."""
    for tok, c in batch_counts.items():
        summary[tok] = summary.get(tok, 0) + int(c)
    if len(summary) > capacity:
        by_size = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))
        t_sub = by_size[capacity][1]  # (C+1)-th largest count
        summary = {
            tok: c - t_sub for tok, c in by_size if c - t_sub > 0
        }
    return summary


def _hh_fold(capacity: int):
    def fold(key: tuple, pdfs, state: GroupState):
        if state.exists:
            tokens, counts, seq = state.get
            summary = dict(zip(tokens, counts))
        else:
            summary, seq = {}, 0
        batch: dict = {}
        for pdf in pdfs:
            for tok, c in pdf["token"].value_counts().items():
                batch[tok] = batch.get(tok, 0) + int(c)
        summary = _mg_merge(summary, batch, capacity)
        seq += 1
        items = sorted(summary.items())
        state.update(([t for t, _ in items], [c for _, c in items], seq))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(items),
                "token": [t for t, _ in items],
                "cnt": [c for _, c in items],
                "seq": [seq] * len(items),
            }
        )

    return fold


def stream_heavy_hitters(
    spark: SparkSession,
    tokens: DataFrame,
    capacity: int = HH_CAPACITY,
    shards: int = HH_SHARDS,
) -> DataFrame:
    """Drain a streaming (token) DataFrame through sharded Misra-Gries
    state; return the converged per-shard summaries (token, cnt)."""
    updates = (
        tokens.withColumn(
            "shard", F.pmod(F.xxhash64("token"), F.lit(shards)).cast("int")
        )
        .groupBy("shard")
        .applyInPandasWithState(
            _hh_fold(capacity),
            _HH_OUT,
            _HH_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_table(
        spark, updates, "update", state_partitions=small_state_parts(spark)
    )
    # keep each shard's LAST summary (a shard may skip a trigger, so seqs
    # differ per shard); per-shard window over the bounded summary table
    mx = F.max("seq").over(Window.partitionBy("shard"))
    return (
        out.withColumn("_mx", mx)
        .where(F.col("seq") == F.col("_mx"))
        .select("token", "cnt")
    )


@register(
    "q_stream_heavy_hitters",
    f"""
    WITH t AS (
      SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
    ),
    c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
    r AS (SELECT token, cnt,
                 row_number() OVER (ORDER BY cnt DESC, token) AS rank
          FROM c)
    SELECT CAST(rank AS INTEGER) AS rank, token, CAST(cnt AS BIGINT) AS cnt
    FROM r WHERE rank <= {HH_TOPK} ORDER BY rank
    """,
    doc="STREAMING heavy hitters: sharded mergeable Misra-Gries "
    f"summaries (state EXACTLY {HH_SHARDS}x{HH_CAPACITY} entries "
    "regardless of vocabulary; undercount bounded by total/(C+1)); "
    "capacity sized above the fixture vocabulary, so the converged "
    "top-k equals the exact batch answer — the oracle.",
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_inbox(spark, DOCS_INBOX_SCHEMA, docs_quartile_inbox(spark, sf_dir))
    tokens = stream.select(
        F.explode(F.split(F.trim("text"), " ")).alias("token")
    )
    merged = (
        stream_heavy_hitters(spark, tokens)
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # the merged summary is BOUNDED (<= shards x capacity rows), so a
    # global rank window here orders a small monitoring table, not data
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= HH_TOPK)
        .select("rank", "token", F.col("cnt").cast("bigint").alias("cnt"))
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Streaming table fingerprint: the replication-verification checksum
# (sources/maintenance.q_table_fingerprint) maintained INCREMENTALLY as
# data streams in. The checksum is a commutative SUM of md5 row hashes,
# i.e. a perfectly mergeable sketch — per-source state is four scalars
# (n, sum, min, max) updated per micro-batch, so a consumer can verify a
# replica continuously instead of rescanning the table per audit. The
# converged stream state must equal the one-shot batch scan — the shared
# oracle pins exactly that.
# --------------------------------------------------------------------------

_FP_OUT = StructType(
    [
        StructField("source", StringType()),
        StructField("n_rows", LongType()),
        StructField("content_checksum", LongType()),
        StructField("min_id", LongType()),
        StructField("max_id", LongType()),
    ]
)
_FP_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("s", LongType()),
        StructField("mn", LongType()),
        StructField("mx", LongType()),
    ]
)


def _fp_fold(key: tuple, pdfs, state: GroupState):
    n, s, mn, mx = state.get if state.exists else (0, 0, None, None)
    for pdf in pdfs:
        n += len(pdf)
        s += int(pdf["h"].sum())
        lo, hi = int(pdf["doc_id"].min()), int(pdf["doc_id"].max())
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    state.update((n, s, mn, mx))
    yield pd.DataFrame(
        {
            "source": [key[0]],
            "n_rows": [n],
            "content_checksum": [s],
            "min_id": [mn],
            "max_id": [mx],
        }
    )


@register(
    "q_stream_table_fingerprint",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(
                 md5(CAST(doc_id AS VARCHAR) || '\x1f'
                     || coalesce(text, '<NULL>')), 1, 10))
                 AS BIGINT)) AS BIGINT) AS content_checksum,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM documents GROUP BY source ORDER BY source
    """,
    doc="STREAMING incremental table fingerprint: per-source (n, md5-sum "
    "checksum, id bounds) folded in applyInPandasWithState — four "
    "scalars of state per source, checksum commutative so micro-batch "
    "boundaries are irrelevant; converged == the one-shot batch scan "
    "(shared oracle with q_table_fingerprint, including the explicit "
    "'<NULL>' sentinel so concat_ws's NULL-skip and ||'s NULL-propagate "
    "can never diverge — ADVICE r10 item 2).",
)
def q_stream_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_inbox(spark, DOCS_INBOX_SCHEMA, docs_quartile_inbox(spark, sf_dir))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.col("doc_id").cast("string"),
                    F.coalesce(F.col("text"), F.lit("<NULL>")),
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("bigint")
    updates = (
        stream.select("source", "doc_id", h.alias("h"))
        .groupBy("source")
        .applyInPandasWithState(
            _fp_fold, _FP_OUT, _FP_STATE, "update", GroupStateTimeout.NoTimeout
        )
    )
    out = run_to_table(
        spark, updates, "update", state_partitions=small_state_parts(spark)
    )
    # last update per source = converged value (n_rows is monotone)
    mx = F.max("n_rows").over(Window.partitionBy("source"))
    return (
        out.withColumn("_mx", mx)
        .where(F.col("n_rows") == F.col("_mx"))
        .select("source", "n_rows", "content_checksum", "min_id", "max_id")
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Streaming incremental MULTIMODAL dedup (round 11): the phash twin of
# q_stream_dedup_incremental. Payload batches arrive as micro-batches;
# each fold computes the byte-4-gram perceptual hash (one Arrow-batched
# mapInPandas pass over the batch), probes the persisted BAND INDEX of
# earlier batches for hamming<=3 partners, writes the batch's survivors,
# and appends its own bands. Unlike the MinHash index, the signature IS
# the verifier (bit_count on the stored 60-bit hash) — no shingle-set
# store, so the index is ONE table of (doc_id, sh, band, key) rows.
#
# Same exactly-once discipline as dedup_index_fold: batch-keyed
# OVERWRITE subdirs + probe reads only batches < batch_id, so a
# foreachBatch redelivery replaces its own output and sees the identical
# index state (VERDICT r08 item 2 discipline; the redelivery exercise
# below is env-gated out of bench like the MinHash twin).
#
# Scale: per trigger O(batch + collisions) — the probe equi-joins the
# batch's 4 band rows/doc against the index on (band, key); the index
# grows by 4 rows/doc, 4 longs each. Arrival order is doc_id order, so
# the converged survivor set equals the one-shot batch apply and the
# oracle is SHARED with q_multimodal_phash_apply.
# --------------------------------------------------------------------------


def phash_index_fold(
    spark: SparkSession, state: str, bdf: DataFrame, batch_id: int
) -> None:
    """One incremental phash-dedup fold over a (doc_id, source, text)
    batch: probe earlier bands, write survivors + own bands, batch-keyed
    OVERWRITE (redelivery-idempotent)."""
    import os as _os

    from ..operators.dedup import hash_bands
    from ..operators.multimodal import (
        PHASH_BITS,
        PHASH_MAX_HAMMING,
        attach_payload,
        payload_phash,
    )

    bands_dir = _os.path.join(state, "bands")
    surv_dir = _os.path.join(state, "surv")
    bbands = hash_bands(
        payload_phash(attach_payload(bdf)),
        bits=PHASH_BITS,
        max_hamming=PHASH_MAX_HAMMING,
    ).persist()
    try:
        prior = committed_batch_dirs(bands_dir, below=batch_id)
        all_bands = (
            spark.read.parquet(*prior).unionByName(bbands) if prior else bbands
        )
        l, r = bbands.alias("l"), all_bands.alias("r")
        ham = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
        dups = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.key") == F.col("r.key"))
                & (F.col("r.doc_id") < F.col("l.doc_id")),
            )
            .where(ham <= PHASH_MAX_HAMMING)
            .select(F.col("l.doc_id").alias("db"))
            .distinct()
        )
        surv = bdf.join(dups, bdf["doc_id"] == dups["db"], "left_anti").select(
            "doc_id", "source"
        )
        tag = f"b{batch_id:05d}"
        surv.write.mode("overwrite").parquet(_os.path.join(surv_dir, tag))
        bbands.write.mode("overwrite").parquet(_os.path.join(bands_dir, tag))
    finally:
        bbands.unpersist()


def _register_stream_phash_dedup() -> None:
    from ..operators.multimodal import PHASH_APPLY_ORACLE

    @register(
        "q_stream_phash_dedup",
        PHASH_APPLY_ORACLE,
        doc="streaming incremental multimodal dedup: per micro-batch, "
        "perceptual-hash the binary payloads (byte-4-gram SimHash via "
        "mapInPandas), probe the persisted band index of EARLIER batches "
        "for hamming<=3 partners (the 60-bit signature itself is the "
        "verifier — no second store), write survivors, append bands; "
        "batch-keyed OVERWRITE + probe-below-batch_id makes redelivery "
        "idempotent (exercised in-query, env-gated out of bench). "
        "Arrival order == doc_id order, so the converged survivors equal "
        "the one-shot batch apply — oracle shared with "
        "q_multimodal_phash_apply.",
    )
    def q_stream_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
        inbox = docs_quartile_inbox(spark, sf_dir)
        state = work_dir("stream_phash_state")

        def fold(bdf: DataFrame, batch_id: int) -> None:
            phash_index_fold(spark, state, bdf, batch_id)

        delivered = run_foreach_batch(
            spark, read_inbox(spark, DOCS_INBOX_SCHEMA, inbox), fold, "phash_inc"
        )
        if delivered and redelivery_exercise():
            last = max(delivered)
            redelivered = spark.read.schema(DOCS_INBOX_SCHEMA).parquet(
                os.path.join(inbox, f"{last:02d}.parquet")
            )
            fold(redelivered, last)
        surv = spark.read.parquet(
            *committed_batch_dirs(os.path.join(state, "surv"))
        )
        arrived = docs.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_docs")
        )
        kept = surv.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_surviving")
        )
        return (
            arrived.join(kept, "source", "left")
            .select(
                "source",
                "n_docs",
                F.coalesce(F.col("n_surviving"), F.lit(0))
                .cast("bigint")
                .alias("n_surviving"),
            )
            .orderBy("source")
        )


_register_stream_phash_dedup()


# --------------------------------------------------------------------------
# Streaming PQ encode (round 12): new vectors coded against the FROZEN
# persisted codebooks — the ingest half of a production IVF-PQ store
# (train once, persist; every arriving vector is encoded to M one-byte
# codes at ingest time). Same shape as q_stream_kmeans_assign: the
# codebooks load once from the durable index (M·K rows, a literal in the
# plan), the embedding firehose is encoded with a stateless append-mode
# map (per subspace: slice, fold L2 against each code, struct-ordered
# array_min for the argmin with ties to the LOWEST code — matching the
# batch window's ORDER BY dist ASC, code ASC), and the memory-sink
# occupancy equals the batch encode exactly, so the oracle is SHARED
# with q_embedding_pq_codebooks.
# --------------------------------------------------------------------------


def _register_stream_pq_encode() -> None:
    from ..operators.similarity import (
        PQ_OCCUPANCY_ORACLE,
        pq_code_struct_array,
        pq_index_path,
    )

    @register(
        "q_stream_pq_encode",
        PQ_OCCUPANCY_ORACLE,
        doc="STREAMING PQ encode against frozen persisted codebooks: the "
        "embedding stream is subvectorized and coded per subspace with a "
        "stateless append-mode map (codebooks are a plan literal loaded "
        "from the durable PQ index; argmin via struct-ordered array_min, "
        "ties to the lowest code); the landed (m, code) occupancy equals "
        "the batch corpus encode — oracle shared with "
        "q_embedding_pq_codebooks.",
    )
    def q_stream_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..plans.util import tp

        cb_path, _, _ = pq_index_path(spark, sf_dir)
        cents = spark.read.parquet(cb_path).collect()  # bounded: M·K rows
        by_m: dict[int, list] = {}
        for r in cents:
            by_m.setdefault(r["m"], []).append((r["code"], list(r["cu"])))

        # warm the parquet-backed fixture cache so the stream reads the
        # same file the batch side does
        tp(spark, sf_dir, "embeddings")
        file_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
        stream = (
            spark.readStream.schema(file_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )
        codes = pq_code_struct_array(by_m)
        encoded = stream.select(
            "vec_id", F.explode(codes).alias("mc")
        ).select("vec_id", F.col("mc.m").alias("m"), F.col("mc.code").alias("code"))
        out = run_to_table(spark, encoded, "append")
        return (
            out.groupBy("m", "code")
            .agg(
                F.count("*").cast("bigint").alias("n_vectors"),
                F.sum("vec_id").cast("bigint").alias("id_sum"),
            )
            .orderBy("m", "code")
        )


_register_stream_pq_encode()


# --------------------------------------------------------------------------
# The persisted ANN indexes' grow -> compact -> monitor lifecycle (PQ,
# residual PQ, SQ8, residual SQ8, BQ) lives in operators/index_lifecycle.py.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Streaming co-presence twin of the interval overlap join (round 16,
# VERDICT r15 missing 3): continuous co-presence / shared-device / fraud-
# ring detection is exactly the deployment that wants the overlap join as
# a stream. The incremental-dedup pattern fits because the binned rewrite
# is already equi-join-shaped: each micro-batch sessionizes its own users
# exactly (the inbox slices the event log BY USER, so one batch carries a
# user's complete history — the doc_id-ordered-batches convention),
# explodes its intervals into candidate bins, detects INTRA-batch pairs
# with the batch overlap join, probes the PERSISTED BIN INDEX of all
# earlier batches for CROSS-batch pairs (bin equi-join -> canonical pair
# key -> dedup -> exact overlap recheck — the lossless rewrite per
# overlap_pairs), and appends its own bins to the index. Every write is
# batch-keyed OVERWRITE (redelivery-idempotent, exercised inline); the
# probe reads only EARLIER batches' subdirs, so a redelivered batch sees
# the identical index state its first delivery saw, and each unordered
# session pair is found exactly once (same slice -> intra; different
# slices -> when the later user's batch folds). Converged pairs must
# equal the one-shot batch overlap join — the shared quadratic-spec
# oracle (_SQL_OVERLAP_PAIRS).
#
# Scale: per trigger O(batch bins + collisions) — the bin index is an
# equi-join probe, never all-pairs; the index grows by O(batch) and
# compacts with the same staged-rename machinery as the dedup index
# (committed_batch_dirs layout); hot-bin skew is the SAME exposure the
# batch family monitors (q_sessions_overlap_hotbins) and tunes
# (q_overlap_bin_sweep) — the knobs carry over unchanged.
# --------------------------------------------------------------------------


OVERLAP_STREAM_SLICES = 3


def _overlap_inbox(spark: SparkSession, sf_dir: str) -> str:
    """The co-presence twin's deterministic inbox: the events fixture
    sliced BY USER (user_id % n) into one-file micro-batches, so each
    user's complete history lands in ONE batch and per-batch
    sessionization is exact (the doc_id-ordered-batches convention)."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    n_slices = OVERLAP_STREAM_SLICES
    return ordered_inbox(
        "sessions_overlap",
        sf_dir,
        f"sessions-overlap-v2 slices={n_slices} by-user "
        f"cols={','.join(ev.columns)}",
        [ev.where(F.col("user_id") % n_slices == i) for i in range(n_slices)],
    )


def _overlap_batch_pairs(
    spark: SparkSession, bins_root: str, binned: DataFrame, batch_id: int
) -> DataFrame:
    """One batch's overlap-pair detection against the persisted bin
    index: INTRA-batch pairs via the binned rewrite + CROSS-batch pairs
    via a bin EQUI-join probe of batches EARLIER than ``batch_id``
    (canonical pair key -> dedup -> exact overlap recheck — the lossless
    rewrite per overlap_pairs). Pure function of (binned, index state);
    the compaction query re-evaluates it across the swap."""
    a = binned.select(
        F.col("user_id").alias("ua"),
        F.col("session_id").alias("sa"),
        F.col("s_start").alias("a_start"),
        F.col("s_end").alias("a_end"),
        "bin",
    )
    b = binned.select(
        F.col("user_id").alias("ub"),
        F.col("session_id").alias("sb"),
        F.col("s_start").alias("b_start"),
        F.col("s_end").alias("b_end"),
        "bin",
    )
    intra = (
        a.join(b, "bin")
        .where(F.col("ua") < F.col("ub"))
        .select(
            "ua", "sa", "ub", "sb",
            "a_start", "a_end", "b_start", "b_end",
        )
        .distinct()
        .where(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select("ua", "sa", "ub", "sb")
    )
    pairs_out = intra
    idx_dirs = committed_batch_dirs(bins_root, below=batch_id)
    if idx_dirs:
        idx = spark.read.parquet(*idx_dirs).select(
            F.col("user_id").alias("iu"),
            F.col("session_id").alias("isid"),
            F.col("s_start").alias("i_start"),
            F.col("s_end").alias("i_end"),
            "bin",
        )
        flip = F.col("iu") > F.col("ub")
        cross = (
            idx.join(
                b.withColumnRenamed("b_start", "n_start")
                .withColumnRenamed("b_end", "n_end"),
                "bin",
            )
            .where(F.col("iu") != F.col("ub"))
            # canonical pair key: lower user id first (users are
            # batch-disjoint, so iu != ub always holds)
            .select(
                F.when(flip, F.col("ub")).otherwise(F.col("iu")).alias("ua"),
                F.when(flip, F.col("sb")).otherwise(F.col("isid")).alias("sa"),
                F.when(flip, F.col("iu")).otherwise(F.col("ub")).alias("ub2"),
                F.when(flip, F.col("isid")).otherwise(F.col("sb")).alias("sb2"),
                F.col("i_start").alias("a_start"),
                F.col("i_end").alias("a_end"),
                F.col("n_start").alias("b_start"),
                F.col("n_end").alias("b_end"),
            )
            .withColumnRenamed("ub2", "ub")
            .withColumnRenamed("sb2", "sb")
            .distinct()
            # the overlap predicate is symmetric — no swap of the
            # interval columns needed for the recheck
            .where(
                (F.col("a_start") <= F.col("b_end"))
                & (F.col("b_start") <= F.col("a_end"))
            )
            .select("ua", "sa", "ub", "sb")
        )
        pairs_out = pairs_out.unionByName(cross)
    return pairs_out


def _overlap_fold_intervals(
    spark: SparkSession, state: str, iv_b: DataFrame, batch_id: int
) -> None:
    """One co-presence fold over a batch of FINAL session intervals
    (user_id, session_id, s_start, s_end): detect this batch's overlap
    pairs (intra + cross vs earlier batches), and append its bins —
    every write batch-keyed OVERWRITE (redelivery-idempotent; the probe
    reads only EARLIER batches, so a redelivered batch sees the
    identical index state). Shared by the user-sliced fold (which
    sessionizes per batch) and the time-sliced stitcher (whose stateful
    sessionizer emits closed sessions)."""
    import os as _os

    from ..plans.analytics import OVERLAP_BIN_S, _interval_bins

    bins_root = _os.path.join(state, "bins")
    pairs_root = _os.path.join(state, "pairs")
    binned = _interval_bins(iv_b, OVERLAP_BIN_S).persist()
    try:
        pairs_out = _overlap_batch_pairs(spark, bins_root, binned, batch_id)
        tag = f"b{batch_id:05d}"
        pairs_out.write.mode("overwrite").parquet(_os.path.join(pairs_root, tag))
        binned.write.mode("overwrite").parquet(_os.path.join(bins_root, tag))
    finally:
        binned.unpersist()


def _overlap_fold(
    spark: SparkSession, state: str, bdf: DataFrame, batch_id: int
) -> None:
    """One co-presence fold over a raw-events batch: sessionize the
    batch's users exactly (valid because the user-sliced inbox gives
    each batch its users' COMPLETE histories), then fold the
    intervals."""
    from ..plans.analytics import session_intervals

    _overlap_fold_intervals(spark, state, session_intervals(bdf), batch_id)


def _overlap_converged(spark: SparkSession, state: str) -> DataFrame:
    """The converged co-presence read-out: per-user-pair counts over
    every committed batch's pair contributions."""
    import os as _os

    pair_dirs = committed_batch_dirs(_os.path.join(state, "pairs"))
    pairs = spark.read.parquet(*pair_dirs)
    return (
        pairs.groupBy(F.col("ua").alias("user_a"), F.col("ub").alias("user_b"))
        .agg(F.count("*").cast("bigint").alias("n_overlaps"))
        .orderBy("user_a", "user_b")
    )


def _register_stream_sessions_overlap() -> None:
    from ..plans.analytics import _SQL_OVERLAP_PAIRS

    @register(
        "q_stream_sessions_overlap",
        _SQL_OVERLAP_PAIRS,
        doc="STREAMING co-presence: user-sliced micro-batches sessionize "
        "their own users exactly, detect intra-batch overlap pairs via "
        "the binned rewrite, probe a persisted bin index of all earlier "
        "batches for cross-batch pairs (bin equi-join -> canonical pair "
        "key -> dedup -> exact recheck), and append their bins — "
        "batch-keyed OVERWRITE, redelivery-idempotent (exercised "
        "inline); converged per-user-pair counts equal the one-shot "
        "batch overlap join (shared quadratic-spec oracle with "
        "q_sessions_overlap_pairs).",
    )
    def q_stream_sessions_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
        state = work_dir("stream_sessions_overlap_state")
        inbox = _overlap_inbox(spark, sf_dir)
        schema = "user_id long, ts timestamp, event_id long"

        def fold(bdf: DataFrame, batch_id: int) -> None:
            _overlap_fold(spark, state, bdf, batch_id)

        delivered = run_foreach_batch(
            spark, read_inbox(spark, schema, inbox), fold, "sessions_overlap"
        )
        # Redelivery exercise (default ON): re-fold the last delivered
        # batch's content under its batch_id — batch-keyed OVERWRITE +
        # earlier-batches-only probing must leave the converged read-out
        # unchanged.
        if delivered and redelivery_exercise():
            last = max(delivered)
            fold(
                spark.read.schema(schema).parquet(
                    os.path.join(inbox, f"{last:02d}.parquet")
                ),
                last,
            )

        return _overlap_converged(spark, state)


_register_stream_sessions_overlap()


# --------------------------------------------------------------------------
# TIME-sliced co-presence stream (round 17, VERDICT r16 missing 3): the
# user-sliced twin above depends on each batch carrying a user's COMPLETE
# history — the realistic arrival order is time-sliced, where a session
# can STRADDLE a trigger boundary and per-batch sessionization would
# split it (missing every pair the stitched interval spans but neither
# fragment does — property-pinned in tests/test_operators.py). The fix
# is the composition the stateful family already proves out: a stateful
# SESSIONIZER (applyInPandasWithState keyed by user, the
# q_stream_funnel_stateful shape) holds each user's open session across
# triggers, emits a session only when it CLOSES (the next event arrives
# past the 30-min gap, or the end-of-stream flush sentinel lands), and
# feeds ONLY closed — final, immutable — intervals to the SAME binned
# fold the user-sliced twin runs. Closed sessions emit exactly once, so
# the fold's exactly-once pair argument carries over unchanged
# (same-trigger pairs intra, cross-trigger via the earlier-batches-only
# bin index), and the converged counts equal the one-shot batch overlap
# join — the shared quadratic-spec oracle.
#
# Scale: sessionizer state is one (counter, open interval) per active
# user key in RocksDB — O(active users), not O(events); emission is
# bounded by sessions closed per trigger; everything downstream is the
# O(batch bins + collisions) fold. The flush sentinel is the standard
# end-of-feed control record a production topic carries (here: one
# event_id = -1 row per user in the final slice).
# --------------------------------------------------------------------------

OVERLAP_GAP_US = 1800 * 1_000_000  # the shared 30-min sessionization gap

_OVERLAP_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("s_start_us", LongType()),
        StructField("s_end_us", LongType()),
    ]
)
_OVERLAP_SESS_STATE = StructType(
    [
        StructField("n_closed", LongType()),
        StructField("open_start", LongType()),
        StructField("open_end", LongType()),
    ]
)


def _overlap_sessionizer(key: tuple, pdfs, state: GroupState):
    """Per-user session stitcher: extend the open session while events
    arrive within the gap, emit it (once, with its final extent) when an
    event opens a new one or the flush sentinel (event_id < 0) lands.
    Batches arrive time-ordered (the inbox pins mtimes ascending over
    disjoint time slices), so the open interval only ever extends
    forward; session_ids count closures per user in time order, matching
    the batch numbering."""
    n_closed, open_start, open_end = (
        state.get if state.exists else (0, None, None)
    )
    frames = [pdf for pdf in pdfs]
    rows = (
        pd.concat(frames)
        if frames
        else pd.DataFrame({"tsu": [], "event_id": []})
    )
    rows = rows.sort_values(["tsu", "event_id"])
    uid = int(key[0])
    out: list[tuple[int, int, int, int]] = []
    for tsu, eid in zip(rows["tsu"], rows["event_id"]):
        if int(eid) < 0:  # flush sentinel: close without opening
            if open_start is not None:
                n_closed += 1
                out.append((uid, n_closed, open_start, open_end))
                open_start = open_end = None
            continue
        tsu = int(tsu)
        if open_start is not None and tsu - open_end <= OVERLAP_GAP_US:
            open_end = tsu
        else:
            if open_start is not None:
                n_closed += 1
                out.append((uid, n_closed, open_start, open_end))
            open_start = open_end = tsu
    state.update((n_closed, open_start, open_end))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "session_id", "s_start_us", "s_end_us"]
        )


def _overlap_time_inbox(spark: SparkSession, sf_dir: str) -> str:
    """The realistic arrival order: the events fixture sliced by TIME
    (disjoint day ranges, mtimes ascending) plus a final flush-sentinel
    slice (one event_id = -1 row per user) that closes every still-open
    session at end of feed."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("tsu"),
        "event_id",
    )
    bounds = [(1, 8), (9, 15), (16, 23), (24, 31)]

    def slices():
        day = F.dayofmonth(F.timestamp_micros("tsu"))
        for d0, d1 in bounds:
            yield ev.where(day.between(d0, d1))
        [mx] = ev.agg(F.max("tsu").alias("mx")).collect()  # bounded: 1 row
        flush_ts = int(mx["mx"]) + 3600 * 1_000_000
        yield ev.select("user_id").distinct().select(
            "user_id",
            F.lit(flush_ts).alias("tsu"),
            F.lit(-1).cast("long").alias("event_id"),
        )

    return ordered_inbox(
        "sessions_overlap_timesliced",
        sf_dir,
        f"sessions-overlap-ts-v1 {bounds} sentinel cols=user_id,tsu,event_id",
        slices(),
    )


def _overlap_timesliced_run(
    spark: SparkSession, inbox: str, state_name: str, ckpt_name: str
) -> DataFrame:
    """The composed pipeline: stateful sessionizer → binned co-presence
    fold over closed sessions only; returns the converged per-user-pair
    counts. Parameterized by inbox so the straddling-session property
    pin can drive it with a constructed feed."""
    state = work_dir(state_name)
    stream = read_inbox(spark, "user_id long, tsu long, event_id long", inbox)
    closed = stream.groupBy("user_id").applyInPandasWithState(
        _overlap_sessionizer,
        _OVERLAP_SESS_OUT,
        _OVERLAP_SESS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    def fold(bdf: DataFrame, batch_id: int) -> None:
        iv = bdf.select(
            "user_id",
            "session_id",
            F.timestamp_micros("s_start_us").alias("s_start"),
            F.timestamp_micros("s_end_us").alias("s_end"),
        )
        _overlap_fold_intervals(spark, state, iv, batch_id)

    # The shuffle-partition count at stream START pins one RocksDB state
    # instance per partition for the checkpoint's lifetime, and each of
    # the 5 triggers pays a fixed per-instance update/commit cost. The
    # per-user sessionizer state grows with the feed, so the count is
    # derived from the feed's byte volume (volume_state_parts): full
    # width at 100 TB, no idle instances at test scale.
    delivered = run_foreach_batch(
        spark,
        closed,
        fold,
        ckpt_name,
        output_mode="update",  # the stateful sessionizer emits updates
        state_partitions=volume_state_parts(spark, inbox),
    )

    # Redelivery exercise (default ON) at the SINK level — the replay
    # risk in a foreachBatch pipeline: re-fold the last batch's closed
    # sessions (read back from its own bins subdir) under the same
    # batch id — batch-keyed OVERWRITE + earlier-batches-only probing
    # must leave the converged read-out unchanged.
    if delivered and redelivery_exercise():
        last = max(delivered)
        bins_dir = os.path.join(state, "bins", f"b{last:05d}")
        iv = (
            spark.read.parquet(bins_dir)
            .select("user_id", "session_id", "s_start", "s_end")
            .distinct()
        )
        _overlap_fold_intervals(spark, state, iv, last)

    return _overlap_converged(spark, state)


def _register_stream_sessions_overlap_timesliced() -> None:
    from ..plans.analytics import _SQL_OVERLAP_PAIRS

    @register(
        "q_stream_sessions_overlap_timesliced",
        _SQL_OVERLAP_PAIRS,
        doc="TIME-sliced streaming co-presence: events arrive in "
        "realistic time order (sessions STRADDLE trigger boundaries), a "
        "stateful per-user sessionizer (applyInPandasWithState, RocksDB "
        "state) stitches open sessions across triggers and emits each "
        "session exactly once when it CLOSES (gap exceeded, or the "
        "end-of-feed flush sentinel), and only closed — final — "
        "intervals reach the binned fold (intra-trigger pairs + bin "
        "equi-join probe of earlier batches' persisted bins); "
        "sink-level redelivery exercised inline; converged counts equal "
        "the one-shot batch overlap join (shared quadratic-spec oracle); "
        "the naive per-batch sessionization this replaces is "
        "property-pinned WRONG on straddling sessions in the suite.",
    )
    def q_stream_sessions_overlap_timesliced(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        inbox = _overlap_time_inbox(spark, sf_dir)
        return _overlap_timesliced_run(
            spark,
            inbox,
            "stream_sessions_overlap_ts_state",
            "sessions_overlap_ts",
        )


_register_stream_sessions_overlap_timesliced()


def _register_sessions_overlap_index_compact() -> None:
    from ..plans.analytics import _SQL_OVERLAP_PAIRS

    @register(
        "q_sessions_overlap_index_compact",
        _SQL_OVERLAP_PAIRS,
        doc="atomic small-file compaction of the co-presence BIN INDEX "
        "the streaming overlap twin grows forever: two user-slice folds "
        "build the batch-keyed index, the held-out third slice's pair "
        "detection is evaluated against the index BEFORE the compaction "
        "(bounded snapshot), the bins root is rewritten into ONE "
        "committed subdir keeping the max batch id (staged-rename swap, "
        "the dedup-index pattern), and the query RAISES unless the same "
        "probe is bit-identical against the compacted index and the "
        "parquet file count shrank; the third slice then folds for real "
        "and the converged per-user-pair counts equal the one-shot batch "
        "overlap join (shared quadratic-spec oracle).",
    )
    def q_sessions_overlap_index_compact(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        import os as _os

        from ..plans.analytics import (
            OVERLAP_BIN_S,
            _interval_bins,
            session_intervals,
        )

        state = work_dir("sessions_overlap_compact_state")
        bins_root = _os.path.join(state, "bins")
        inbox = _overlap_inbox(spark, sf_dir)
        schema = "user_id long, ts timestamp, event_id long"

        # grow the index with the first two user slices (batch-side —
        # the fold's exact on-disk layout without the stream)
        for i in range(OVERLAP_STREAM_SLICES - 1):
            bdf = spark.read.schema(schema).parquet(
                _os.path.join(inbox, f"{i:02d}.parquet")
            )
            _overlap_fold(spark, state, bdf, i)

        # the held-out slice's pair detection is the PROBE the swap must
        # not perturb — evaluate it before and after (bounded snapshot:
        # this slice's true pair rows)
        probe_id = OVERLAP_STREAM_SLICES - 1
        probe_bdf = spark.read.schema(schema).parquet(
            _os.path.join(inbox, f"{probe_id:02d}.parquet")
        )
        probe_binned = _interval_bins(
            session_intervals(probe_bdf), OVERLAP_BIN_S
        ).localCheckpoint(eager=True)  # two evaluations, one lineage

        def probe() -> list:
            return sorted(
                map(
                    tuple,
                    _overlap_batch_pairs(
                        spark, bins_root, probe_binned, probe_id
                    ).collect(),
                )
            )

        pre = probe()
        files_before, files_after = compact_batch_root(spark, bins_root)
        if files_after >= files_before:
            raise AssertionError(
                f"compaction did not shrink files: {files_before} -> {files_after}"
            )
        if probe() != pre:
            raise AssertionError(
                "probe changed across overlap bin-index compaction"
            )

        # the held-out slice folds for real against the compacted index;
        # the converged read-out is the driver-checked oracle comparison
        _overlap_fold(spark, state, probe_bdf, probe_id)
        return _overlap_converged(spark, state)


_register_sessions_overlap_index_compact()
