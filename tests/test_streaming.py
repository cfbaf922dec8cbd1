"""Streaming pipeline tests — SURVEY.md §5.2 item 2 (end-to-end streaming)
plus the M5 streaming analytics surface (streaming/pipelines.py).

Oracle equivalence for the registered q_stream_* queries is covered by
tools/check_oracles.py; these tests pin down what the oracle gate can't:
exact payload-level determinism of the mq WordCount, and the foreachBatch
sink path.
"""

from __future__ import annotations

import collections
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_sql_custom_mq_datasource_spark.sources.mq import _indices_in_range, _payload

SF = "/root/testdata/sf0.001"


@pytest.mark.slow
class TestMQWordCount:
    def test_exact_counts_vs_generator(self, spark):
        """The drained WordCount must equal counts recomputed directly from
        the deterministic payload function — exactly-once, no loss, no dup
        (README.md:705-712 contract)."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            q_stream_mq_wordcount,
        )

        got = {r["word"]: r["count"] for r in q_stream_mq_wordcount(spark, SF).collect()}

        expected: collections.Counter = collections.Counter()
        for p in range(4):  # numPartitions=4
            for i in _indices_in_range(0, 5000, 10):  # advance 5000ms, 10ms interval
                expected.update(_payload(42, p, i).split(" "))
        assert got == dict(expected)


@pytest.mark.slow
class TestForeachBatchSink:
    def test_foreach_batch_parquet(self, spark):
        """foreachBatch sink (SURVEY.md §2.4 sinks row): drain the events
        stream into parquet via a batch-side writer; round-trip count."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import events_stream

        out_dir = tempfile.mkdtemp(prefix="fb_out_")

        def write_batch(df, epoch_id: int) -> None:
            df.write.mode("append").parquet(out_dir)

        q = (
            events_stream(spark, SF)
            .select("event_id", "event_type")
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="fb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        n_in = spark.read.parquet(f"{SF}/events.parquet").count()
        assert spark.read.parquet(out_dir).count() == n_in


@pytest.mark.slow
class TestWatermarkContract:
    def test_append_subset_of_complete(self, spark):
        """Append-mode emits exactly the windows closed by the final
        watermark — a strict subset of complete-mode output."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            q_stream_tumbling_1d,
            q_stream_tumbling_watermark,
        )

        complete = {
            (r["win_start"], r["event_type"]): r["cnt"]
            for r in q_stream_tumbling_1d(spark, SF).collect()
        }
        appended = {
            (r["win_start"], r["event_type"]): r["cnt"]
            for r in q_stream_tumbling_watermark(spark, SF).collect()
        }
        assert appended  # something was emitted
        assert set(appended) < set(complete)  # strictly fewer windows
        assert all(complete[k] == v for k, v in appended.items())


class TestRocksDBStateStore:
    def test_streaming_drain_uses_rocksdb_provider(self, spark):
        """VERDICT r04 item 6: streaming state must run on RocksDB (off-heap,
        disk-backed, changelog-checkpointed) — the HDFS-backed heap store is
        the first thing to fall over at 100 TB/day."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            ROCKSDB_PROVIDER,
            configure_state_store,
            events_stream,
            run_to_table,
        )

        configure_state_store(spark)
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        # a stateful drain actually executes under the provider
        agg = events_stream(spark, SF).groupBy("event_type").count()
        out = run_to_table(spark, agg, "complete")
        assert out.count() > 0

    def test_state_partitions_override_restores_conf_same_rows(self, spark):
        """run_to_table(state_partitions=N) pins N state partitions for the
        drain (one RocksDB instance each — the r17 fix for per-instance
        fixed cost dwarfing tiny state), restores the session's
        shuffle-partition setting afterwards, and leaves the drained rows
        identical to the default-partitioning drain."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            events_stream,
            run_to_table,
        )

        before = spark.conf.get("spark.sql.shuffle.partitions")
        agg = events_stream(spark, SF).groupBy("event_type").count()
        base = sorted(map(tuple, run_to_table(spark, agg, "complete").collect()))
        agg2 = events_stream(spark, SF).groupBy("event_type").count()
        got = sorted(
            map(
                tuple,
                run_to_table(spark, agg2, "complete", state_partitions=2).collect(),
            )
        )
        assert got == base
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        # each drain drops its memory-sink view once the result is bound
        assert not [t for t in spark.catalog.listTables() if t.name.startswith("strm_")]

    def test_failing_micro_batch_stops_drain_and_restores_conf(self, spark):
        """A fold that raises on batch 0 fails the drain, leaves no active
        stream behind, and restores the session's shuffle-partition
        setting that state_partitions overrode for the drain."""
        from pyspark.errors import StreamingQueryException

        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            run_foreach_batch,
        )

        before = spark.conf.get("spark.sql.shuffle.partitions")
        one_row = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 1)
            .option("numPartitions", 1)
            .load()
        )

        def fold(bdf, batch_id: int) -> None:
            raise RuntimeError(f"fold failed on batch {batch_id}")

        with pytest.raises(StreamingQueryException, match="fold failed on batch 0"):
            run_foreach_batch(
                spark, one_row, fold, "failing_fold", state_partitions=int(before) + 1
            )
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_volume_state_parts_floor_scale_cap(self, spark, tmp_path):
        """volume_state_parts derives the state-partition count from the
        inbox's parquet byte volume: floored at small_state_parts for
        tiny feeds, one partition per VOLUME_BYTES_PER_STATE_PART as the
        feed grows, capped at 8x parallelism (guide §2.2 — scale with
        the data, never a constant for one deployment)."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            VOLUME_BYTES_PER_STATE_PART,
            small_state_parts,
            volume_state_parts,
        )

        para = spark.sparkContext.defaultParallelism
        floor = small_state_parts(spark)
        d = tmp_path / "inbox"
        d.mkdir()
        (d / "00.parquet").write_bytes(b"x" * 1024)
        assert volume_state_parts(spark, str(d)) == floor
        # a feed big enough to need more partitions than the floor
        n_over = floor + 3
        (d / "01.parquet").write_bytes(
            b"x" * (VOLUME_BYTES_PER_STATE_PART * n_over)
        )
        assert volume_state_parts(spark, str(d)) == n_over + 1
        # and the cap: 8x parallelism, however big the feed claims to be
        (d / "02.parquet").write_bytes(b"")
        import os

        os.truncate(d / "02.parquet", VOLUME_BYTES_PER_STATE_PART * para * 64)
        assert volume_state_parts(spark, str(d)) == para * 8

    def test_volume_state_parts_counts_non_parquet_data_files(
        self, spark, tmp_path
    ):
        """A mixed inbox must size by ALL data files, not only *.parquet —
        a non-parquet feed silently took the floor before (VERDICT r17
        item 3 / ADVICE r17 item 1). Hidden/metadata names (_SUCCESS,
        .crc) stay excluded."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            VOLUME_BYTES_PER_STATE_PART,
            small_state_parts,
            volume_state_parts,
        )

        floor = small_state_parts(spark)
        n_over = floor + 3
        d = tmp_path / "inbox"
        d.mkdir()
        import os

        def sized(name: str, size: int) -> None:
            # sparse: the sizing walk reads st_size, not content
            (d / name).write_bytes(b"")
            os.truncate(d / name, size)

        sized("00.json", VOLUME_BYTES_PER_STATE_PART * n_over)
        assert volume_state_parts(spark, str(d)) == n_over
        # metadata/hidden files contribute nothing
        sized("_SUCCESS", VOLUME_BYTES_PER_STATE_PART * 8)
        sized(".00.json.crc", VOLUME_BYTES_PER_STATE_PART * 8)
        assert volume_state_parts(spark, str(d)) == n_over


class TestRocksDBRecovery:
    def test_state_survives_restart_under_rocksdb(self, spark):
        """Stop a stateful stream mid-way and restart from the same
        checkpoint: the running counts must continue (not reset), and the
        checkpoint must contain RocksDB artifacts (changelog/zip), proving
        the provider actually engaged rather than silently falling back."""
        import os
        import tempfile
        import time

        from pyspark.sql import functions as F

        from spark_sql_custom_mq_datasource_spark.session import register_mq_source
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            configure_state_store,
        )

        register_mq_source(spark)
        configure_state_store(spark)
        ckpt = tempfile.mkdtemp(prefix="rocksdb_ckpt_")

        def start(name):
            s = (
                spark.readStream.format("mq")
                .option("numPartitions", 2)
                .option("intervalMs", 10)
                .option("startingTimestamp", 0)
                .option("advanceMsPerBatch", 200)
                .load()
            )
            counts = (
                s.selectExpr("CAST(value AS STRING) AS line")
                .select(F.explode(F.split("line", " ")).alias("word"))
                .groupBy("word")
                .count()
            )
            return (
                counts.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="500 milliseconds")
                .start()
            )

        def total(name):
            return spark.sql(
                f"select coalesce(sum(count),0) s from {name}"
            ).collect()[0]["s"]

        q = start("rdb_wc")
        deadline = time.time() + 90
        while time.time() < deadline and total("rdb_wc") == 0:
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        t1 = total("rdb_wc")
        assert t1 > 0

        # RocksDB leaves changelog/zip artifacts; the HDFS store leaves
        # .delta/.snapshot — assert we are on the former.
        state_files = []
        for root, _, files in os.walk(os.path.join(ckpt, "state")):
            state_files += files
        assert any(
            f.endswith((".changelog", ".zip")) for f in state_files
        ), state_files
        assert not any(f.endswith(".delta") for f in state_files), state_files

        q = start("rdb_wc")
        deadline = time.time() + 90
        while time.time() < deadline and total("rdb_wc") < t1:
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        # restart resumed from checkpointed state: totals never regress
        assert total("rdb_wc") >= t1


class TestLateDataAccounting:
    def test_watermark_drops_two_batch_late_rows_and_reports_them(
        self, spark, tmp_path
    ):
        """Late-data contract, observed end to end. Spark >= 3.4 splits the
        watermark: late-event FILTERING uses the previous batch's value
        while EVICTION uses the current one, so a just-late row in the
        very next micro-batch is still admitted (and emitted once) — only
        a row arriving >= 2 batches behind is dropped, and that drop is
        what numRowsDroppedByWatermark accounts (the metric an operator
        alarms on at 100 TB/day)."""
        import datetime as dt
        import os
        import tempfile
        import uuid

        from pyspark.sql import functions as F
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            configure_state_store,
        )

        src = str(tmp_path / "src")
        files = [
            # batch 0: on-time rows advance the watermark to 11:00
            ("a", [(i, dt.datetime(2024, 1, 1, 10 + i)) for i in range(3)]),
            # batch 1: benign row; watermark moves to 11:30 after it
            ("b", [(50, dt.datetime(2024, 1, 1, 12, 30))]),
            # batch 2: straggler 11 h behind the filtering watermark -> drop
            ("c", [(99, dt.datetime(2024, 1, 1, 0, 30))]),
        ]
        schema = "id long, ts timestamp"
        now = 1_700_000_000
        for i, (nm, rows) in enumerate(files):
            d = os.path.join(src, nm)
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
            # file order == batch order under maxFilesPerTrigger=1 (sorted
            # by mtime): pin mtimes so batches replay in list order
            for root, _, fs in os.walk(d):
                for f in fs:
                    os.utime(os.path.join(root, f), (now + i * 1000, now + i * 1000))

        configure_state_store(spark)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        name = "late_" + uuid.uuid4().hex[:8]
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_late_"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            if q.isActive:
                q.stop()

        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert [p["numInputRows"] for p in progresses] == [3, 1, 1]
        dropped = [
            so["numRowsDroppedByWatermark"]
            for p in progresses
            for so in p["stateOperators"]
        ]
        assert dropped == [0, 0, 1]  # only the 2-batch-late straggler
        rows = {r["ws"]: r["n"] for r in spark.table(name).collect()}
        # the closed 10:00 window emitted exactly the on-time row; the
        # dropped straggler's 00:00 window never appears
        assert rows.get(dt.datetime(2024, 1, 1, 10, 0)) == 1
        assert dt.datetime(2024, 1, 1, 0, 0) not in rows


class TestStreamDedupIncremental:
    def test_cross_batch_dups_fold_exactly(self, spark, tmp_path):
        """Dup pairs that STRADDLE micro-batch boundaries must be caught
        by the growing persisted index: doc 30 (batch 2) duplicates doc 1
        (batch 1), doc 90 (batch 4) duplicates doc 31 (batch 2), and an
        in-batch pair (40, 41) dedups within its own trigger. The
        converged per-source survivors must equal the one-shot batch
        dedup of the whole corpus."""
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache
        from spark_sql_custom_mq_datasource_spark.streaming import pipelines
        from spark_sql_custom_mq_datasource_spark.plans.registry import QUERIES

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        uniq = [
            f"unique document number {i} with entirely distinct words "
            f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g"
            for i in range(8)
        ]
        rows = [
            (1, "s1", base),                     # batch 1 (ids 0-24)
            (2, "s1", uniq[0]),
            (10, "s2", uniq[1]),
            (30, "s1", base),                    # batch 2 (25-49): dup of 1
            (31, "s2", base + " extra"),         # J(31, base)=10/11 >= .8
            (40, "s2", uniq[2] + " tail"),       # in-batch pair with 41
            (41, "s2", uniq[2] + " tail"),
            (60, "s1", uniq[3]),                 # batch 3 (50-74)
            (90, "s2", base + " extra"),         # batch 4 (75-100): dup of 31
            (95, "s1", uniq[4]),
            (100, "s2", uniq[5]),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        sf = str(tmp_path)
        df.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        got = {
            r["source"]: (r["n_arrived"], r["n_surviving"])
            for r in QUERIES["q_stream_dedup_incremental"].fn(spark, sf).collect()
        }
        _cache.clear()
        # dups: 30 (vs 1), 31 (vs 1/30), 41 (vs 40), 90 (vs 31)
        assert got == {"s1": (5, 4), "s2": (6, 3)}

    def test_dedup_incremental_redelivery_idempotent(
        self, spark, sf_dir, monkeypatch
    ):
        """The fold's batch-keyed overwrite makes a foreachBatch retry a
        no-op: the run WITH the redelivery exercise (last batch re-folded
        with its original batch_id) must equal the run WITHOUT it
        bit-for-bit — double-appended survivors or doubled index entries
        would break the per-source counts (VERDICT r08 item 2; the
        exercise is env-gated off in bench runs per ADVICE r09 item 1)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        fn = get_queries()["q_stream_dedup_incremental"]
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "0")
        plain = sorted(map(tuple, fn(spark, sf_dir).collect()))
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "1")
        redelivered = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert plain == redelivered


class TestDedupIndexCompact:
    def test_compact_preserves_probe_and_shrinks(self, spark):
        """compact_dedup_index must leave every future probe bit-identical
        (same dups, same survivors) while collapsing the batch-keyed
        subdirs into one committed dir per root with fewer parquet files
        (VERDICT r08 'what's missing' 3)."""
        import os

        from pyspark.sql import functions as F  # noqa: F401

        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            _shingle_sets,
            banded_signatures,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import work_dir
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            committed_batch_dirs,
            compact_dedup_index,
            dedup_index_fold,
            dedup_index_probe,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        uniq = [
            f"unique document number {i} with entirely distinct words "
            f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g"
            for i in range(6)
        ]
        batches = [
            [(1, "s1", base), (2, "s1", uniq[0])],
            [(30, "s1", base), (31, "s2", base + " extra")],  # 30 dups 1
            [(60, "s1", uniq[1]), (61, "s2", uniq[2])],
            [(90, "s2", base + " extra"), (95, "s1", uniq[3])],  # 90 dups 31
        ]
        schema = "doc_id long, source string, text string"
        state = work_dir("test_dedup_compact_state")
        for i, rows in enumerate(batches):
            dedup_index_fold(spark, state, spark.createDataFrame(rows, schema), i)

        probe_df = spark.createDataFrame(batches[-1], schema)
        psets = _shingle_sets(probe_df)
        pbands = banded_signatures(psets)
        pre_probe = sorted(
            r["db"]
            for r in dedup_index_probe(spark, state, psets, pbands, 4).collect()
        )
        surv_root = os.path.join(state, "surv")
        pre_surv = sorted(
            map(tuple, spark.read.parquet(*committed_batch_dirs(surv_root)).collect())
        )

        stats = compact_dedup_index(spark, state)
        for root_name, (before, after) in stats.items():
            assert after < before, (root_name, before, after)
            assert (
                len(committed_batch_dirs(os.path.join(state, root_name))) == 1
            )

        post_probe = sorted(
            r["db"]
            for r in dedup_index_probe(spark, state, psets, pbands, 4).collect()
        )
        post_surv = sorted(
            map(tuple, spark.read.parquet(*committed_batch_dirs(surv_root)).collect())
        )
        assert pre_probe == post_probe == [90]
        assert pre_surv == post_surv
        # 30 (dup of 1), 31 (dup of 30: J=10/11), 90 (dup of 31) dropped
        assert {r[0] for r in post_surv} == {1, 2, 60, 61, 95}

    def test_compact_is_noop_on_single_batch(self, spark):
        from spark_sql_custom_mq_datasource_spark.plans.util import work_dir
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            compact_dedup_index,
            dedup_index_fold,
        )

        state = work_dir("test_dedup_compact_single")
        dedup_index_fold(
            spark,
            state,
            spark.createDataFrame(
                [(1, "s1", "one two three four five six seven eight")],
                "doc_id long, source string, text string",
            ),
            0,
        )
        stats = compact_dedup_index(spark, state)
        for before, after in stats.values():
            assert before == after


class TestStreamSourceQuota:
    def test_quota_spans_batches(self, spark, sf_dir):
        """Admission counts must carry across micro-batches: the admitted
        set equals the globally-first K docs per source, and no source
        exceeds the quota even though its docs arrive over 4 triggers."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            STREAM_SOURCE_QUOTA,
        )

        rows = get_queries()["q_stream_source_quota"](spark, sf_dir).collect()
        by_source: dict[str, list[int]] = {}
        for r in rows:
            by_source.setdefault(r["source"], []).append(r["doc_id"])
        import duckdb

        expected = duckdb.sql(
            f"""
            WITH r AS (SELECT doc_id, source,
                              ROW_NUMBER() OVER (PARTITION BY source
                                                 ORDER BY doc_id) AS rk
                       FROM '{sf_dir}/documents.parquet')
            SELECT source, list(doc_id ORDER BY doc_id) FROM r
            WHERE rk <= {STREAM_SOURCE_QUOTA} GROUP BY source
            """
        ).fetchall()
        assert {s: sorted(ids) for s, ids in expected} == {
            s: sorted(ids) for s, ids in by_source.items()
        }


class TestStreamHeavyHitters:
    def test_misra_gries_merge_error_bound(self):
        """Truncating path: after ANY merge sequence, per-token undercount
        is bounded by total/(C+1), summary stays within capacity, and
        every token with true count > total/(C+1) survives."""
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            _mg_merge,
        )

        cap = 8
        exact: dict[str, int] = {}
        summary: dict[str, int] = {}
        # skewed synthetic stream: token t{i} appears ~ 1000/(i+1) times,
        # delivered across 10 interleaved batches
        for b in range(10):
            batch: dict[str, int] = {}
            for i in range(50):
                c = max(0, 100 // (i + 1) - (b % 3))
                if c:
                    batch[f"t{i}"] = c
                    exact[f"t{i}"] = exact.get(f"t{i}", 0) + c
            summary = _mg_merge(summary, batch, cap)
        assert len(summary) <= cap
        total = sum(exact.values())
        bound = total / (cap + 1)
        for tok, c in summary.items():
            assert 0 < c <= exact[tok]          # never overcounts
            assert exact[tok] - c <= bound      # undercount bound
        for tok, c in exact.items():
            if c > bound:
                assert tok in summary           # heavy hitters survive

    def test_exact_when_capacity_holds_vocab(self, spark, sf_dir):
        """C >= |vocab| -> the converged summary IS the exact count table
        (the invariant the registered oracle relies on)."""
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        _load_all()
        got = {
            r["token"]: r["cnt"]
            for r in QUERIES["q_stream_heavy_hitters"].fn(spark, sf_dir).collect()
        }
        docs = t(spark, sf_dir, "documents")
        exact = {
            r["token"]: r["cnt"]
            for r in docs.select(
                FF.explode(FF.split(FF.trim("text"), " ")).alias("token")
            )
            .groupBy("token")
            .agg(FF.count("*").alias("cnt"))
            .orderBy(FF.desc("cnt"), FF.asc("token"))
            .limit(20)
            .collect()
        }
        assert got == exact


class TestStreamPhashDedup:
    def test_phash_redelivery_idempotent(self, spark, sf_dir, monkeypatch):
        """Same exactly-once pin as the MinHash twin: the run WITH the
        redelivery exercise must equal the run WITHOUT it bit-for-bit."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        fn = get_queries()["q_stream_phash_dedup"]
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "0")
        plain = sorted(map(tuple, fn(spark, sf_dir).collect()))
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "1")
        redelivered = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert plain == redelivered

    def test_phash_fold_matches_batch_apply_semantics(self, spark):
        """Constructed batches with a known near-dup structure: a later
        exact-duplicate payload must be dropped, all-unique payloads
        kept, and cross-batch dups detected against the persisted index
        (not just within-batch)."""
        from spark_sql_custom_mq_datasource_spark.plans.util import work_dir
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            committed_batch_dirs,
            phash_index_fold,
        )

        base = "the quick brown fox jumps over the lazy dog " * 3
        other = "completely different payload bytes with no shared grams "
        batches = [
            [(1, "s1", base), (2, "s2", other * 2)],
            [(10, "s1", base)],          # exact dup of doc 1, prior batch
            [(20, "s2", other * 2)],     # exact dup of doc 2, prior batch
            [(30, "s1", "x y z " * 40)],  # unique
        ]
        schema = "doc_id long, source string, text string"
        state = work_dir("test_phash_fold_state")
        for i, rows in enumerate(batches):
            phash_index_fold(spark, state, spark.createDataFrame(rows, schema), i)
        import os

        surv = spark.read.parquet(
            *committed_batch_dirs(os.path.join(state, "surv"))
        )
        kept = sorted(r["doc_id"] for r in surv.collect())
        assert kept == [1, 2, 30]


class TestStreamPqIndexGrow:
    def test_grow_redelivery_idempotent(self, spark, sf_dir, monkeypatch):
        """Batch-keyed OVERWRITE appends: the probe over the grown index
        with the last batch redelivered must equal the plain run
        bit-for-bit (the MinHash/phash exactly-once pin)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        fn = get_queries()["q_stream_pq_index_grow"]
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "0")
        plain = sorted(map(tuple, fn(spark, sf_dir).collect()))
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "1")
        redelivered = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert plain == redelivered and plain

    def test_grow_probe_equals_batch_index_probe(self, spark, sf_dir):
        """Probe-after-growth == probe over the one-shot batch-built
        index (the shared-oracle contract, pinned suite-side too)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        qs = get_queries()
        grown = sorted(map(tuple, qs["q_stream_pq_index_grow"](spark, sf_dir).collect()))
        batch = sorted(map(tuple, qs["q_pq_persisted_probe"](spark, sf_dir).collect()))
        assert grown == batch and grown


class TestStreamPqResidualIndexGrow:
    """Round-14: streaming growth + compaction of the RESIDUAL index
    (VERDICT r13 missing 2)."""

    def test_residual_grow_redelivery_idempotent(self, spark, sf_dir, monkeypatch):
        """Batch-keyed OVERWRITE appends: the residual probe with the
        last batch redelivered must equal the plain run bit-for-bit."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        fn = get_queries()["q_stream_pq_residual_index_grow"]
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "0")
        plain = sorted(map(tuple, fn(spark, sf_dir).collect()))
        monkeypatch.setenv("SPARK_GRAFT_REDELIVERY_EXERCISE", "1")
        redelivered = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert plain == redelivered and plain

    def test_residual_grow_probe_equals_persisted_serving(self, spark, sf_dir):
        """Probe-after-growth == the persisted residual serving probe
        (the shared-oracle contract, pinned suite-side too)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        qs = get_queries()
        grown = sorted(
            map(
                tuple,
                qs["q_stream_pq_residual_index_grow"](spark, sf_dir).collect(),
            )
        )
        served = sorted(
            map(
                tuple,
                qs["q_ann_ivf_pq_residual_persisted"](spark, sf_dir).collect(),
            )
        )
        assert grown == served and grown

    def test_residual_compact_probe_invariant(self, spark, sf_dir):
        """The compaction query self-asserts probe bit-identity across
        the staged-rename swap and raises otherwise — a clean run IS the
        invariant; pin its output against the persisted serving probe."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        qs = get_queries()
        compacted = sorted(
            map(tuple, qs["q_pq_residual_index_compact"](spark, sf_dir).collect())
        )
        served = sorted(
            map(
                tuple,
                qs["q_ann_ivf_pq_residual_persisted"](spark, sf_dir).collect(),
            )
        )
        assert compacted == served and compacted
