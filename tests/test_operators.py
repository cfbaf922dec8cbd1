"""Property/semantic tests for the LLM-pipeline operators
(SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_sql_custom_mq_datasource_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    jaccard_pairs,
    minhash_dedup_pairs,
    simhash_pairs,
)
from spark_sql_custom_mq_datasource_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from spark_sql_custom_mq_datasource_spark.plans.util import t


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return t(spark, sf_dir, "documents")


class TestDedup:
    def test_jaccard_pairs_canonical_order(self, spark, docs):
        rows = jaccard_pairs(docs).collect()
        assert rows, "fixtures contain planted near-dups"
        for r in rows:
            assert r["da"] < r["db"]  # irreflexive, canonical direction
            assert JACCARD_THRESHOLD <= r["jaccard"] <= 1.0

    def test_minhash_equals_exact(self, spark, docs):
        """LSH+verify must reproduce the exact inverted-index join here
        (planted dups are j≈0.98, far above the banding miss region)."""
        exact = {(r["da"], r["db"]) for r in jaccard_pairs(docs).collect()}
        lsh = {(r["da"], r["db"]) for r in minhash_dedup_pairs(docs).collect()}
        assert lsh == exact

    def test_dedup_idempotent(self, spark, docs):
        """Removing dup partners then re-running finds nothing new."""
        pairs = jaccard_pairs(docs).collect()
        drop = {r["db"] for r in pairs}
        kept = docs.where(~F.col("doc_id").isin(*drop)) if drop else docs
        again = jaccard_pairs(kept).collect()
        assert again == []

    def test_simhash_banding_is_exact(self, spark, docs):
        """Pigeonhole banding must equal brute-force hamming ≤ 3."""
        from spark_sql_custom_mq_datasource_spark.operators.dedup import simhash

        sig = docs.select("doc_id", simhash("text").alias("sh"))
        a = sig.select(F.col("doc_id").alias("da"), F.col("sh").alias("ha"))
        b = sig.select(F.col("doc_id").alias("db"), F.col("sh").alias("hb"))
        brute = {
            (r["da"], r["db"])
            for r in a.join(b, F.col("da") < F.col("db"))
            .where(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
            .collect()
        }
        banded = {(r["da"], r["db"]) for r in simhash_pairs(docs).collect()}
        assert banded == brute


class TestText:
    def test_quality_in_unit_interval(self, spark, docs):
        bad = docs.where(
            (quality_score("text") < 0) | (quality_score("text") > 1)
        ).count()
        assert bad == 0

    def test_fingerprint_stable_and_whitespace_sensitive(self, spark):
        df = spark.createDataFrame(
            [("a b c",), ("a b c",), ("c b a",)], ["text"]
        ).select(fingerprint("text").alias("fp"))
        fps = [r["fp"] for r in df.collect()]
        assert fps[0] == fps[1]
        assert fps[0] != fps[2]  # order-sensitive rolling hash

    def test_lang_id_cjk_and_markers(self, spark):
        df = spark.createDataFrame(
            [
                ("你好 世界",),
                ("the cat and the dog of the house",),
                ("der hund und die katze ist",),
                ("zzz qqq xxx",),
            ],
            ["text"],
        ).select(lang_id("text").alias("l"))
        assert [r["l"] for r in df.collect()] == ["zh", "en", "de", "unknown"]

    def test_token_count_simple(self, spark):
        df = spark.createDataFrame([("a b  c",)], ["text"]).select(
            token_count("text").alias("n")
        )
        assert df.collect()[0]["n"] == 3


class TestSimilarity:
    def test_bruteforce_topk_matches_numpy(self, spark, sf_dir):
        import numpy as np

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            TOPK,
            ann_bruteforce_topk,
        )

        emb = t(spark, sf_dir, "embeddings")
        rows = emb.collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        queries = emb.where(F.col("vec_id") < 3)
        got = {
            (r["qid"], r["rk"]): r["neighbor_id"]
            for r in ann_bruteforce_topk(emb, queries, TOPK).collect()
        }
        for qid in range(3):
            qv = mat[ids == qid][0]
            sims = mat @ qv
            sims[ids == qid] = -2
            order = np.lexsort((ids, -sims))[:TOPK]
            for rk, idx in enumerate(order, start=1):
                assert got[(qid, rk)] == ids[idx]


class TestMultimodal:
    def test_frame_sampling_counts(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            FRAME_BYTES,
            FRAME_SAMPLE_STEP,
            attach_payload,
            sample_frames,
        )

        docs = t(spark, sf_dir, "documents").limit(50)
        mm = attach_payload(docs)
        frames = sample_frames(mm).groupBy("doc_id").count().collect()
        sizes = {r["doc_id"]: r["n"] for r in mm.select(
            "doc_id", F.length("payload").alias("n")).collect()}
        for r in frames:
            n_frames = -(-sizes[r["doc_id"]] // FRAME_BYTES)
            expected = -(-n_frames // FRAME_SAMPLE_STEP)
            assert r["count"] == expected


class TestCuration:
    def test_split_is_stable_and_content_free(self, spark, docs):
        """A doc's split never changes when the corpus around it does —
        the reprocessing/backfill guarantee."""
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            assign_split,
        )

        full = {
            r["doc_id"]: r["split"]
            for r in assign_split(docs).select("doc_id", "split").collect()
        }
        subset = {
            r["doc_id"]: r["split"]
            for r in assign_split(docs.where(F.col("doc_id") % 7 == 0))
            .select("doc_id", "split")
            .collect()
        }
        assert subset == {k: v for k, v in full.items() if k % 7 == 0}
        fracs = {s: sum(1 for v in full.values() if v == s) for s in ("train", "val", "test")}
        assert fracs["train"] > fracs["val"] and fracs["train"] > fracs["test"]

    def test_upsample_multiplicity(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            upsample_by_weight,
        )

        df = spark.createDataFrame([(1, 1), (2, 3), (3, 2)], "id long, w int")
        out = upsample_by_weight(df, F.col("w")).groupBy("id").count().collect()
        assert {r["id"]: r["count"] for r in out} == {1: 1, 2: 3, 3: 2}

    def test_pack_bins_contiguous_from_zero(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            pack_bins,
        )

        df = spark.createDataFrame(
            [("a", i, 100) for i in range(10)] + [("b", 0, 950), ("b", 1, 100)],
            "src string, i long, tok long",
        )
        out = pack_bins(df, "src", "i", "tok", 256).collect()
        by_src: dict = {}
        for r in out:
            by_src.setdefault(r["src"], []).append((r["i"], r["bin"]))
        for src, rows in by_src.items():
            rows.sort()
            bins = [b for _, b in rows]
            assert bins[0] == 0  # first doc starts bin 0
            assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))  # monotone
        # oversized doc ("b", 950 tokens) occupies bins alone; next doc
        # starts after its spillover: floor(950/256) = bin 3
        assert dict(by_src["b"])[1] == 3


class TestConnectedComponents:
    def test_known_graph(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            connected_components,
        )

        # two chains and one isolate-pair: {1-2-3-4}, {10-11}, {20-21}
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "da long, db long"
        )
        got = {
            r["id"]: r["rep"] for r in connected_components(edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    def test_chain_needs_multiple_rounds(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            connected_components,
        )

        # a 9-node path: min label must propagate the whole diameter
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "da long, db long"
        )
        got = {r["id"]: r["rep"] for r in connected_components(edges).collect()}
        assert set(got.values()) == {0} and len(got) == 9


class TestConnectedComponentsStar:
    """Large-star/small-star upgrade path (VERDICT r04 item 7): must agree
    with min-label propagation everywhere and converge on DEEP graphs in
    O(log n) rounds where label-prop's O(diameter) would not."""

    def test_long_chain_converges_in_log_rounds(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            connected_components_star,
        )

        # 100-node path: diameter 99. max_iter=10 > log2(100) rounds is
        # plenty for the star algorithm; min-label would need ~99 rounds.
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(99)], "da long, db long"
        )
        got = {
            r["id"]: r["rep"]
            for r in connected_components_star(edges, max_iter=10).collect()
        }
        assert len(got) == 100 and set(got.values()) == {0}

    def test_matches_min_label_on_random_graphs(self, spark):
        import random

        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        rng = random.Random(99)
        for trial in range(3):
            n = 60
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 10 * trial)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            df = spark.createDataFrame(edges, "da long, db long")
            ml = {r["id"]: r["rep"] for r in connected_components(df).collect()}
            st = {
                r["id"]: r["rep"]
                for r in connected_components_star(df).collect()
            }
            assert st == ml, f"trial {trial}"

    def test_star_and_isolated_pair_topologies(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            connected_components_star,
        )

        # hub-and-spoke around 50 plus a detached pair — exercises both
        # star rounds' self-attach and the left-join self-rep fallback
        edges = spark.createDataFrame(
            [(50, i) for i in range(51, 60)] + [(5, 50), (70, 71)],
            "da long, db long",
        )
        got = {
            r["id"]: r["rep"]
            for r in connected_components_star(edges).collect()
        }
        assert got[70] == 70 and got[71] == 70
        assert all(got[i] == 5 for i in [5, 50] + list(range(51, 60)))


class TestSubstringSpanDedup:
    def test_known_shared_span(self, spark):
        """Two docs sharing an exact 16-token run must both report it; a
        disjoint doc must not appear."""
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            substring_dup_spans,
        )

        span = " ".join(f"s{i}" for i in range(16))
        docs = spark.createDataFrame(
            [
                (0, span + " tail0 tail1"),
                (1, "head0 " + span),
                (2, " ".join(f"u{i}" for i in range(20))),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
            for r in substring_dup_spans(docs).collect()
        }
        assert set(got) == {0, 1}
        # doc0: 18 tokens -> 3 windows, exactly 1 (the span at pos 0) shared
        assert got[0] == (3, 1)
        # doc1: 17 tokens -> 2 windows, the span at pos 1 shared
        assert got[1] == (2, 1)

    def test_short_docs_do_not_break_the_plan(self, spark):
        """Docs under K tokens must be ignored without a slice() runtime
        error (the inferred-filter-from-explode hazard)."""
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            substring_dup_spans,
        )

        docs = spark.createDataFrame(
            [(0, "tiny doc"), (1, "also small")], "doc_id long, text string"
        )
        assert substring_dup_spans(docs).count() == 0


class TestJsonlRoundtrip:
    def test_lossless_on_hostile_strings(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.jsonl import (
            read_jsonl,
            write_jsonl,
        )

        rows = [
            (1, 'quote " backslash \\ tab\tnewline\nend'),
            (2, "unicode: naïve – 中文 🚀"),
            (3, ""),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        path = str(tmp_path / "jl")
        write_jsonl(df, path, shards=1)
        back = read_jsonl(spark, path, df.schema)
        assert sorted(
            (r["id"], r["text"]) for r in back.collect()
        ) == sorted(rows)


class TestRetentionPrune:
    def test_unlinks_only_expired_partitions(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            prune_partitions_before,
        )

        df = spark.createDataFrame(
            [(1, "2024-01-05"), (2, "2024-01-08"), (3, "2024-01-20")],
            "id long, dt string",
        ).withColumn("dt", F.col("dt").cast("date"))
        base = str(tmp_path / "tbl")
        df.write.partitionBy("dt").parquet(base)

        dropped = prune_partitions_before(base, "2024-01-08")
        assert dropped == ["dt=2024-01-05"]
        kept = sorted(r["id"] for r in spark.read.parquet(base).collect())
        assert kept == [2, 3]  # cutoff day itself survives (>= semantics)

    def test_null_partition_is_kept_unless_opted_in(self, tmp_path):
        # dt=__HIVE_DEFAULT_PARTITION__ (NULL keys) is not a date: the
        # lexicographic day comparison must never expire it implicitly
        # (ADVICE r05 item 3); dropping it is an explicit policy flag.
        import os

        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            HIVE_DEFAULT_PARTITION,
            prune_partitions_before,
        )

        base = tmp_path / "tbl"
        for d in ("dt=2024-01-05", f"dt={HIVE_DEFAULT_PARTITION}", "dt=2024-01-20"):
            (base / d).mkdir(parents=True)
        dropped = prune_partitions_before(str(base), "2024-01-08")
        assert dropped == ["dt=2024-01-05"]
        assert sorted(os.listdir(base)) == [
            "dt=2024-01-20",
            f"dt={HIVE_DEFAULT_PARTITION}",
        ]
        dropped = prune_partitions_before(
            str(base), "2024-01-08", drop_null_partition=True
        )
        assert dropped == [f"dt={HIVE_DEFAULT_PARTITION}"]


class TestCompactionSelfSizing:
    def test_target_files_from_byte_listing(self, tmp_path):
        # ceil(total parquet bytes / target) from the listing, never 0;
        # non-parquet files (_SUCCESS, CRCs) excluded (VERDICT r05 item 6).
        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            sized_target_files,
        )

        d = tmp_path / "in"
        d.mkdir()
        for i, size in enumerate((600, 600, 300)):
            (d / f"part-{i}.parquet").write_bytes(b"x" * size)
        (d / "_SUCCESS").write_bytes(b"y" * 10_000)  # must not count
        assert sized_target_files(str(d), target_bytes=1000) == 2  # ceil(1500/1000)
        assert sized_target_files(str(d), target_bytes=10_000) == 1
        (d / "part-0.parquet").unlink()
        (d / "part-1.parquet").unlink()
        (d / "part-2.parquet").unlink()
        assert sized_target_files(str(d), target_bytes=1000) == 1  # never 0

    def test_compact_defaults_to_self_sizing(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            compact_parquet,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        spark.range(1000).repartition(8).write.parquet(src)
        compact_parquet(spark, src, out)  # tiny input -> self-sizes to 1 file
        files = [f for f in __import__("os").listdir(out) if f.endswith(".parquet")]
        assert len(files) == 1
        assert spark.read.parquet(out).count() == 1000


class TestScd2Build:
    def test_intervals_chain_and_current_is_open(self, spark):
        import datetime as dt

        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            scd2_build,
        )

        chg = spark.createDataFrame(
            [
                (1, 10.0, dt.datetime(2024, 1, 1)),
                (1, 20.0, dt.datetime(2024, 1, 5)),
                (1, 30.0, dt.datetime(2024, 1, 9)),
                (2, 99.0, dt.datetime(2024, 1, 3)),
            ],
            "user_id long, value double, ts timestamp",
        )
        rows = sorted(
            scd2_build(chg, "user_id", "ts", ["value"]).collect(),
            key=lambda r: (r["user_id"], r["valid_from"]),
        )
        u1 = [r for r in rows if r["user_id"] == 1]
        # intervals chain: each valid_to equals the next valid_from
        assert [r["valid_to"] for r in u1[:-1]] == [r["valid_from"] for r in u1[1:]]
        # exactly one open version per key
        assert [r["valid_to"] is None for r in u1] == [False, False, True]
        u2 = [r for r in rows if r["user_id"] == 2]
        assert len(u2) == 1 and u2[0]["valid_to"] is None

    def test_same_timestamp_changes_tiebreak_deterministically(self, spark):
        # two change rows at the SAME (key, ts): tiebreak_cols pins the
        # lead() order so the interval chain is deterministic rather than
        # engine/partitioning-dependent (ADVICE r05 item 2)
        import datetime as dt

        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            scd2_build,
        )

        t0 = dt.datetime(2024, 1, 1)
        t1 = dt.datetime(2024, 1, 5)
        chg = spark.createDataFrame(
            [(2, 1, 10.0, t0), (1, 1, 5.0, t0), (3, 1, 30.0, t1)],
            "seq long, user_id long, value double, ts timestamp",
        )
        rows = sorted(
            scd2_build(
                chg, "user_id", "ts", ["seq", "value"], tiebreak_cols=["seq"]
            ).collect(),
            key=lambda r: (r["valid_from"], r["seq"]),
        )
        # seq order breaks the t0 tie: 1 -> 2 -> 3
        assert [r["seq"] for r in rows] == [1, 2, 3]
        assert rows[0]["valid_to"] == t0  # zero-length interval, still chained
        assert rows[1]["valid_to"] == t1
        assert rows[2]["valid_to"] is None


class TestJsonlCorruptRecords:
    def test_permissive_capture(self, spark, tmp_path):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        p = tmp_path / "in.jsonl"
        p.write_text('{"id": 1, "text": "ok"}\nnot json at all\n{"id": 2, "text": "also ok"}\n')
        schema = StructType(
            [
                StructField("id", LongType()),
                StructField("text", StringType()),
                StructField("_corrupt_record", StringType()),
            ]
        )
        rows = spark.read.schema(schema).json(str(tmp_path)).collect()
        good = sorted(r["id"] for r in rows if r["_corrupt_record"] is None)
        bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
        assert good == [1, 2]
        assert bad == ["not json at all"]  # captured, not job-fatal


class TestCsvRoundtrip:
    def test_lossless_on_hostile_strings(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.jsonl import (
            read_csv,
            write_csv,
        )

        rows = [
            (1, 'comma, quote " and ""double"" quotes'),
            (2, "newline\ninside and unicode 中文"),
            (3, ""),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        path = str(tmp_path / "c")
        write_csv(df, path, shards=1)
        back = read_csv(spark, path, df.schema)
        got = sorted((r["id"], r["text"]) for r in back.collect())
        # CSV cannot distinguish empty string from NULL (both unquoted
        # empty field by default) — the one documented lossy corner
        want = sorted([(1, rows[0][1]), (2, rows[1][1]), (3, None), (4, None)])
        assert got == want


class TestBigramLm:
    def test_transitions_and_laplace_nll(self, spark):
        import math

        from spark_sql_custom_mq_datasource_spark.operators.lm import (
            LM_BUCKETS,
            Q20,
            score_perplexity,
            transition_hashes,
        )

        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "x")],  # doc 3: too short
            "doc_id long, text string",
        )
        trans = transition_hashes(docs).collect()
        # doc1: (a,b)(b,a)(a,b) = 3 transitions; doc2: (a,b)(b,c) = 2
        per_doc = {}
        for r in trans:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert {d: len(v) for d, v in per_doc.items()} == {1: 3, 2: 2}
        assert all(r["n_trans"] == len(per_doc[r["doc_id"]]) for r in trans)

        # hand-check doc 2's NLL: corpus counts C1[a]=3 C1[b]=2, C2[ab]=3
        # C2[bc]=1 (no bucket collisions at this size w.h.p.)
        out = {r["doc_id"]: r for r in score_perplexity(docs).collect()}
        q_ab = math.floor(-math.log((3 + 1.0) / (3 + LM_BUCKETS)) * Q20 + 0.5)
        q_bc = math.floor(-math.log((1 + 1.0) / (2 + LM_BUCKETS)) * Q20 + 0.5)
        assert out[2]["nll_q20"] == q_ab + q_bc
        assert abs(out[2]["avg_nll"] - (q_ab + q_bc) / Q20 / 2) < 1e-12
        assert 3 not in out  # sub-2-token docs are out of scope

    def test_rarer_transitions_score_higher(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.lm import (
            score_perplexity,
        )

        # doc 1 repeats the corpus-dominant transition; doc 2 is one-off
        docs = spark.createDataFrame(
            [(1, "a b a b a b a b"), (2, "q r s t"), (3, "a b a b")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["avg_nll"] for r in score_perplexity(docs).collect()}
        assert out[2] > out[1]


class TestBottomKSample:
    def test_deterministic_per_group_cap(self, spark):
        import hashlib

        from spark_sql_custom_mq_datasource_spark.operators.lm import (
            q_sample_per_source_bottomk,
        )
        from spark_sql_custom_mq_datasource_spark.operators.lm import SAMPLE_K

        rows = q_sample_per_source_bottomk(
            spark, "/root/testdata/sf0.001"
        ).collect()
        by_src = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(r)
        assert by_src  # fixture has sources
        for src, rs in by_src.items():
            assert len(rs) <= SAMPLE_K
            assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
            # hash-ranked: rank order == md5 order (reproducible sample)
            hashes = [hashlib.md5(str(r["doc_id"]).encode()).hexdigest() for r in rs]
            assert hashes == sorted(hashes)


class TestIncrementalMvMerge:
    def test_only_affected_partitions_rewritten(self, spark, tmp_path):
        import os

        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            build_daily_mv,
            merge_daily_mv,
        )

        ev = spark.createDataFrame(
            [
                (1, "a", "2024-01-01 10:00:00", 1.0),
                (2, "a", "2024-01-02 10:00:00", 2.0),
                (3, "b", "2024-01-02 11:00:00", 3.0),
            ],
            "event_id long, event_type string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        path = str(tmp_path / "mv")
        build_daily_mv(ev, path)

        def files_in(day):
            d = os.path.join(path, f"day={day}")
            return {
                f: os.stat(os.path.join(d, f)).st_mtime_ns
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        before_d1 = files_in("2024-01-01")
        batch = spark.createDataFrame(
            [(4, "a", "2024-01-02 12:00:00", 10.0)],
            "event_id long, event_type string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        days = merge_daily_mv(spark, path, batch)
        assert [str(d) for d in days] == ["2024-01-02"]
        # untouched partition: same files, same mtimes (no rewrite)
        assert files_in("2024-01-01") == before_d1

        got = {
            (str(r["day"]), r["event_type"]): (r["n_events"], float(r["value_sum"]))
            for r in spark.read.parquet(path).collect()
        }
        assert got == {
            ("2024-01-01", "a"): (1, 1.0),
            ("2024-01-02", "a"): (2, 12.0),  # merged partials == recompute
            ("2024-01-02", "b"): (1, 3.0),
        }

    def test_merge_creates_brand_new_day(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            build_daily_mv,
            merge_daily_mv,
        )

        ev = spark.createDataFrame(
            [(1, "a", "2024-01-01 10:00:00", 1.0)],
            "event_id long, event_type string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        path = str(tmp_path / "mv")
        build_daily_mv(ev, path)
        batch = spark.createDataFrame(
            [(2, "a", "2024-01-09 10:00:00", 5.0)],
            "event_id long, event_type string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        merge_daily_mv(spark, path, batch)
        rows = {
            str(r["day"]): r["n_events"]
            for r in spark.read.parquet(path).collect()
        }
        assert rows == {"2024-01-01": 1, "2024-01-09": 1}


class TestSemanticKmeans:
    def test_separable_clusters_recovered(self, spark):
        # three tight groups along distinct axes; spherical k-means with
        # k=3 must put each group in its own cluster
        import random

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            semantic_kmeans,
        )

        rng = random.Random(7)
        rows = []
        for g in range(3):
            for i in range(10):
                v = [0.01 * rng.random() for _ in range(64)]
                v[g * 20] = 1.0  # dominant axis per group
                rows.append((g * 10 + i, v))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_kmeans(spark, emb, k=3, iters=2).collect()
        by_group = {}
        for r in out:
            by_group.setdefault(r["vec_id"] // 10, set()).add(r["cid"])
        # each group lands wholly in one cluster, all groups distinct
        assert all(len(cids) == 1 for cids in by_group.values())
        assert len({next(iter(c)) for c in by_group.values()}) == 3

    def test_assignment_deterministic(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            semantic_kmeans,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import tp

        emb = tp(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        a = sorted(
            (r["vec_id"], r["cid"]) for r in semantic_kmeans(spark, emb).collect()
        )
        b = sorted(
            (r["vec_id"], r["cid"]) for r in semantic_kmeans(spark, emb).collect()
        )
        assert a == b and len(a) > 0


class TestZOrderLayout:
    def test_zvalue_interleaves_bits(self, spark):
        from spark_sql_custom_mq_datasource_spark.sources.bucketing import z_value

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (3, 5)], "x long, y long"
        ).select("x", "y", z_value(F.col("x"), F.col("y")).alias("z"))
        got = {(r["x"], r["y"]): r["z"] for r in df.collect()}

        def ref(x, y):
            z = 0
            for i in range(16):
                z |= ((x >> i) & 1) << (2 * i)
                z |= ((y >> i) & 1) << (2 * i + 1)
            return z

        assert got == {(x, y): ref(x, y) for (x, y) in got}

    def test_zorder_layout_skips_row_groups(self, spark, tmp_path):
        # the point of the layout: a (user-range x day-range) box query can
        # skip most row groups under z-order, none under a random layout —
        # measured from the actual parquet footers, not assumed
        import glob

        import pyarrow.parquet as pq

        from spark_sql_custom_mq_datasource_spark.plans.util import t
        from spark_sql_custom_mq_datasource_spark.sources.bucketing import (
            write_zordered,
        )

        ev = t(spark, "/root/testdata/sf0.01", "events").withColumn(
            "day",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast(
                "bigint"
            ),
        )

        def skip_ratio(path):
            total = skip = 0
            for f in glob.glob(path + "/*.parquet"):
                md = pq.ParquetFile(f).metadata
                cols = {
                    md.row_group(0).column(c).path_in_schema: c
                    for c in range(md.num_columns)
                }
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    u = g.column(cols["user_id"]).statistics
                    d = g.column(cols["day"]).statistics
                    total += 1
                    overlaps = (
                        u.min <= 19 and u.max >= 10 and d.min <= 18 and d.max >= 9
                    )
                    if not overlaps:
                        skip += 1
            return skip / total, total

        zpath = str(tmp_path / "z")
        rpath = str(tmp_path / "r")
        write_zordered(
            ev, zpath, F.col("user_id").cast("bigint"), F.col("day"), files=16
        )
        ev.repartition(16).write.parquet(rpath)

        z_ratio, z_total = skip_ratio(zpath)
        r_ratio, r_total = skip_ratio(rpath)
        assert z_total >= 16 and r_total >= 16
        assert z_ratio >= 0.5, f"z-order skip ratio too low: {z_ratio}"
        assert r_ratio <= 0.25, f"random layout should not skip: {r_ratio}"


class TestManifestTable:
    def _mk(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            write_snapshot,
        )

        ev = spark.createDataFrame(
            [(i, f"2024-01-{(i % 3) + 1:02d}") for i in range(30)],
            "id long, dt string",
        )
        table = str(tmp_path / "tbl")
        v0 = write_snapshot(ev, table, "dt")
        assert v0 == 0
        return table

    def test_prune_is_metadata_only_and_time_travel_works(self, spark, tmp_path):
        import glob

        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            prune_snapshot_before,
            read_snapshot,
        )

        table = self._mk(spark, tmp_path)
        files_before = set(glob.glob(table + "/data/**/*.parquet", recursive=True))
        v1 = prune_snapshot_before(table, "2024-01-02")
        # commit deleted NOTHING — old-snapshot readers unaffected
        assert set(glob.glob(table + "/data/**/*.parquet", recursive=True)) == (
            files_before
        )
        assert read_snapshot(spark, table, v1).count() == 20  # 2 of 3 days
        assert read_snapshot(spark, table, 0).count() == 30  # time travel

    def test_gc_removes_only_unreferenced_files(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            gc_snapshots,
            prune_snapshot_before,
            read_snapshot,
        )

        table = self._mk(spark, tmp_path)
        v1 = prune_snapshot_before(table, "2024-01-02")
        deleted = gc_snapshots(table, keep_versions=1)  # only v1 retained
        assert deleted, "the expired day's files must be collected"
        # current snapshot fully readable after GC
        assert read_snapshot(spark, table, v1).count() == 20
        # every deleted file belonged to the expired partition
        assert all("dt=2024-01-01" in p for p in deleted)

    def test_crash_before_pointer_swap_leaves_old_snapshot(self, spark, tmp_path):
        import json
        import os

        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            current_version,
            read_snapshot,
        )

        table = self._mk(spark, tmp_path)
        # simulate a crash AFTER the new manifest is written but BEFORE the
        # pointer swap: drop a v1 manifest file without touching _VERSION
        with open(os.path.join(table, "_manifests", "v1.json"), "w") as f:
            json.dump({"version": 1, "partition_col": "dt", "files": []}, f)
        assert current_version(table) == 0  # pointer untouched
        assert read_snapshot(spark, table).count() == 30  # old snapshot intact


class TestManifestStatsSkip:
    def test_file_cut_proportional_to_selectivity(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.plans.util import t
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            read_snapshot_range,
            write_snapshot_clustered,
        )

        ev = t(spark, "/root/testdata/sf0.01", "events")
        table = str(tmp_path / "tbl")
        write_snapshot_clustered(ev, table, "user_id", files=8)
        df, hit, total = read_snapshot_range(spark, table, 10, 19)
        assert total >= 8
        # range clustering => a narrow user range touches few files; the
        # cut happens DRIVER-SIDE from the manifest, before Spark plans
        assert hit <= max(2, total // 4), (hit, total)
        # stats pruning is a superset cut: exact filter still required,
        # and re-applying it yields the full correct row set
        n = df.where(F.col("user_id").between(10, 19)).count()
        full = ev.where(F.col("user_id").between(10, 19)).count()
        assert n == full > 0


class TestManifestRowDeletes:
    def test_mor_equals_cow_and_data_untouched(self, spark, tmp_path):
        import glob
        import os

        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            append_snapshot,
            apply_deletes,
            delete_rows,
            read_append_table_mor,
        )

        df = spark.createDataFrame(
            [(i, i % 5, f"v{i}") for i in range(50)], "id long, k long, s string"
        )
        table = str(tmp_path / "tbl")
        append_snapshot(df, table, batch_id=0)
        files = {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(table + "/data/**/*.parquet", recursive=True)
        }
        keys = spark.createDataFrame([(1,), (3,)], "k long")
        delete_rows(table, keys, "k")
        # merge-on-read: data files byte-untouched, rows gone at scan time
        assert {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(table + "/data/**/*.parquet", recursive=True)
        } == files
        mor = sorted(r["id"] for r in read_append_table_mor(spark, table).collect())
        assert mor == [i for i in range(50) if i % 5 not in (1, 3)]
        # copy-on-write materialization reads identically, tombstones gone
        apply_deletes(spark, table)
        cow = sorted(r["id"] for r in read_append_table_mor(spark, table).collect())
        assert cow == mor

    def test_idempotent_batch_redelivery(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            append_snapshot,
            read_append_table,
        )

        df = spark.createDataFrame([(1,), (2,)], "id long")
        table = str(tmp_path / "tbl")
        assert append_snapshot(df, table, batch_id=0) == 0
        assert append_snapshot(df, table, batch_id=0) is None  # replay no-op
        assert append_snapshot(df, table, batch_id=1) == 1
        assert read_append_table(spark, table).count() == 4


class TestManifestCompaction:
    def test_atomic_compaction_preserves_rows_and_old_snapshot(
        self, spark, tmp_path
    ):
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            append_snapshot,
            compact_append_table,
            read_append_table,
            read_manifest,
        )

        table = str(tmp_path / "tbl")
        for b in range(4):  # 4 micro-batches -> >= 4 file sets
            append_snapshot(
                spark.range(b * 10, b * 10 + 10).toDF("id"), table, batch_id=b
            )
        before = read_manifest(table)
        v = compact_append_table(spark, table, target_files=1)
        after = read_manifest(table, v)
        assert len(after["files"]) == 1 < len(before["files"])
        got = sorted(r["id"] for r in read_append_table(spark, table).collect())
        assert got == list(range(40))
        # pre-compaction snapshot still time-travel readable (atomic swap,
        # no deletes at commit)
        old = sorted(
            r["id"]
            for r in read_append_table(spark, table, before["version"]).collect()
        )
        assert old == got
        # batch-id ledger survives compaction: replay is still a no-op
        assert append_snapshot(spark.range(5).toDF("id"), table, 2) is None


class TestEmptyInputRobustness:
    """Operators must degrade to empty results on empty corpora — not
    divide by zero, not NPE, not collect-time crashes. (A 100 TB pipeline
    routinely hits empty partitions/slices.)"""

    def _empty_docs(self, spark):
        return spark.createDataFrame([], "doc_id long, text string")

    def test_dedup_families_empty(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            jaccard_pairs,
            minhash_dedup_pairs,
            simhash_pairs,
            substring_dup_spans,
        )

        docs = self._empty_docs(spark)
        for fn in (jaccard_pairs, minhash_dedup_pairs, simhash_pairs,
                   substring_dup_spans):
            assert fn(docs).collect() == []

    def test_lm_and_retrieval_empty(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.lm import (
            score_perplexity,
        )
        from spark_sql_custom_mq_datasource_spark.operators.retrieval import (
            bm25_topk,
        )

        docs = self._empty_docs(spark)
        assert score_perplexity(docs).collect() == []
        queries = spark.createDataFrame([(0, "spark join")], "qid int, qtext string")
        assert bm25_topk(docs, queries).collect() == []

    def test_kmeans_empty_degrades_to_empty(self, spark):
        # no vectors -> no seeds -> no assignments: empty-in/empty-out,
        # same degrade contract as the other operator families
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            semantic_kmeans,
        )

        emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
        assert semantic_kmeans(spark, emb).collect() == []

    def test_funnel_and_mv_empty(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            build_daily_mv,
            merge_daily_mv,
        )

        ev = spark.createDataFrame(
            [], "event_id long, event_type string, ts timestamp, value double"
        )
        path = str(tmp_path / "mv")
        build_daily_mv(ev, path)
        assert merge_daily_mv(spark, path, ev) == []  # empty batch: no-op


class TestWeightedSampling:
    def test_sample_biased_toward_heavier_docs(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.lm import (
            q_sample_weighted_per_source,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        sf = "/root/testdata/sf0.001"
        docs = t(spark, sf, "documents").select(
            "doc_id", F.size(F.split(F.trim("text"), " ")).alias("wt")
        )
        wts = {r["doc_id"]: r["wt"] for r in docs.collect()}
        sampled = [r["doc_id"] for r in q_sample_weighted_per_source(spark, sf).collect()]
        corpus_mean = sum(wts.values()) / len(wts)
        sample_mean = sum(wts[d] for d in sampled) / len(sampled)
        # probability-proportional-to-size: the sample mean weight must
        # exceed the corpus mean (aggregated over all sources — ample
        # signal at 200 draws from 500 docs)
        assert sample_mean > corpus_mean

    def test_sample_stable_under_appends(self, spark):
        # a doc OUTSIDE the winning set joining the corpus must not change
        # the existing winners (the reprocessing/append guarantee)
        from spark_sql_custom_mq_datasource_spark.operators.lm import (
            WSAMPLE_K,
            _uniform_from_id,
        )
        from pyspark.sql.window import Window

        base = spark.createDataFrame(
            [(i, "s", " ".join(["w"] * 20)) for i in range(40)],
            "doc_id long, source string, text string",
        )

        def draw(df):
            wt = F.size(F.split(F.trim("text"), " ")).cast("double")
            keyed = df.select(
                "doc_id",
                "source",
                F.floor(
                    F.log(_uniform_from_id(F.col("doc_id"))) / wt * F.lit(1048576.0)
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("key_q20"),
            )
            w = Window.partitionBy("source").orderBy(F.desc("key_q20"), "doc_id")
            return {
                r["doc_id"]
                for r in keyed.withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") <= WSAMPLE_K)
                .collect()
            }

        first = draw(base)
        extra = spark.createDataFrame(
            [(999, "s", "tiny doc here x")], "doc_id long, source string, text string"
        )
        second = draw(base.unionByName(extra))
        # equal-weight base docs: the appended doc either wins a slot or
        # not, but every retained winner from the first draw keeps its key
        assert len(first) == len(second) == WSAMPLE_K
        assert len(first - second) <= 1  # at most one displaced


class TestSnapshotDiff:
    def test_file_short_circuit_without_deletes(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            append_snapshot,
            current_version,
            snapshot_diff,
        )

        table = str(tmp_path / "tbl")
        append_snapshot(spark.range(10).toDF("id"), table, 0)
        v0 = current_version(table)
        append_snapshot(spark.range(10, 15).toDF("id"), table, 1)
        v1 = current_version(table)
        rows = snapshot_diff(spark, table, v0, v1).collect()
        got = sorted((r["_change"], r["id"]) for r in rows)
        assert got == [("insert", i) for i in range(10, 15)]
        # identity diff is empty
        assert snapshot_diff(spark, table, v1, v1).collect() == []

    def test_diff_resolves_delete_vectors(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            append_snapshot,
            current_version,
            delete_rows,
            snapshot_diff,
        )

        table = str(tmp_path / "tbl")
        append_snapshot(spark.range(10).toDF("id"), table, 0)
        v0 = current_version(table)
        delete_rows(table, spark.range(3).toDF("id"), "id")
        v1 = current_version(table)
        rows = snapshot_diff(spark, table, v0, v1).collect()
        got = sorted((r["_change"], r["id"]) for r in rows)
        assert got == [("delete", i) for i in range(3)]


class TestPartitionEvolution:
    def test_pruning_per_generation_and_no_rewrite(self, spark, tmp_path):
        import glob
        import os

        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            append_partitioned,
            read_partitioned_pruned,
        )

        table = str(tmp_path / "tbl")
        gen1 = spark.createDataFrame(
            [(i, "a" if i % 2 else "b", f"2024-01-{(i % 3) + 1:02d}")
             for i in range(30)],
            "id long, kind string, day string",
        )
        append_partitioned(gen1, table, 0, ["day"])
        before = {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(table + "/data/**/*.parquet", recursive=True)
        }
        gen2 = spark.createDataFrame(
            [(100 + i, "a" if i % 2 else "b", f"2024-01-{(i % 3) + 1:02d}")
             for i in range(30)],
            "id long, kind string, day string",
        )
        append_partitioned(gen2, table, 1, ["day", "kind"])
        # spec change rewrote NOTHING
        after = {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(table + "/data/**/*.parquet", recursive=True)
        }
        assert all(after[f] == m for f, m in before.items())

        # a day filter prunes both generations
        df, hit, total = read_partitioned_pruned(spark, table, {"day": "2024-01-01"})
        assert hit < total
        got = sorted(r["id"] for r in df.where(F.col("day") == "2024-01-01").collect())
        want = sorted(
            [i for i in range(30) if i % 3 == 0]
            + [100 + i for i in range(30) if i % 3 == 0]
        )
        assert got == want

        # a (day, kind) filter additionally prunes generation-2 files but
        # CANNOT exclude generation-1 files (they lack the kind key) —
        # superset cut, exact filter re-applied
        df2, hit2, _ = read_partitioned_pruned(
            spark, table, {"day": "2024-01-01", "kind": "a"}
        )
        assert hit2 < hit
        got2 = sorted(
            r["id"]
            for r in df2.where(
                (F.col("day") == "2024-01-01") & (F.col("kind") == "a")
            ).collect()
        )
        assert got2 == [i for i in want if (i % 100) % 2 == 1]


class TestWorkDir:
    def test_clear_on_entry_and_fixed_path(self, tmp_path, monkeypatch):
        import os
        import tempfile as _tempfile

        from spark_sql_custom_mq_datasource_spark.plans.util import work_dir

        monkeypatch.setattr(_tempfile, "gettempdir", lambda: str(tmp_path))
        p1 = work_dir("unit_wd")
        open(os.path.join(p1, "leftover.txt"), "w").write("x")
        p2 = work_dir("unit_wd")
        assert p1 == p2  # fixed per-query path: no /tmp accumulation
        assert os.listdir(p2) == []  # cleared on entry


class TestCommitConcurrency:
    def test_conflicting_commit_raises_and_append_rebases(self, spark, tmp_path):
        import json
        import os

        import pytest as _pytest

        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            CommitConflict,
            _commit,
            append_snapshot,
            current_version,
            read_append_table,
            read_manifest,
        )

        table = str(tmp_path / "tbl")
        append_snapshot(spark.range(5).toDF("id"), table, 0)
        # simulate a concurrent writer that already claimed v1
        os.makedirs(os.path.join(table, "_manifests"), exist_ok=True)
        winner = dict(read_manifest(table))
        winner["version"] = 1
        winner["batches"] = winner.get("batches", []) + [99]
        with open(os.path.join(table, "_manifests", "v1.json"), "w") as f:
            json.dump(winner, f)
        # a raw commit against the stale base must CONFLICT, not clobber
        with _pytest.raises(CommitConflict):
            _commit(table, {"files": [], "batches": []}, 0)
        # ...but the winner's manifest only becomes current after ITS
        # pointer swap; finish the winner's commit by hand
        with open(os.path.join(table, "_VERSION"), "w") as f:
            f.write("1")
        # append_snapshot REBASES on the winner: the batch lands on v2
        # with both histories intact
        v = append_snapshot(spark.range(5, 8).toDF("id"), table, 1)
        assert v == 2 and current_version(table) == 2
        m = read_manifest(table)
        assert set(m["batches"]) == {0, 99, 1}
        assert read_append_table(spark, table).count() == 8

    def test_lost_update_window_detected(self, spark, tmp_path):
        """ADVICE r06 item 1: writer B FULLY commits (manifest + pointer
        swap) between writer A's read and A's commit. A's commit must
        CONFLICT — not silently build v2 from the stale v0 file list,
        vanishing B's files."""
        import pytest as _pytest

        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            CommitConflict,
            _commit,
            append_snapshot,
            read_manifest,
        )

        table = str(tmp_path / "tbl")
        append_snapshot(spark.range(5).toDF("id"), table, 0)
        a_view = read_manifest(table)  # A reads v0...
        # ...then B fully commits v1 (pointer swapped and all)
        append_snapshot(spark.range(5, 9).toDF("id"), table, 1)
        # A commits against the version it READ: must conflict
        with _pytest.raises(CommitConflict):
            _commit(
                table,
                {"files": a_view["files"], "batches": [2]},
                a_view["version"],
            )
        # B's history is intact
        assert set(read_manifest(table)["batches"]) == {0, 1}

    def test_threaded_append_race_loses_nothing(self, spark, tmp_path):
        """Two writers racing append_snapshot from real threads: exactly
        one wins each CAS, the loser rebases, and BOTH batches' rows and
        ids survive — the pinned-base contract under true interleaving."""
        from concurrent.futures import ThreadPoolExecutor

        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            append_snapshot,
            current_version,
            read_append_table,
            read_manifest,
        )

        table = str(tmp_path / "tbl")
        append_snapshot(spark.range(10).toDF("id"), table, 0)

        def writer(k: int) -> int | None:
            return append_snapshot(
                spark.range(10 * k, 10 * k + 10).toDF("id"), table, k
            )

        with ThreadPoolExecutor(max_workers=4) as ex:
            versions = list(ex.map(writer, range(1, 5)))
        assert all(v is not None for v in versions)
        assert current_version(table) == 4  # v0 + 4 appends
        m = read_manifest(table)
        assert set(m["batches"]) == {0, 1, 2, 3, 4}
        assert read_append_table(spark, table).count() == 50
        # redelivery of any batch id is a no-op
        assert append_snapshot(spark.range(3).toDF("id"), table, 2) is None
        assert read_append_table(spark, table).count() == 50


class TestVocabCoverage:
    def test_rank_coverage_law(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_vocab_coverage,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # corpus tokens: a:2, b:2, c:1 (total 5). Rank order is cnt DESC,
        # token ASC -> a, b, c; cumulative coverage 2/5, 4/5, 5/5.
        d = spark.createDataFrame(
            [(1, "a a b"), (2, "b c")], "doc_id long, text string"
        )
        sf_dir = str(tmp_path)
        d.write.parquet(f"{sf_dir}/documents.parquet")
        _cache.clear()
        rows = [
            (r["rank"], r["token"], r["cnt"], r["cum_cov_q20"])
            for r in q_vocab_coverage(spark, sf_dir).collect()
        ]
        _cache.clear()
        q20 = 1 << 20
        assert rows == [
            (1, "a", 2, int(2 * q20 / 5 + 0.5)),
            (2, "b", 2, int(4 * q20 / 5 + 0.5)),
            (3, "c", 1, q20),
        ]
        # last prefix always covers everything
        assert rows[-1][3] == q20


class TestCrossSourceMatrix:
    def test_pair_counts(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            q_dedup_cross_source_matrix,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # text "dup" appears 2x in s1 and 1x in s2 -> (s1,s2): 1 shared
        # text, 2*1 cross pairs; "x" is unique to s1 (no row); "y" shared
        # by s2/s3 once each -> (s2,s3): 1 text, 1 pair.
        d = spark.createDataFrame(
            [
                (1, "dup", "s1"), (2, "dup", "s1"), (3, "dup", "s2"),
                (4, "x", "s1"), (5, "y", "s2"), (6, "y", "s3"),
            ],
            "doc_id long, text string, source string",
        )
        sf_dir = str(tmp_path)
        d.write.parquet(f"{sf_dir}/documents.parquet")
        _cache.clear()
        got = {
            (r["source_a"], r["source_b"]): (r["n_shared_texts"], r["n_cross_pairs"])
            for r in q_dedup_cross_source_matrix(spark, sf_dir).collect()
        }
        _cache.clear()
        assert got == {("s1", "s2"): (1, 2), ("s2", "s3"): (1, 1)}


class TestRepetitionScores:
    def test_known_repetition(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_text_repetition_scores,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # doc 1: "a a a a" -> 2-grams [aa, aa, aa]: tot=3, mx=3, dup=3
        #   top_q20 = floor(3/3*2^20+.5) = 2^20; dup_q20 = 2^20; flagged
        # doc 2: 7 distinct words -> 6 distinct grams: mx=1, dup=0
        #   top_q20 = floor(2^20/6+.5) = 174763 (<20%): not flagged
        d = spark.createDataFrame(
            [(1, "a a a a", "s1"), (2, "a b c d e f g", "s1")],
            "doc_id long, text string, source string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        rows = {r["source"]: r for r in q_text_repetition_scores(spark, sf).collect()}
        _cache.clear()
        r = rows["s1"]
        assert r["n_docs"] == 2
        assert r["top2_q20_sum"] == 1048576 + 174763
        assert r["dup2_q20_sum"] == 1048576
        assert r["n_flagged"] == 1

    def test_single_word_docs_excluded(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_text_repetition_scores,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        d = spark.createDataFrame(
            [(1, "solo", "s1"), (2, "x y", "s1")],
            "doc_id long, text string, source string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        rows = q_text_repetition_scores(spark, sf).collect()
        _cache.clear()
        assert rows[0]["n_docs"] == 1  # the 1-gram doc has no 2-grams


class TestSourceDivergence:
    def test_identical_distributions_zero_kl(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_source_divergence_kl,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # both sources have the exact same word distribution -> P_s == P_c
        # for every term -> every quantized contribution is floor(0.5)=0
        d = spark.createDataFrame(
            [(1, "a a b", "s1"), (2, "a a b", "s2")],
            "doc_id long, text string, source string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        rows = {r["source"]: r["kl_q20"] for r in q_source_divergence_kl(spark, sf).collect()}
        _cache.clear()
        assert rows == {"s1": 0, "s2": 0}

    def test_disjoint_source_diverges(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_source_divergence_kl,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        d = spark.createDataFrame(
            [(1, "a a a a", "s1"), (2, "b b b b", "s2")],
            "doc_id long, text string, source string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        rows = {r["source"]: r["kl_q20"] for r in q_source_divergence_kl(spark, sf).collect()}
        _cache.clear()
        # P_s(w)=1, P_c(w)=0.5 -> KL = ln 2 ≈ 0.693; Q20 ≈ 726817
        import math

        expect = math.floor(math.log(2.0) * 1048576 + 0.5)
        assert rows == {"s1": expect, "s2": expect}


class TestMixTemperature:
    def test_targets_apportion_exactly(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            q_mix_temperature,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        rows = [(i, "t", "big") for i in range(90)] + [
            (100 + i, "t", "small") for i in range(10)
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string, source string")
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        out = {r["source"]: r for r in q_mix_temperature(spark, sf).collect()}
        _cache.clear()
        # targets sum EXACTLY to the corpus size (largest remainder)
        assert sum(r["target_docs"] for r in out.values()) == 100
        # α=0.5 upweights the small source: its target share must exceed
        # its count share (10%) and the big source's must shrink below 90%
        assert out["small"]["target_docs"] > 10
        assert out["big"]["target_docs"] < 90
        # weights ∝ sqrt: 3:1 ratio -> small weight ≈ 25% of the mass
        assert abs(out["small"]["weight_q20"] / 1048576 - 0.25) < 0.01


class TestSplitLeakageFree:
    def test_dup_groups_never_straddle(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            q_split_leakage_free,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache, t

        # 40 dup groups of 3 members each (word-set-identical texts)
        rows = []
        for g in range(40):
            base = f"w{g} x{g} y{g}"
            rows += [
                (g * 3, base, "s"),
                (g * 3 + 1, base + f" x{g}", "s"),  # same word SET
                (g * 3 + 2, base, "s"),
            ]
        d = spark.createDataFrame(rows, "doc_id long, text string, source string")
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        out = {r["split"]: r for r in q_split_leakage_free(spark, sf).collect()}
        # every group is whole: each split's doc count is 3x its groups
        assert sum(r["n_docs"] for r in out.values()) == 120
        for r in out.values():
            assert r["n_docs"] == 3 * r["n_groups"]
        _cache.clear()


class TestEmbeddingDimStats:
    def test_exact_moments(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            q_embedding_dim_stats,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        d = spark.createDataFrame(
            [(0, [1.0, -0.5], 0), (1, [0.5, 0.25], 1)],
            "vec_id long, embedding array<float>, label int",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/embeddings.parquet")
        _cache.clear()
        rows = {r["dim"]: r for r in q_embedding_dim_stats(spark, sf).collect()}
        _cache.clear()
        q = 1 << 20
        assert rows[0]["n"] == 2
        assert rows[0]["sum_q20"] == q + q // 2  # 1.0 + 0.5
        assert rows[0]["min_q20"] == q // 2 and rows[0]["max_q20"] == q
        assert rows[0]["sumsq_q40"] == (1 << 40) + (1 << 40) // 4
        assert rows[1]["sum_q20"] == -q // 2 + q // 4
        assert rows[1]["min_q20"] == -q // 2


class TestHardNegativeMining:
    def test_nearest_other_label_wins(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            q_hard_negative_mining,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # anchor 0 (label 0) points +x; vec 1 (label 0) is its twin but
        # SAME label -> ineligible; vec 2 (label 1) at 45° is the hard
        # negative; vec 3 (label 1) is orthogonal (easier).
        d = spark.createDataFrame(
            [
                (0, [1.0, 0.0], 0),
                (1, [1.0, 0.01], 0),
                (2, [1.0, 1.0], 1),
                (3, [0.0, 1.0], 1),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/embeddings.parquet")
        _cache.clear()
        rows = q_hard_negative_mining(spark, sf).collect()
        _cache.clear()
        assert len(rows) == 1  # only vec 0 is an anchor (id % 50 == 0)
        assert rows[0]["anchor_id"] == 0 and rows[0]["negative_id"] == 2
        import math

        assert abs(rows[0]["cos_q20"] / 1048576 - math.sqrt(0.5)) < 1e-5


class TestHardNegativeSampled:
    def test_exact_dominates_ann_on_the_sample(self, spark, sf_dir):
        """The exact leg optimizes over a SUPERSET of the ANN leg's
        candidates (all other-label vectors vs the anchor's bucket
        occupants), so exact_cos_q20 >= ann_cos_q20 on every sampled
        anchor and hit == 1 exactly at equality; the sample is hard-capped
        at HARD_NEG_SAMPLE_N regardless of corpus size."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            HARD_NEG_SAMPLE_N,
            q_hard_negative_ann_sampled,
        )

        rows = q_hard_negative_ann_sampled(spark, sf_dir).collect()
        assert 0 < len(rows) <= HARD_NEG_SAMPLE_N
        for r in rows:
            assert r["hit"] in (0, 1)
            if r["ann_cos_q20"] is not None:
                assert r["exact_cos_q20"] >= r["ann_cos_q20"]
                assert (r["hit"] == 1) == (
                    r["ann_cos_q20"] == r["exact_cos_q20"]
                )
            else:
                assert r["hit"] == 0


class TestHybridRRF:
    def test_both_rankers_beat_one(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.retrieval import RRF_K
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        rows = get_queries()["q_hybrid_rrf_topk"](spark, sf_dir).collect()
        assert rows, "fixture corpus must produce fused results"
        by_q = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        q20 = 1 << 20
        both_floor = int(2 * (1.0 / (RRF_K + 50)) * q20)  # worst dual-list
        single_cap = int((1.0 / (RRF_K + 1)) * q20 + 0.5)  # best single-list
        for qid, lst in by_q.items():
            # ranks are 1..k dense and scores non-increasing
            assert [r["rank"] for r in lst] == list(range(1, len(lst) + 1))
            scores = [r["rrf_q20"] for r in lst]
            assert scores == sorted(scores, reverse=True)
            # a doc in BOTH lists (score > best-possible single-list
            # score) must outrank every single-list doc; verify the
            # ordering property on the boundary when present
            dual = [s for s in scores if s > single_cap]
            single = [s for s in scores if s <= single_cap]
            if dual and single:
                assert min(dual) > max(single)


class TestCachedFixtureDir:
    def test_build_runs_once_and_spec_change_rebuilds(self, tmp_path, monkeypatch):
        import tempfile as _tf

        from spark_sql_custom_mq_datasource_spark.plans.util import (
            cached_fixture_dir,
        )

        monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
        calls = []

        def build(path):
            calls.append(path)
            open(f"{path}/data.txt", "w").write("x")

        p1 = cached_fixture_dir("unit_fix", "/sf/a", "v1", build)
        import os

        mtime = os.path.getmtime(f"{p1}/data.txt")
        p2 = cached_fixture_dir("unit_fix", "/sf/a", "v1", build)
        # second invocation reuses: no rebuild, file untouched
        assert p1 == p2 and len(calls) == 1
        assert os.path.getmtime(f"{p2}/data.txt") == mtime
        # spec change rebuilds; different sf_dir gets its own dir
        cached_fixture_dir("unit_fix", "/sf/a", "v2", build)
        assert len(calls) == 2
        p3 = cached_fixture_dir("unit_fix", "/sf/b", "v1", build)
        assert p3 != p1 and len(calls) == 3


class TestReplacePartitions:
    def test_atomic_dynamic_overwrite_with_ledger(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.sources.manifest import (
            read_manifest,
            read_snapshot,
            replace_partitions,
        )

        table = str(tmp_path / "tbl")
        d0 = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 10)], "p string, v int"
        )
        replace_partitions(d0, table, "p", batch_id=0)
        # replace partition a only; b's entries must carry over untouched
        m0 = read_manifest(table)
        b_files = {e["path"] for e in m0["files"] if e["p"] == "b"}
        d1 = spark.createDataFrame([("a", 99)], "p string, v int")
        replace_partitions(d1, table, "p", batch_id=1)
        m1 = read_manifest(table)
        assert {e["path"] for e in m1["files"] if e["p"] == "b"} == b_files
        rows = {
            (r["p"], r["v"]) for r in read_snapshot(spark, table).collect()
        }
        assert rows == {("a", 99), ("b", 10)}
        # ledger: redelivery is a no-op, version does not advance
        assert replace_partitions(d1, table, "p", batch_id=1) is None
        assert read_manifest(table)["version"] == m1["version"]
        # time travel: the pre-replacement snapshot still reads a=1,2
        old = {
            (r["p"], r["v"])
            for r in read_snapshot(spark, table, m0["version"]).collect()
        }
        assert old == {("a", 1), ("a", 2), ("b", 10)}


class TestEventsDebounce:
    def test_burst_semantics(self, spark, tmp_path):
        import datetime as dt

        from spark_sql_custom_mq_datasource_spark.plans.analytics import (
            q_events_debounce,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

        def ev(i, sec, typ="click", uid=1):
            return (i, t0 + dt.timedelta(seconds=sec), uid, typ, 1.0, "{}")

        # user 1 clicks at 0s, 100s, 250s (one burst: chained gaps<=300)
        # then 700s (new burst); user 2's single view is its own burst
        d = spark.createDataFrame(
            [ev(1, 0), ev(2, 100), ev(3, 250), ev(4, 700), ev(5, 0, "view", 2)],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/events.parquet")
        _cache.clear()
        out = {r["event_type"]: r for r in q_events_debounce(spark, sf).collect()}
        _cache.clear()
        assert out["click"]["n_kept"] == 2 and out["click"]["n_dropped"] == 2
        assert out["view"]["n_kept"] == 1 and out["view"]["n_dropped"] == 0


class TestAttributionLinear:
    def test_equal_split(self, spark, tmp_path):
        import datetime as dt

        from spark_sql_custom_mq_datasource_spark.plans.product_analytics import (
            q_attribution_linear,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

        def ev(i, hours, typ, uid=1):
            return (i, t0 + dt.timedelta(hours=hours), uid, typ, 1.0, "{}")

        # purchase at h=0 sees: click -1h, view -2h (in window), view -30h
        # (outside) -> n=2, each touch credited 2^19
        d = spark.createDataFrame(
            [
                ev(1, -30, "view"),
                ev(2, -2, "view"),
                ev(3, -1, "click"),
                ev(4, 0, "purchase"),
            ],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/events.parquet")
        _cache.clear()
        out = {r["event_type"]: r for r in q_attribution_linear(spark, sf).collect()}
        _cache.clear()
        assert out["click"]["n_touches"] == 1
        assert out["click"]["credit_q20_sum"] == 1 << 19
        assert out["view"]["n_touches"] == 1  # only the in-window view
        assert out["view"]["credit_q20_sum"] == 1 << 19


class TestTokenizerFertility:
    def test_ratios(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_tokenizer_fertility,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # "ab-cd ef" -> words=2; BPE-ish units: ab,-,cd,ef = 4; fertility 2.0
        d = spark.createDataFrame(
            [(1, "ab-cd ef", "xx", "s", 8)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        r = q_tokenizer_fertility(spark, sf).collect()[0]
        _cache.clear()
        assert r["word_sum"] == 2 and r["unit_sum"] == 4
        assert r["fertility_q20"] == 2 << 20
        assert r["chars_per_unit_q20"] == 2 << 20  # 8 chars / 4 units


class TestLangidConfusion:
    def test_shares_sum_per_label(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_langid_confusion,
        )

        rows = q_langid_confusion(spark, sf_dir).collect()
        assert rows
        by_label: dict = {}
        for r in rows:
            by_label.setdefault(r["labeled_lang"], []).append(r)
        q20 = 1 << 20
        for label, cells in by_label.items():
            # per-label doc counts are whole; Q20 shares of one label sum
            # to ~2^20 (rounding each cell independently)
            total = sum(c["n_docs"] for c in cells)
            assert total > 0
            share_sum = sum(c["label_share_q20"] for c in cells)
            assert abs(share_sum - q20) <= len(cells)


class TestDedupKeepLongest:
    def test_longest_member_survives(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            q_dedup_keep_longest,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # docs 1-3 share a word SET; doc 2 is the longest -> the survivor.
        # doc 4 is its own group.
        d = spark.createDataFrame(
            [
                (1, "a b c", "s1"),
                (2, "a b c a b", "s2"),
                (3, "c b a", "s1"),
                (4, "x y", "s1"),
            ],
            "doc_id long, text string, source string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        out = {r["source"]: r for r in q_dedup_keep_longest(spark, sf).collect()}
        _cache.clear()
        assert out["s2"]["n_survivors"] == 1 and out["s2"]["token_sum"] == 5
        assert out["s1"]["n_survivors"] == 1 and out["s1"]["token_sum"] == 2


class TestMultiprobeLsh:
    def test_multiprobe_recall_dominates_single_bucket(self, spark, sf_dir):
        """Multiprobe candidates are a superset of the single-bucket
        candidates (probe j=0 IS the query's own bucket), so per-query
        recall vs exact brute force must never drop — the property that
        makes multiprobe a pure recall knob."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            ann_recall_at_k,
            q_ann_bruteforce_topk,
            q_ann_lsh_multiprobe,
            q_ann_lsh_persisted,
        )

        exact = q_ann_bruteforce_topk(spark, sf_dir)
        single = {
            r["qid"]: r["recall"]
            for r in ann_recall_at_k(
                exact, q_ann_lsh_persisted(spark, sf_dir)
            ).collect()
        }
        multi = {
            r["qid"]: r["recall"]
            for r in ann_recall_at_k(
                exact, q_ann_lsh_multiprobe(spark, sf_dir)
            ).collect()
        }
        assert set(multi) == set(single)
        for qid in single:
            assert multi[qid] >= single[qid], (qid, single[qid], multi[qid])


class TestFixtureCacheIntegrity:
    def _patch_tmp(self, tmp_path, monkeypatch):
        import tempfile as _tf

        monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))

    def test_source_content_change_invalidates(self, tmp_path, monkeypatch):
        """ADVICE r07 item 3: regenerating the fixture in place at the
        SAME sf_dir must rebuild the derived directory."""
        import os

        from spark_sql_custom_mq_datasource_spark.plans.util import (
            cached_fixture_dir,
        )

        self._patch_tmp(tmp_path, monkeypatch)
        sf = tmp_path / "sf"
        sf.mkdir()
        src = sf / "documents.parquet"
        src.write_bytes(b"one")
        calls = []

        def build(path):
            calls.append(path)
            open(f"{path}/data.txt", "w").write("x")

        cached_fixture_dir("fp_fix", str(sf), "v1", build)
        cached_fixture_dir("fp_fix", str(sf), "v1", build)
        assert len(calls) == 1
        # in-place regeneration: same name, new content + mtime
        src.write_bytes(b"two-longer")
        os.utime(src, (src.stat().st_atime, src.stat().st_mtime + 5))
        cached_fixture_dir("fp_fix", str(sf), "v1", build)
        assert len(calls) == 2

    def test_failed_build_leaves_previous_fixture_intact(
        self, tmp_path, monkeypatch
    ):
        """The rename commit means a crashing rebuild can never expose a
        half-built directory: the old READY fixture stays readable."""
        import os
        import pytest

        from spark_sql_custom_mq_datasource_spark.plans.util import (
            cached_fixture_dir,
        )

        self._patch_tmp(tmp_path, monkeypatch)
        sf = tmp_path / "sf"
        sf.mkdir()
        (sf / "t.parquet").write_bytes(b"a")

        def good(path):
            open(f"{path}/data.txt", "w").write("good")

        p = cached_fixture_dir("atomic_fix", str(sf), "v1", good)
        assert open(f"{p}/data.txt").read() == "good"

        def bad(path):
            open(f"{path}/data.txt", "w").write("half")
            raise RuntimeError("builder crash")

        with pytest.raises(RuntimeError):
            cached_fixture_dir("atomic_fix", str(sf), "v2", bad)
        # the old committed fixture is untouched and still spec-v1
        assert open(f"{p}/data.txt").read() == "good"
        assert open(f"{p}/_READY").read().startswith("v1")
        # and a later good build with the new spec succeeds
        p2 = cached_fixture_dir("atomic_fix", str(sf), "v2", good)
        assert open(f"{p2}/data.txt").read() == "good"

    def test_concurrent_builders_one_winner(self, tmp_path, monkeypatch):
        """Two threads racing the same (name, sf_dir, spec) must both
        return a READY directory with the full spec — the loser reuses
        the winner's rename, never observes a partial dir."""
        import threading

        from spark_sql_custom_mq_datasource_spark.plans.util import (
            cached_fixture_dir,
        )

        self._patch_tmp(tmp_path, monkeypatch)
        sf = tmp_path / "sf"
        sf.mkdir()
        (sf / "t.parquet").write_bytes(b"a")
        barrier = threading.Barrier(2)
        results, errors = [], []

        def build(path):
            open(f"{path}/data.txt", "w").write("x")

        def worker():
            try:
                barrier.wait()
                results.append(
                    cached_fixture_dir("race_fix", str(sf), "v1", build)
                )
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        ts = [threading.Thread(target=worker) for _ in range(2)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert not errors
        assert len(set(results)) == 1
        p = results[0]
        assert open(f"{p}/data.txt").read() == "x"
        assert open(f"{p}/_READY").read().startswith("v1")


class TestSourceQuotaCap:
    def test_keeps_top_quality_per_source(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            QUOTA_PER_SOURCE,
            q_source_quota_cap,
        )

        rows = q_source_quota_cap(spark, sf_dir).collect()
        by_source: dict[str, list] = {}
        for r in rows:
            by_source.setdefault(r["source"], []).append(r)
        for src, members in by_source.items():
            assert len(members) <= QUOTA_PER_SOURCE, src
            ranks = [m["rk"] for m in members]
            assert ranks == list(range(1, len(members) + 1))
            # quality non-increasing down the rank order
            qs = [m["quality_q20"] for m in members]
            assert qs == sorted(qs, reverse=True)


class TestDedupThresholdSweep:
    def test_retention_monotone_in_threshold(self, spark, sf_dir):
        """A tighter threshold can only classify FEWER docs as dups, so
        n_surviving is non-decreasing as the threshold rises, and every
        row conserves total docs."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import get_queries

        rows = get_queries()["q_dedup_threshold_sweep"](spark, sf_dir).collect()
        assert [r["threshold"] for r in rows] == ["0.50", "0.70", "0.80", "0.90"]
        totals = {r["n_dup_docs"] + r["n_surviving"] for r in rows}
        assert len(totals) == 1
        surv = [r["n_surviving"] for r in rows]
        assert surv == sorted(surv)


class TestCentroidDrift:
    def test_identical_halves_have_unit_cosine(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            q_embedding_centroid_drift,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        # even and odd halves identical per label -> cos == 1 (Q20 exact);
        # label 1's halves orthogonal -> cos == 0
        d = spark.createDataFrame(
            [
                (0, [1.0, 0.0], 0),
                (1, [1.0, 0.0], 0),
                (2, [1.0, 0.0], 0),
                (3, [1.0, 0.0], 0),
                (10, [1.0, 0.0], 1),
                (11, [0.0, 1.0], 1),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/embeddings.parquet")
        _cache.clear()
        rows = {r["label"]: r for r in q_embedding_centroid_drift(spark, sf).collect()}
        _cache.clear()
        assert rows[0]["cos_q20"] == 1048576 and rows[0]["n_even"] == 2
        assert rows[1]["cos_q20"] == 0


class TestNormOutliers:
    def test_broken_vector_is_flagged(self, spark, tmp_path):
        """A zero-scaled vector among unit vectors must be the only
        outlier; a label whose vectors are all identical has zero
        variance and flags nothing (strict > on a zero RHS)."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            q_embedding_norm_outliers,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        rows = [(i, [1.0, 0.0], 0) for i in range(20)]
        rows.append((100, [0.01, 0.0], 0))  # broken: norm ~ 0
        rows += [(200 + i, [0.0, 2.0], 1) for i in range(5)]  # identical
        d = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/embeddings.parquet")
        _cache.clear()
        got = {
            r["label"]: r for r in q_embedding_norm_outliers(spark, sf).collect()
        }
        _cache.clear()
        assert got[0]["n_vectors"] == 21 and got[0]["n_outliers"] == 1
        assert got[1]["n_vectors"] == 5 and got[1]["n_outliers"] == 0

    def test_healthy_normalized_fixture_is_clean(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            q_embedding_norm_outliers,
        )

        rows = q_embedding_norm_outliers(spark, sf_dir).collect()
        # the fixture store is unit-normalized: the gate must report it
        # clean (min == max == Q20(1.0), zero outliers) — the monitoring
        # baseline a healthy vector store shows
        for r in rows:
            assert r["n_outliers"] == 0
            assert r["min_norm2_q20"] == r["max_norm2_q20"] == 1048576


class TestProfileTable:
    def test_nulls_distinct_and_bounds(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.profiling import (
            profile_table,
        )

        d = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "b")], "id long, s string"
        )
        got = {r["col_name"]: r for r in profile_table(d, ["id", "s"]).collect()}
        assert got["id"]["n_rows"] == 4 and got["id"]["n_nonnull"] == 4
        assert got["id"]["n_distinct"] == 4
        assert (got["id"]["min_val"], got["id"]["max_val"]) == ("1", "4")
        assert got["s"]["n_rows"] == 4 and got["s"]["n_nonnull"] == 3
        assert got["s"]["n_distinct"] == 2
        assert (got["s"]["min_val"], got["s"]["max_val"]) == ("a", "b")

    def test_approx_path_same_shape(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.profiling import (
            profile_table,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        docs = t(spark, sf_dir, "documents")
        exact = {
            r["col_name"]: r for r in profile_table(docs, ["doc_id"]).collect()
        }
        approx = {
            r["col_name"]: r
            for r in profile_table(docs, ["doc_id"], exact=False).collect()
        }
        e, a = exact["doc_id"], approx["doc_id"]
        assert (a["n_rows"], a["n_nonnull"]) == (e["n_rows"], e["n_nonnull"])
        assert (a["min_val"], a["max_val"]) == (e["min_val"], e["max_val"])
        # HLL NDV within its documented error envelope
        assert abs(a["n_distinct"] - e["n_distinct"]) <= 0.1 * e["n_distinct"]

    def test_single_scan_plan(self, spark, sf_dir):
        import re

        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )

        _load_all()
        df = QUERIES["q_profile_documents"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # ONE parquet scan feeds the unpivot — never a per-column scan loop
        assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1


class TestDistinctTwoStage:
    def test_matches_naive_distinct(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.joins import (
            distinct_count_two_stage,
        )

        d = spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2), ("b", 3)], "k string, u int"
        )
        got = {r["k"]: r for r in distinct_count_two_stage(d, "k", "u").collect()}
        assert got["a"]["n_distinct"] == 2 and got["a"]["n_rows"] == 3
        assert got["b"]["n_distinct"] == 1 and got["b"]["n_rows"] == 1


class TestCompactionPlan:
    def test_bins_respect_target_up_to_one_file(self, spark):
        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            compaction_plan,
        )

        files = spark.createDataFrame(
            [(f"f{i}", (i * 37 % 90) + 10) for i in range(200)],
            "name string, size_b long",
        )
        rows = compaction_plan(files, 256).collect()
        bins: dict[int, list[int]] = {}
        for r in rows:
            bins.setdefault(r["bin_id"], []).append(r["size_b"])
        # next-fit by exclusive running total: a bin exceeds the target
        # only by (part of) the single file straddling its boundary
        for sizes in bins.values():
            assert sum(sizes) - max(sizes) <= 256
        # bin ids are dense from 0
        assert sorted(bins) == list(range(len(bins)))

    def test_deterministic(self, spark):
        from spark_sql_custom_mq_datasource_spark.sources.maintenance import (
            compaction_plan,
        )

        files = spark.createDataFrame(
            [("x", 100), ("y", 100), ("z", 50)], "name string, size_b long"
        )
        a = [tuple(r) for r in compaction_plan(files, 128).orderBy("name").collect()]
        b = [tuple(r) for r in compaction_plan(files, 128).orderBy("name").collect()]
        assert a == b


class TestContainmentDedup:
    def test_short_in_long_found_jaccard_blind(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            _shingle_sets,
            containment_pairs_from_sets,
            jaccard_pairs,
        )

        words = [f"w{i}" for i in range(200)]
        short = " ".join(words[:12])          # 10 shingles, all inside long
        long_ = " ".join(words)               # 198 shingles
        other = " ".join(f"x{i}" for i in range(50))
        d = spark.createDataFrame(
            [(1, short), (2, long_), (3, other)], "doc_id long, text string"
        )
        pairs = containment_pairs_from_sets(_shingle_sets(d)).collect()
        got = {(r["da"], r["db"]): r for r in pairs}
        assert (1, 2) in got and got[(1, 2)]["containment"] == 1.0
        assert (2, 1) not in got  # asymmetric: long is not inside short
        # the symmetric family is blind to this pair by construction
        assert not jaccard_pairs(d).collect()

    def test_prefix_filter_lossless_vs_naive(self, spark):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            CONTAINMENT_THRESHOLD,
            _shingle_sets,
            containment_pairs_from_sets,
        )
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.plans.util import t as tt

        # fixture corpus: prefix-filtered candidates must reproduce the
        # naive all-pairs answer exactly
        docs = spark.createDataFrame(
            [
                (i, " ".join(f"t{(i * 7 + k) % 23}" for k in range(5 + i % 9)))
                for i in range(40)
            ],
            "doc_id long, text string",
        )
        sets = _shingle_sets(docs)
        fast = {
            (r["da"], r["db"]) for r in containment_pairs_from_sets(sets).collect()
        }
        a = sets.select(
            FF.col("doc_id").alias("da"),
            FF.col("hset").alias("sa"),
            FF.col("n").alias("na"),
        )
        b = sets.select(
            FF.col("doc_id").alias("db"), FF.col("hset").alias("sb")
        )
        naive = (
            a.crossJoin(b)
            .where(FF.col("da") != FF.col("db"))
            .withColumn(
                "c",
                FF.size(FF.array_intersect("sa", "sb")).cast("double")
                / FF.col("na"),
            )
            .where(FF.col("c") >= CONTAINMENT_THRESHOLD)
        )
        slow = {(r["da"], r["db"]) for r in naive.collect()}
        assert fast == slow


class TestRandomProjection:
    def test_sign_matrix_portable_and_pm1(self):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            _jl_sign_matrix,
        )

        m = _jl_sign_matrix(4, 16)
        assert set(m.reshape(-1).tolist()) <= {-1, 1}
        # regenerating gives the identical matrix (no RNG state anywhere)
        assert (m == _jl_sign_matrix(4, 16)).all()

    def test_norm_preserved_in_expectation(self, spark, sf_dir):
        import numpy as np

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            JL_OUT_DIMS,
            random_projection_q20,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import tp

        emb = tp(spark, sf_dir, "embeddings")
        rows = random_projection_q20(emb, "vec_id", "embedding").collect()
        by_vec: dict[int, float] = {}
        for r in rows:
            by_vec[r["vec_id"]] = by_vec.get(r["vec_id"], 0.0) + (
                r["proj_q20"] / 1048576.0
            ) ** 2
        # fixture vectors are unit-normalized: E[||Pv||^2] = K * ||v||^2,
        # so the per-vector ratio averages to ~1 across the corpus
        ratios = np.array([v / JL_OUT_DIMS for v in by_vec.values()])
        assert 0.7 < ratios.mean() < 1.3


class TestMatryoshkaRecall:
    def test_full_width_truncation_is_perfect_recall(self, spark, sf_dir):
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            N_QUERIES,
            TOPK,
            ann_bruteforce_topk,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t, tp

        emb = tp(spark, sf_dir, "embeddings")
        q = t(spark, sf_dir, "embeddings").where(FF.col("vec_id") < N_QUERIES)
        a = {
            (r["qid"], r["neighbor_id"])
            for r in ann_bruteforce_topk(emb, q, TOPK).collect()
        }
        sliced = emb.withColumn("embedding", FF.slice("embedding", 1, 64))
        qs = q.withColumn("embedding", FF.slice("embedding", 1, 64))
        b = {
            (r["qid"], r["neighbor_id"])
            for r in ann_bruteforce_topk(sliced, qs, TOPK).collect()
        }
        assert a == b

    def test_registered_recall_in_unit_range(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )

        _load_all()
        rows = QUERIES["q_matryoshka_recall"].fn(spark, sf_dir).collect()
        assert len(rows) == 5
        for r in rows:
            assert 0.0 <= r["recall"] <= 1.0
            assert r["n_common"] == round(r["recall"] * 5)


class TestEquidepthHistogram:
    def test_matches_single_node_ntile_and_balanced(self, spark):
        import pyspark.sql.functions as FF
        from pyspark.sql.window import Window as W

        from spark_sql_custom_mq_datasource_spark.plans.analytics import (
            equidepth_histogram,
        )

        d = spark.createDataFrame(
            [((i * 131) % 997, i) for i in range(1003)], "v long, k long"
        )
        got = {
            r["bucket"]: r
            for r in equidepth_histogram(d, "v", "k", 8).collect()
        }
        ref = (
            d.withColumn("bucket", FF.ntile(8).over(W.orderBy("v", "k")))
            .groupBy("bucket")
            .agg(
                FF.count("*").alias("n"),
                FF.min("v").alias("lo"),
                FF.max("v").alias("hi"),
            )
        )
        for r in ref.collect():
            g = got[r["bucket"]]
            assert (g["n"], g["lo"], g["hi"]) == (r["n"], r["lo"], r["hi"])
        sizes = [r["n"] for r in got.values()]
        assert max(sizes) - min(sizes) <= 1 and sum(sizes) == 1003


class TestDailyTrend:
    def test_planted_exact_line(self, spark, tmp_path):
        import datetime as dt

        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        _load_all()
        rows = []
        eid = 0
        d0 = dt.date(2024, 3, 1)
        for day in range(10):
            # exactly 3*day + 7 events on day `day`: slope 3, intercept
            # 7 - 3*x0 in epoch-day coordinates
            for _ in range(3 * day + 7):
                eid += 1
                rows.append(
                    (
                        eid,
                        dt.datetime.combine(
                            d0 + dt.timedelta(days=day), dt.time(12)
                        ),
                        1,
                        "view",
                        1.0,
                        "{}",
                    )
                )
        d = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/events.parquet")
        _cache.clear()
        got = QUERIES["q_daily_trend_by_type"].fn(spark, sf).collect()
        _cache.clear()
        assert len(got) == 1
        x0 = (d0 - dt.date(1970, 1, 1)).days
        assert abs(got[0]["slope"] - 3.0) < 1e-9
        assert abs(got[0]["intercept"] - (7.0 - 3.0 * x0)) < 1e-6


class TestTableFingerprint:
    def test_order_free_and_content_sensitive(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        _load_all()
        rows = [(i, f"text {i}", "en", "s0", 10) for i in range(100)]

        def fp(rows, sub):
            import random

            d = spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string,"
                " n_chars long"
            )
            sf = str(tmp_path / sub)
            d.repartition(7).write.parquet(f"{sf}/documents.parquet")
            _cache.clear()
            out = QUERIES["q_table_fingerprint"].fn(spark, sf).collect()
            _cache.clear()
            return {r["source"]: r["content_checksum"] for r in out}

        a = fp(rows, "a")
        shuffled = list(reversed(rows))
        b = fp(shuffled, "b")
        assert a == b  # order-free
        mutated = [(i, t + ("!" if i == 5 else ""), l, s, n)
                   for i, t, l, s, n in rows]
        c = fp(mutated, "c")
        assert a != c  # content-sensitive


class TestContainmentApply:
    def test_short_dropped_long_kept_minid_for_ties(self, spark, tmp_path):
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            clear_dedup_caches,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import _cache

        _load_all()
        words = [f"w{i}" for i in range(100)]
        short = " ".join(words[:12])
        long_ = " ".join(words)
        rows = [
            (1, short, "en", "s0", 1),   # contained in 2 -> dropped
            (2, long_, "en", "s0", 1),   # maximal -> kept
            (3, long_, "en", "s1", 1),   # exact dup of 2 -> min-id 2 kept
            (4, "zz yy xx ww", "en", "s1", 1),  # unrelated -> kept
        ]
        d = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        sf = str(tmp_path)
        d.write.parquet(f"{sf}/documents.parquet")
        _cache.clear()
        clear_dedup_caches(spark)
        got = {
            r["source"]: r
            for r in QUERIES["q_dedup_containment_apply"].fn(spark, sf).collect()
        }
        _cache.clear()
        clear_dedup_caches(spark)
        assert got["s0"]["n_docs"] == 2 and got["s0"]["n_surviving"] == 1
        assert got["s1"]["n_docs"] == 2 and got["s1"]["n_surviving"] == 1


class TestStreamTableFingerprint:
    def test_converged_equals_batch(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )

        _load_all()
        stream = [
            tuple(r)
            for r in QUERIES["q_stream_table_fingerprint"].fn(spark, sf_dir).collect()
        ]
        batch = [
            tuple(r)
            for r in QUERIES["q_table_fingerprint"].fn(spark, sf_dir).collect()
        ]
        assert stream == batch


class TestBpeTrainer:
    """Round-11: the iterative BPE trainer (functions/text.py:bpe_train)."""

    def _vocab(self, spark, rows):
        from spark_sql_custom_mq_datasource_spark.functions.text import _BPE_BOUND

        data = [
            (w, _BPE_BOUND + _BPE_BOUND.join(syms) + _BPE_BOUND, c)
            for (w, syms, c) in rows
        ]
        return spark.createDataFrame(data, "word string, seq string, cnt bigint")

    def test_single_symbol_guard(self, spark):
        """A fully-merged (single-symbol) word contributes no pairs and must
        not crash pair extraction: Spark's sequence(2, 1) DESCENDS where
        DuckDB's generate_series(2, 1) is empty — the size guard pins the
        divergence shut."""
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            _BPE_SEP,
            bpe_best_pair,
        )

        v = self._vocab(
            spark,
            [("ab", ["ab"], 100), ("cd", ["c", "d"], 3)],
        )
        rows = bpe_best_pair(v).collect()
        assert [(r["pair"], r["n"]) for r in rows] == [("c" + _BPE_SEP + "d", 3)]

    def test_pair_counts_weighted_and_overlapping(self, spark):
        """Adjacent positions count with overlap (classic BPE): 'aaa' has
        TWO (a,a) positions even though only one merge can apply."""
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            _BPE_SEP,
            bpe_best_pair,
        )

        v = self._vocab(spark, [("aaa", ["a", "a", "a"], 5)])
        rows = bpe_best_pair(v).collect()
        assert [(r["pair"], r["n"]) for r in rows] == [("a" + _BPE_SEP + "a", 10)]

    def test_merge_apply_anchored_and_non_overlapping(self, spark):
        """The half-boundary-consuming replace must (a) merge greedily
        left-to-right without overlap ('aaa' -> ['aa','a']), (b) keep
        ADJACENT merges available — the canonical 'aaaa' -> ['aa','aa']
        that a single-char boundary under-merges — and (c) never match a
        symbol suffix/prefix fragment ('xa','by' is NOT an (a,b)
        occurrence)."""
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.functions.text import (
            _BPE_BOUND,
            _BPE_SEP,
        )

        v = self._vocab(
            spark,
            [
                ("aaa", ["a", "a", "a"], 1),
                ("aaaa", ["a", "a", "a", "a"], 1),
                ("xaby", ["xa", "by"], 1),
            ],
        )
        merged = v.select(
            "word",
            FF.replace(
                FF.col("seq"),
                FF.lit(_BPE_SEP + "a" + _BPE_BOUND + "a" + _BPE_SEP),
                FF.lit(_BPE_SEP + "aa" + _BPE_SEP),
            ).alias("seq"),
        ).collect()
        got = {r["word"]: r["seq"].split(_BPE_BOUND)[1:-1] for r in merged}
        assert got["aaa"] == ["aa", "a"]
        assert got["aaaa"] == ["aa", "aa"]
        assert got["xaby"] == ["xa", "by"]

    def test_train_on_fixtures(self, spark, sf_dir):
        """End-to-end: N merges learned, each merged symbol is the concat
        of its parts, counts are non-increasing, and the final vocab's
        token total equals the initial total minus the applied merges
        (<= pair counts, since counts may include overlaps)."""
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.functions.text import (
            _BPE_BOUND,
            BPE_MERGES,
            _bpe_vocab,
            bpe_train,
        )

        merges, v = bpe_train(spark, sf_dir, BPE_MERGES)
        assert len(merges) == BPE_MERGES
        for step, left, right, whole, n in merges:
            assert whole == left + right and n > 0
        counts = [m[4] for m in merges]
        assert counts == sorted(counts, reverse=True)

        def total_tokens(df):
            return df.agg(
                FF.sum(
                    FF.col("cnt") * (FF.size(FF.split("seq", _BPE_BOUND)) - 2)
                ).alias("s")
            ).collect()[0]["s"]

        before = total_tokens(_bpe_vocab(spark, sf_dir))
        after = total_tokens(v)
        assert after < before
        assert before - after <= sum(counts)


class TestFrameDedup:
    """Round-12: frame-level payload containment
    (operators/multimodal.py:frame_hashes)."""

    def test_shared_frames_counted_once_and_edges(self, spark):
        """Two payloads sharing one aligned 64-byte frame pair once even
        if the frame repeats inside a doc; partial trailing frames
        compare by content; NULL payloads contribute nothing."""
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            DEDUP_FRAME_BYTES as W,
        )
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            frame_hashes,
        )

        fa = b"A" * W
        fb = b"B" * W
        rows = [
            (1, bytearray(fa + fb)),          # frames: A, B
            (2, bytearray(fa + fa + b"xy")),  # frames: A, A, 'xy' (partial)
            (3, bytearray(b"xy")),            # frame: 'xy' (partial only)
            (4, None),
            (5, bytearray(b"")),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        f = frame_hashes(df)
        got = {}
        a = f.toDF("da", "fh")
        b = f.toDF("db", "fh2")
        import pyspark.sql.functions as FF

        pairs = (
            a.join(b, (a["fh"] == b["fh2"]) & (a["da"] < b["db"]))
            .groupBy("da", "db")
            .agg(FF.count("*").alias("n"))
            .collect()
        )
        got = {(r["da"], r["db"]): r["n"] for r in pairs}
        # doc2's duplicate A frame deduped per doc -> pair (1,2) counts 1
        assert got == {(1, 2): 1, (2, 3): 1}
        per_doc = {
            r["doc_id"]: r["c"]
            for r in f.groupBy("doc_id").agg(FF.count("*").alias("c")).collect()
        }
        assert per_doc == {1: 2, 2: 2, 3: 1}  # NULL + empty contribute none

    def test_md5_values_match_per_frame_loop(self, spark, sf_dir):
        """Round-13 vectorization property pin (VERDICT r12 missing 4):
        the reshaped-unique + memo md5 path emits EXACTLY the rows the
        naive one-md5-per-frame loop emitted."""
        import hashlib

        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            DEDUP_FRAME_BYTES as W,
        )
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            attach_payload,
            frame_hashes,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        mm = attach_payload(t(spark, sf_dir, "documents")).limit(50)
        expected = set()
        for r in mm.select("doc_id", "payload").collect():
            if r["payload"] is None:
                continue
            b = bytes(r["payload"])
            for fi in range((len(b) + W - 1) // W):
                expected.add(
                    (r["doc_id"], hashlib.md5(b[fi * W : (fi + 1) * W]).hexdigest())
                )
        got = {
            (r["doc_id"], r["fh"])
            for r in frame_hashes(mm).collect()
        }
        assert got == expected

    def test_hot_frame_cap_drops_ubiquitous_frames(self, spark):
        """Round-13 (VERDICT r12 wrong 1): a frame shared by more docs
        than FRAME_MAX_DF is dropped before the pair join — the n²/2
        hot-key blowup never happens — while sub-cap sharing is exact."""
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            DEDUP_FRAME_BYTES as W,
        )
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            frame_hashes,
            frame_pairs,
        )

        hot = b"\x00" * W  # the zero-padding frame, in EVERY doc
        n_docs = 12
        rows = []
        for i in range(1, n_docs + 1):
            uniq = bytes([i]) * W
            rows.append((i, bytearray(hot + uniq)))
        # docs 1 and 2 additionally share a rare frame
        rare = b"R" * W
        rows[0] = (1, bytearray(hot + bytes([1]) * W + rare))
        rows[1] = (2, bytearray(hot + bytes([2]) * W + rare))
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        f = frame_hashes(df).localCheckpoint(eager=True)
        capped = {
            (r["da"], r["db"]): r["n_shared_frames"]
            for r in frame_pairs(f, max_frame_df=8).collect()
        }
        # only the rare-frame pair survives, counting the rare frame alone
        assert capped == {(1, 2): 1}
        uncapped = frame_pairs(f, max_frame_df=None).count()
        assert uncapped == n_docs * (n_docs - 1) // 2  # the blowup the cap kills

    def test_capped_equals_uncapped_on_fixture(self, spark, sf_dir):
        """Fixture frame DFs are far below FRAME_MAX_DF, so the capped
        registered query is bit-identical to the uncapped oracle shape."""
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            FRAME_MAX_DF,
            attach_payload,
            frame_hashes,
            frame_pairs,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        f = frame_hashes(attach_payload(t(spark, sf_dir, "documents")))
        f = f.localCheckpoint(eager=True)
        capped = sorted(
            map(tuple, frame_pairs(f, max_frame_df=FRAME_MAX_DF).collect())
        )
        uncapped = sorted(map(tuple, frame_pairs(f, max_frame_df=None).collect()))
        assert capped == uncapped and capped

    def test_mix64_frame_mode(self, spark):
        """The vectorized production hash: per-frame distinct 16-hex
        values; a zero-padded trailing partial frame does NOT collide
        with a genuine all-zero full frame (length seeds the fold)."""
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            DEDUP_FRAME_BYTES as W,
        )
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            frame_hashes,
        )

        rows = [
            (1, bytearray(b"\x00" * W)),      # full zero frame
            (2, bytearray(b"\x00" * 8)),      # partial zero frame (padded)
            (3, bytearray(b"A" * W + b"B" * W)),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = frame_hashes(df, hash_mode="mix64").collect()
        by_doc: dict = {}
        for r in got:
            by_doc.setdefault(r["doc_id"], set()).add(r["fh"])
        assert all(len(h) == 16 for hs in by_doc.values() for h in hs)
        assert by_doc[1] != by_doc[2]  # padded tail ≠ zero full frame
        assert len(by_doc[3]) == 2


class TestBpeCorpusTokenize:
    """Round-12: corpus-level tokenization under the trained tokenizer
    (functions/text.py:q_bpe_tokenize_corpus)."""

    def test_bounds_and_fertility_arithmetic(self, spark, sf_dir):
        """Per source: every word is at least one token and at most its
        character count (merges only shrink); fertility_q20 must be the
        exact Q20 quotient of the emitted integers."""
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_bpe_tokenize_corpus,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        docs = t(spark, sf_dir, "documents")
        chars = {
            r["source"]: (r["nw"], r["nc"])
            for r in docs.select(
                "source", FF.explode(FF.split(FF.trim("text"), " ")).alias("w")
            )
            .where(FF.length("w") >= 1)
            .groupBy("source")
            .agg(
                FF.count("*").alias("nw"),
                FF.sum(FF.length("w")).alias("nc"),
            )
            .collect()
        }
        out = q_bpe_tokenize_corpus(spark, sf_dir).collect()
        assert {r["source"] for r in out} == set(chars)
        for r in out:
            nw, nc = chars[r["source"]]
            assert r["n_words"] == nw
            assert nw <= r["n_tokens"] <= nc
            assert r["n_tokens"] < nc, "trained merges must shrink something"
            import math

            assert r["fertility_q20"] == math.floor(
                r["n_tokens"] * 1048576.0 / nw + 0.5
            )


class TestPayloadPhash:
    """Round-11: multimodal payload perceptual hash
    (operators/multimodal.py:payload_phash)."""

    def test_phash_matches_reference(self, spark, sf_dir):
        """The mapInPandas memoized/vectorized hash must equal a direct
        per-doc Python recomputation of the same definition."""
        import hashlib

        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            PHASH_BITS,
            PHASH_GRAM_BYTES,
            attach_payload,
            payload_phash,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        docs = t(spark, sf_dir, "documents").limit(20)
        got = {
            r["doc_id"]: r["sh"]
            for r in payload_phash(attach_payload(docs)).collect()
        }
        for r in docs.collect():
            b = r["text"].encode("utf-8")
            n = len(b) - PHASH_GRAM_BYTES + 1
            votes = [0] * PHASH_BITS
            for i in range(n):
                h = int(
                    hashlib.md5(b[i : i + PHASH_GRAM_BYTES]).hexdigest()[:15], 16
                )
                for j in range(PHASH_BITS):
                    votes[j] += 2 * ((h >> j) & 1) - 1
            want = sum(1 << j for j in range(PHASH_BITS) if votes[j] > 0)
            assert got[r["doc_id"]] == want

    def test_phash_banding_is_exact(self, spark, sf_dir):
        """Pigeonhole banding over the payload hash must equal brute-force
        hamming <= 3 (zero recall loss)."""
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            hamming_band_pairs,
        )
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            PHASH_BITS,
            PHASH_MAX_HAMMING,
            attach_payload,
            payload_phash,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        docs = t(spark, sf_dir, "documents")
        sig = payload_phash(attach_payload(docs)).cache()
        a = sig.select(FF.col("doc_id").alias("da"), FF.col("sh").alias("ha"))
        b = sig.select(FF.col("doc_id").alias("db"), FF.col("sh").alias("hb"))
        brute = {
            (r["da"], r["db"])
            for r in a.join(b, FF.col("da") < FF.col("db"))
            .where(
                FF.bit_count(FF.col("ha").bitwiseXOR(FF.col("hb")))
                <= PHASH_MAX_HAMMING
            )
            .collect()
        }
        banded = {
            (r["da"], r["db"])
            for r in hamming_band_pairs(
                sig, bits=PHASH_BITS, max_hamming=PHASH_MAX_HAMMING
            ).collect()
        }
        sig.unpersist()
        assert banded == brute
        assert brute, "fixtures contain planted near-dups"

    def test_short_and_null_payload_edges(self, spark):
        """Shorter-than-gram payloads hash to 0 (empty vote vector, both
        engines); NULL payloads hash to NULL — the doc drops from every
        pair instead of crashing the Python worker. The oracle pins the
        same NULL with an explicit CASE WHEN h IS NULL guard (its bare
        chain would yield 0 via the per-bit ELSE — ADVICE r11 item 1)."""
        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            payload_phash,
        )

        df = spark.createDataFrame(
            [(1, bytearray(b"ab")), (2, bytearray(b"")), (3, None)],
            "doc_id long, payload binary",
        )
        got = {r["doc_id"]: r["sh"] for r in payload_phash(df).collect()}
        assert got == {1: 0, 2: 0, 3: None}

    def test_oracle_null_and_short_semantics(self):
        """Execute the ACTUAL _SQL_PHASH oracle on a NULL/short/normal
        micro-corpus and pin the cross-engine contract directly: NULL
        text -> NULL phash (the ADVICE r11 item 1 guard), <gram text ->
        0, normal text -> the md5-vote hash. Guards against the oracle
        and the Python side drifting apart again."""
        import duckdb

        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            _SQL_PHASH,
        )

        sql = (
            "WITH documents(doc_id, text) AS "
            "(VALUES (1, NULL), (2, 'ab'), (3, 'abcdef')),"
            + _SQL_PHASH
            + " SELECT doc_id, phash FROM sh ORDER BY doc_id"
        )
        rows = duckdb.connect().execute(sql).fetchall()
        assert rows[0] == (1, None)
        assert rows[1] == (2, 0)
        assert rows[2][1] not in (None, 0)

    def test_fixture_text_is_ascii(self, spark):
        """The phash oracle grams text CHARACTER-wise (substr/strlen) while
        the Spark side hashes utf-8 BYTES; they are equivalent only while
        documents.text is pure ASCII. Pin that fixture invariant at every
        available SF so a future fixture change fails loudly instead of
        silently diverging the hashes (ADVICE r11 item 2). Paths derive
        from the suite's SF_DIR (SPARK_GRAFT_TEST_SF_DIR honored) plus
        its sibling sf* directories, so a custom fixture dir is the one
        actually checked (ADVICE r12 item 3)."""
        import glob
        import os

        from conftest import SF_DIR

        roots = {SF_DIR} | set(
            glob.glob(os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf*"))
        )
        checked = 0
        for root in sorted(roots):
            path = os.path.join(root, "documents.parquet")
            if not os.path.exists(path):
                continue
            checked += 1
            import pyspark.sql.functions as FF

            bad = (
                spark.read.parquet(path)
                .where(FF.octet_length("text") != FF.length("text"))
                .count()
            )
            assert bad == 0, f"{root}: {bad} non-ASCII documents.text rows"
        assert checked, "no fixture directories found"


class TestIvfPq:
    """Round-12: composed IVF-PQ (operators/similarity.py:q_ann_ivf_pq)."""

    def test_coarse_centroid_means(self, spark):
        """pq_coarse_centroids is the exact per-(cell, subspace) dim-mean."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            PQ_SUBDIM,
            pq_coarse_centroids,
        )

        rows = [
            (1, 0, [float(d) for d in range(PQ_SUBDIM)], 7),
            (2, 0, [float(d * 3) for d in range(PQ_SUBDIM)], 7),
            (3, 0, [float(100)] * PQ_SUBDIM, 9),
        ]
        svl = spark.createDataFrame(
            rows, "vec_id long, m int, sv array<double>, label int"
        )
        got = {
            (r["label"], r["m"]): list(r["cu"])
            for r in pq_coarse_centroids(svl).collect()
        }
        assert got[(7, 0)] == [float(d * 2) for d in range(PQ_SUBDIM)]
        assert got[(9, 0)] == [100.0] * PQ_SUBDIM

    def test_prune_is_real_and_bounded(self, spark, sf_dir):
        """The composed query must actually prune: every query scans fewer
        candidates than the corpus, and never more than its nprobe largest
        cells could hold; hits are bounded by k."""
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            IVFPQ_NPROBE,
            PQ_TOPK,
            q_ann_ivf_pq,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        emb = t(spark, sf_dir, "embeddings")
        n = emb.count()
        sizes = sorted(
            (r["c"] for r in emb.groupBy("label").agg(FF.count("*").alias("c")).collect()),
            reverse=True,
        )
        cap = sum(sizes[:IVFPQ_NPROBE])
        out = q_ann_ivf_pq(spark, sf_dir).collect()
        assert out, "anchors must produce rows"
        for r in out:
            assert 0 < r["n_candidates"] < n
            assert r["n_candidates"] <= cap
            assert 0 <= r[f"hits_at_{PQ_TOPK}"] <= PQ_TOPK


class TestPqPersistedIndex:
    """Round-12: durable PQ index (operators/similarity.py:pq_index_path)."""

    def test_persisted_probe_equals_in_memory(self, spark, sf_dir):
        """The persisted path must be bit-identical to rebuilding in
        memory: same codebooks (parquet doubles round-trip exactly), same
        codes, same ADC top-k — the q_ann_lsh_persisted discipline."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            _pq_loop,
            pq_assign,
            pq_index_path,
            q_pq_persisted_probe,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        cb_path, codes_path, _ = pq_index_path(spark, sf_dir)
        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        sv, cents = _pq_loop(spark, emb)
        cdf = spark.createDataFrame(cents, "m int, code int, cu array<double>")
        mem_codes = {
            (r["vec_id"], r["m"]): r["code"] for r in pq_assign(sv, cdf).collect()
        }
        sv.unpersist()
        disk_cb = {
            (r["m"], r["code"]): list(r["cu"])
            for r in spark.read.parquet(cb_path).collect()
        }
        assert disk_cb == {(m, c): list(cu) for m, c, cu in cents}
        disk_codes = {
            (r["vec_id"], r["m"]): r["code"]
            for r in spark.read.parquet(codes_path).collect()
        }
        assert disk_codes == mem_codes
        # probe twice: the cached index path must be deterministic
        a = [tuple(r) for r in q_pq_persisted_probe(spark, sf_dir).collect()]
        b = [tuple(r) for r in q_pq_persisted_probe(spark, sf_dir).collect()]
        assert a == b and len(a) > 0

    def test_index_is_cell_partitioned(self, spark, sf_dir):
        """codes must be laid out partitioned by the coarse cell (label) —
        the partition-pruning contract a cell-pruned probe relies on."""
        import os

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            pq_index_path,
        )

        _, codes_path, _ = pq_index_path(spark, sf_dir)
        parts = [d for d in os.listdir(codes_path) if d.startswith("label=")]
        assert len(parts) > 1


class TestProductQuantization:
    """Round-11: PQ codebooks + ADC recall (operators/similarity.py)."""

    def test_every_vector_encoded_once_per_subspace(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            PQ_K,
            PQ_M,
            _pq_loop,
            pq_assign,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = emb.count()
        sv, cents = _pq_loop(spark, emb)
        cdf = spark.createDataFrame(cents, "m int, code int, cu array<double>")
        assigned = pq_assign(sv, cdf).collect()
        sv.unpersist()
        assert len(assigned) == n * PQ_M
        per_vec = {}
        for r in assigned:
            per_vec.setdefault(r["vec_id"], set()).add(r["m"])
            assert 0 <= r["code"] < PQ_K
        assert all(ms == set(range(PQ_M)) for ms in per_vec.values())

    def test_adc_recall_bounded(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            _load_all,
        )
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            PQ_QUERIES,
            PQ_TOPK,
        )

        _load_all()
        rows = QUERIES["q_pq_adc_recall"].fn(spark, sf_dir).collect()
        assert len(rows) == PQ_QUERIES
        assert all(0 <= r[f"hits_at_{PQ_TOPK}"] <= PQ_TOPK for r in rows)


class TestRound13Guards:
    """Round-13 hardening (ADVICE r12 items 1-2, VERDICT r12 wrong 3)."""

    def test_pack_grams_rejects_wide_gram(self):
        import pytest as _pytest

        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            _pack_grams,
        )

        with _pytest.raises(ValueError, match="gram <= 8"):
            _pack_grams(b"0123456789abcdef", 9)
        # gram == 8 is the widest exact pack — still fine
        assert len(_pack_grams(b"0123456789", 8)) == 3

    def test_payload_phash_rejects_unknown_hash_mode(self, spark):
        import pytest as _pytest

        from spark_sql_custom_mq_datasource_spark.operators.multimodal import (
            payload_phash,
        )

        df = spark.createDataFrame(
            [(1, bytearray(b"abcdef"))], "doc_id long, payload binary"
        )
        with _pytest.raises(ValueError, match="hash_mode"):
            payload_phash(df, hash_mode="mix")  # typo'd 'mix64'
        with _pytest.raises(ValueError, match="gram <= 8"):
            payload_phash(df, gram=9)

    def test_session_key_is_application_id(self, spark, sf_dir):
        """Caches key by applicationId, not id(spark): id() of a collected
        session can be reused by a new one (VERDICT r12 wrong 3)."""
        from spark_sql_custom_mq_datasource_spark.plans.util import (
            _cache,
            session_key,
            t,
        )

        key = session_key(spark)
        assert key == spark.sparkContext.applicationId
        t(spark, sf_dir, "region")
        assert (key, sf_dir, "region") in _cache
        # a sibling session of the SAME context shares the application —
        # and therefore the cache entries (DataFrames remain valid)
        assert session_key(spark.newSession()) == key


class TestBpePersistedTokenizer:
    """Round-13: durable trained-tokenizer artifact
    (functions/text.py:bpe_index_path, VERDICT r12 missing 1)."""

    def test_persisted_equals_inline(self, spark, sf_dir):
        """The persisted-vocab tokenize read-out is bit-identical to the
        inline-trained one (same discipline as q_pq_persisted_probe)."""
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            q_bpe_tokenize_corpus,
            q_bpe_tokenize_persisted,
        )

        inline = sorted(map(tuple, q_bpe_tokenize_corpus(spark, sf_dir).collect()))
        persisted = sorted(
            map(tuple, q_bpe_tokenize_persisted(spark, sf_dir).collect())
        )
        assert persisted == inline and persisted

    def test_artifact_carries_merges_and_vocab(self, spark, sf_dir):
        """merges/ round-trips the trained merge table exactly (the
        portable tokenizer definition) and vocab/ the segmentations."""
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            BPE_MERGES,
            bpe_index_path,
            bpe_train,
        )

        merges_path, vocab_path = bpe_index_path(spark, sf_dir)
        merges, v = bpe_train(spark, sf_dir, BPE_MERGES)
        stored = sorted(
            map(tuple, spark.read.parquet(merges_path).collect())
        )
        assert stored == sorted(merges)
        assert spark.read.parquet(vocab_path).count() == v.count()

    def test_train_cached_per_session(self, spark, sf_dir):
        """bpe_train trains once per (session, fixture, n_merges): the
        second call returns the SAME cached objects."""
        from spark_sql_custom_mq_datasource_spark.functions.text import bpe_train

        m1, v1 = bpe_train(spark, sf_dir)
        m2, v2 = bpe_train(spark, sf_dir)
        assert m1 is m2 and v1 is v2


class TestResidualIvfPq:
    """Round-13: residual IVFADC (operators/similarity.py:
    ivfpq_residual_readout, VERDICT r12 missing 3)."""

    def test_residual_beats_raw_on_clustered_corpus(self, spark):
        """On clustered geometry — more cells than codebook entries, small
        within-cell variance — residual codebooks spend all K centroids on
        the tight residual distribution while raw codebooks must cover the
        between-cell spread: recall@k of the residual leg must win."""
        import numpy as np

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            PQ_K,
            ivfpq_residual_readout,
        )

        rng = np.random.RandomState(7)
        n_cells = 2 * PQ_K  # raw codebooks cannot cover the centers
        per_cell = 20
        dim = 64
        centers = rng.uniform(-8.0, 8.0, size=(n_cells, dim))
        rows = []
        vid = 0
        for c in range(n_cells):
            for _ in range(per_cell):
                v = centers[c] + rng.uniform(-0.05, 0.05, size=dim)
                rows.append((vid, [float(x) for x in v], int(c)))
                vid += 1
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = ivfpq_residual_readout(spark, emb).collect()
        res = sum(r["hits_res"] for r in out)
        raw = sum(r["hits_raw"] for r in out)
        assert res > raw, (res, raw)

    def test_residual_fixture_readout_bounds(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            PQ_QUERIES,
            PQ_TOPK,
        )
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            q_ann_ivf_pq_residual,
        )

        rows = q_ann_ivf_pq_residual(spark, sf_dir).collect()
        assert len(rows) == PQ_QUERIES
        for r in rows:
            assert 0 <= r["hits_res"] <= PQ_TOPK
            assert 0 <= r["hits_raw"] <= PQ_TOPK


class TestBpeOovReplay:
    """Round-13: domain-shift tokenization by merge replay
    (functions/text.py:q_bpe_tokenize_oov_replay)."""

    def test_replay_reproduces_trained_segmentation(self, spark, sf_dir):
        """Replaying the trained merges on the training words yields the
        EXACT segmentation lengths the trainer's vocab table holds —
        the replay IS the tokenizer; the vocab is its cache."""
        import pyspark.sql.functions as FF

        from spark_sql_custom_mq_datasource_spark.functions.text import (
            _BPE_BOUND,
            _BPE_SEP,
            BPE_MERGES,
            bpe_train,
        )

        merges, v = bpe_train(spark, sf_dir, BPE_MERGES)
        trained = {
            r["word"]: r["n"]
            for r in v.select(
                "word", (FF.size(FF.split("seq", _BPE_BOUND)) - 2).alias("n")
            ).collect()
        }
        words = spark.createDataFrame(
            [(w,) for w in trained], "word string"
        )
        chars = FF.transform(
            FF.sequence(FF.lit(1), FF.length("word")),
            lambda i: FF.col("word").substr(i, FF.lit(1)),
        )
        seq = FF.concat(
            FF.lit(_BPE_BOUND), FF.array_join(chars, _BPE_BOUND), FF.lit(_BPE_BOUND)
        )
        for _s, left, right, _m, _n in merges:
            seq = FF.replace(
                seq,
                FF.lit(_BPE_SEP + left + _BPE_BOUND + right + _BPE_SEP),
                FF.lit(_BPE_SEP + left + right + _BPE_SEP),
            )
        replayed = {
            r["word"]: r["n"]
            for r in words.select(
                "word", (FF.size(FF.split(seq, _BPE_BOUND)) - 2).alias("n")
            ).collect()
        }
        assert replayed == trained and trained

    def test_oov_rate_dominates_on_disjoint_held_out_corpus(self, spark):
        """Constructed corpus with DISJOINT vocabularies: train sources
        (src0..) use one word set, held-out sources (src10..) another —
        held-out n_oov_words must be ~100% of words, train near 0."""
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            bpe_oov_readout,
        )

        train_text = "alpha beta gamma delta alpha beta " * 4
        held_text = "omega sigma kappa lambda omega sigma " * 4
        rows = []
        for i in range(4):
            rows.append((i, f"src{i}", train_text))
            rows.append((100 + i, f"src1{i}", held_text))
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        out = {r["source"]: r for r in bpe_oov_readout(spark, docs).collect()}
        for i in range(4):
            assert out[f"src{i}"]["n_oov_words"] == 0
            held = out[f"src1{i}"]
            assert held["n_oov_words"] == held["n_words"] > 0


class TestIvfPqNprobeSweep:
    """Round-13: the nprobe tuning curve
    (operators/similarity.py:q_ann_ivf_pq_nprobe_sweep)."""

    def test_curve_is_monotone(self, spark, sf_dir):
        """Admitting more cells can only add candidates, and the top-k
        over a superset of candidates can only match-or-beat recall in
        aggregate is NOT guaranteed per query (a worse candidate can
        displace a hit) — but the CANDIDATE count must be strictly
        increasing and hits bounded by Q·topk."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            IVFPQ_SWEEP_MAX,
            PQ_QUERIES,
            PQ_TOPK,
            q_ann_ivf_pq_nprobe_sweep,
        )

        rows = q_ann_ivf_pq_nprobe_sweep(spark, sf_dir).collect()
        assert [r["nprobe"] for r in rows] == list(range(1, IVFPQ_SWEEP_MAX + 1))
        cands = [r["n_candidates"] for r in rows]
        assert cands == sorted(cands) and len(set(cands)) == len(cands)
        for r in rows:
            assert 0 <= r[f"hits_at_{PQ_TOPK}"] <= PQ_QUERIES * PQ_TOPK

    def test_full_probe_matches_composed_recall(self, spark, sf_dir):
        """At nprobe == IVFPQ_NPROBE the sweep's aggregate hits must equal
        the sum of q_ann_ivf_pq's per-query hits — same prune, same ADC,
        two independent implementations."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            IVFPQ_NPROBE,
            PQ_TOPK,
            q_ann_ivf_pq,
            q_ann_ivf_pq_nprobe_sweep,
        )

        sweep = {
            r["nprobe"]: r[f"hits_at_{PQ_TOPK}"]
            for r in q_ann_ivf_pq_nprobe_sweep(spark, sf_dir).collect()
        }
        composed = sum(
            r[f"hits_at_{PQ_TOPK}"] for r in q_ann_ivf_pq(spark, sf_dir).collect()
        )
        assert sweep[IVFPQ_NPROBE] == composed


class TestBpeOovPersisted:
    """Round-14: OOV merge-replay served from the durable artifact
    (functions/text.py:q_bpe_tokenize_oov_persisted, VERDICT r13
    missing 4)."""

    def test_persisted_oov_equals_inline(self, spark, sf_dir):
        """Serving from merges/ + vocab/ is bit-identical to retraining
        inline on the same train-half (the suite pin VERDICT r13 item 5
        asks for)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        inline = sorted(
            map(tuple, qs["q_bpe_tokenize_oov_replay"](spark, sf_dir).collect())
        )
        persisted = sorted(
            map(
                tuple,
                qs["q_bpe_tokenize_oov_persisted"](spark, sf_dir).collect(),
            )
        )
        assert persisted == inline and persisted

    def test_index_dirs_keyed_by_params(self, spark, sf_dir):
        """Differently-parameterized artifacts live in DIFFERENT dirs and
        both stay intact — a second build must never wipe the first
        (ADVICE r13 item 1: the work_dir clear-on-entry trap)."""
        from spark_sql_custom_mq_datasource_spark.functions.text import (
            BPE_MERGES,
            BPE_OOV_TRAIN_MAX_SRC,
            bpe_index_path,
        )

        m_full, _ = bpe_index_path(spark, sf_dir, BPE_MERGES)
        m_small, _ = bpe_index_path(spark, sf_dir, BPE_MERGES - 2)
        m_sub, _ = bpe_index_path(
            spark, sf_dir, BPE_MERGES, train_max_src=BPE_OOV_TRAIN_MAX_SRC
        )
        assert len({m_full, m_small, m_sub}) == 3
        # every artifact still carries ITS OWN merge count after the
        # later builds (the wrong-vocab staleness the fix kills)
        assert spark.read.parquet(m_full).count() == BPE_MERGES
        assert spark.read.parquet(m_small).count() == BPE_MERGES - 2
        assert spark.read.parquet(m_sub).count() == BPE_MERGES


class TestPqIndexHealth:
    """Round-14: the PQ index health monitor
    (operators/index_lifecycle.py:q_pq_index_health, VERDICT r13 missing 1)."""

    def test_health_row_bounds_and_occupancy(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t as _t
        from spark_sql_custom_mq_datasource_spark.operators.index_lifecycle import (
            PQ_HEALTH_SAMPLE,
        )

        [row] = get_queries()["q_pq_index_health"](spark, sf_dir).collect()
        assert row["n_sampled"] == PQ_HEALTH_SAMPLE
        assert 0 <= row["recall_hits"] <= row["recall_possible"]
        # occupancy is read off the INDEX but must equal the corpus's
        # per-label counts (every vector landed exactly once)
        occ = {
            r["label"]: r["n"]
            for r in _t(spark, sf_dir, "embeddings")
            .groupBy("label")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert row["n_cells"] == len(occ)
        mx, tot = max(occ.values()), sum(occ.values())
        assert row["hottest_cell"] in occ and occ[row["hottest_cell"]] == mx
        assert 0 < row["hottest_share_q20"] <= 1048576
        # max/avg >= 1 by construction
        assert row["cell_max_over_avg_q20"] >= 1048576
        import math

        assert row["hottest_share_q20"] == int(
            math.floor(mx * 1048576.0 / tot + 0.5)
        )


class TestPqCoarseRefresh:
    """Round-14: coarse-quantizer refresh / incremental re-index
    (operators/similarity.py:pq_coarse_refresh_readout, VERDICT r13
    missing 3)."""

    def test_moved_subset_on_constructed_corpus(self, spark):
        """Constructed geometry where exactly ONE cell's INT centroid
        moves between the original half and the grown corpus: label 0's
        vectors are all identical (half mean == full mean, untouched);
        label 1's odd-id vectors are shifted (full mean moves). The
        refresh must re-encode ONLY label 1 — and still be bit-identical
        to the full re-encode (the in-query assertion)."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            pq_coarse_refresh_readout,
        )

        dim = 64
        rows = []
        for vid in range(80):
            label = vid // 40
            if label == 0:
                v = [1.0] * dim
            else:
                v = [2.0] * dim if vid % 2 == 0 else [6.0] * dim
            rows.append((vid, v, label))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = pq_coarse_refresh_readout(spark, emb).collect()
        assert out
        for r in out:
            assert r["n_changed_cells"] == 1
            assert r["n_moved"] == 40
            assert r["n_total"] == 80

    def test_fixture_counts_consistent(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        rows = get_queries()["q_pq_coarse_refresh"](spark, sf_dir).collect()
        assert rows
        consts = {
            (r["n_moved"], r["n_total"], r["n_changed_cells"]) for r in rows
        }
        assert len(consts) == 1
        n_moved, n_total, n_changed = consts.pop()
        assert 0 <= n_moved <= n_total and n_changed >= 0


class TestIvfPqRefine:
    """Round-14: two-stage serving with exact re-rank
    (operators/similarity.py:q_ann_ivf_pq_refine)."""

    def test_shape_and_determinism(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            PQ_QUERIES,
            PQ_TOPK,
            q_ann_ivf_pq_refine,
        )

        rows = q_ann_ivf_pq_refine(spark, sf_dir).collect()
        assert len(rows) == PQ_QUERIES * PQ_TOPK
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        for qid, rs in by_q.items():
            assert sorted(r["rk"] for r in rs) == list(range(1, PQ_TOPK + 1))
            neigh = [r["neighbor_id"] for r in rs]
            assert len(set(neigh)) == PQ_TOPK and qid not in neigh
        again = q_ann_ivf_pq_refine(spark, sf_dir).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


class TestSq8:
    """Round-14: SQ8 scalar quantization ANN
    (operators/similarity.py:sq8_stats/sq8_encode/sq8_topk)."""

    def test_codes_in_range(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            SQ8_LEVELS,
            sq8_encode,
            sq8_stats,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t as _t

        emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        mn, rng = sq8_stats(emb)
        assert len(mn) == len(rng) == 64 and all(r >= 1 for r in rng)
        coded = sq8_encode(emb, mn, rng)
        row = coded.select(
            F.min(F.array_min("codes")).alias("lo"),
            F.max(F.array_max("codes")).alias("hi"),
        ).collect()[0]
        assert 0 <= row["lo"] and row["hi"] <= SQ8_LEVELS

    def test_duplicate_vector_ranks_first(self, spark):
        """A vector duplicated under another id reconstructs to the same
        codes, so its SQ8 asymmetric distance is the per-dim quantization
        floor — it must be the top-1 neighbor of its twin."""
        import random

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            _collect_query_eq,
            sq8_encode,
            sq8_stats,
            sq8_topk,
        )

        rnd = random.Random(7)
        rows = []
        for vid in range(60):
            rows.append((vid, [rnd.uniform(-0.5, 0.5) for _ in range(64)]))
        rows.append((100, list(rows[0][1])))  # exact twin of vec 0
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        mn, rng = sq8_stats(emb)
        coded = sq8_encode(emb, mn, rng)
        queries = _collect_query_eq(emb.where(F.col("vec_id") == 0))
        top = sq8_topk(coded, queries, mn, rng, k=1).collect()
        assert len(top) == 1 and top[0]["neighbor_id"] == 100

    @pytest.mark.parametrize("ansi", ["true", "false"])
    def test_grid_exact_topk_rejects_values_outside_int32(self, spark, ansi):
        """The exact leg's fixed-origin int32 codes never wrap: a Q20 value
        outside int32 (4096 * 2^20 = 2^32) raises under either ANSI mode."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            _collect_query_eq,
            grid_exact_topk,
        )

        rows = [(0, [0.25] * 64), (1, [0.5] * 64), (2, [4096.0] + [0.0] * 63)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = _collect_query_eq(emb.where(F.col("vec_id") == 0))
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            assert grid_exact_topk(emb.where("vec_id < 2"), queries).count() == 1
            with pytest.raises(Exception, match="outside int32"):
                grid_exact_topk(emb, queries).collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)

    def test_recall_near_exact_on_fixture(self, spark, sf_dir):
        """8-bit per-dim at 64 dims loses almost nothing — the acceptance
        gate the read-out exists for. Floor pinned BELOW the observed
        4-5/5 so fixture regrowth can't flake it."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        rows = get_queries()["q_ann_sq8_recall"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["recall_possible"] == 5
            assert r["recall_hits"] >= 3


class TestBloomDecontaminate:
    """Round-14: bloom-prefiltered benchmark decontamination
    (operators/curation.py:decontaminate_bloom)."""

    def test_no_false_negatives_equals_exact(self, spark, sf_dir):
        """Bloom filters never drop a true member, and the confirm join
        removes false positives — the gated result must equal the plain
        exact-join computation row for row."""
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            DECONTAM_EVAL_MOD,
            DECONTAM_THRESHOLD,
        )
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            shingle_sets_cached,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        got = sorted(
            map(
                tuple,
                get_queries()["q_decontaminate_bloom"](spark, sf_dir).collect(),
            )
        )
        sets = shingle_sets_cached(spark, sf_dir)
        ev = (
            sets.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
            .select(F.explode("hset").alias("s"))
            .distinct()
        )
        exact = (
            sets.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
            .select("doc_id", "n", F.explode("hset").alias("s"))
            .join(ev, "s")
            .groupBy("doc_id", "n")
            .agg(F.count("*").alias("common"))
            .select(
                "doc_id",
                F.col("common").cast("int").alias("common"),
                F.col("n").cast("int").alias("n_shingles"),
                (F.col("common") / F.col("n")).alias("containment"),
            )
            .where(F.col("containment") >= DECONTAM_THRESHOLD)
        )
        want = sorted(map(tuple, exact.collect()))
        assert got == want and got

    def test_bloom_prunes_but_superset_of_truth(self, spark, sf_dir):
        """The map-side probe keeps every true match (no false negatives)
        while rejecting the overwhelming majority of clean grams (the FP
        budget) — the property that makes the broadcast worth it."""
        from spark_sql_custom_mq_datasource_spark.operators.curation import (
            DECONTAM_EVAL_MOD,
            bloom_build,
            bloom_might_contain,
        )
        from spark_sql_custom_mq_datasource_spark.operators.dedup import (
            shingle_sets_cached,
        )

        sets = shingle_sets_cached(spark, sf_dir)
        ev = (
            sets.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
            .select(F.explode("hset").alias("s"))
            .distinct()
        )
        bw = bloom_build(spark, ev, "s")
        grams = (
            sets.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
            .select(F.explode("hset").alias("s"))
        )
        tagged = grams.crossJoin(F.broadcast(bw)).select(
            "s", bloom_might_contain("s", "bw").alias("hit")
        )
        true_hits = grams.join(ev, "s").count()
        n_total = tagged.count()
        n_pos = tagged.where("hit").count()
        assert n_pos >= true_hits  # superset (no false negatives)
        assert n_pos < n_total * 0.5  # actually prunes
        # every true member probes positive
        missed = (
            grams.join(ev, "s")
            .crossJoin(F.broadcast(bw))
            .where(~bloom_might_contain("s", "bw"))
            .count()
        )
        assert missed == 0


class TestPqResidualIndexHealth:
    """Round-14: the residual-index health monitor twin
    (operators/index_lifecycle.py:q_pq_residual_index_health)."""

    def test_health_row_bounds_and_occupancy(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t as _t
        from spark_sql_custom_mq_datasource_spark.operators.index_lifecycle import (
            PQ_HEALTH_SAMPLE,
        )

        [row] = get_queries()["q_pq_residual_index_health"](
            spark, sf_dir
        ).collect()
        assert row["n_sampled"] == PQ_HEALTH_SAMPLE
        assert 0 <= row["recall_hits"] <= row["recall_possible"]
        occ = {
            r["label"]: r["n"]
            for r in _t(spark, sf_dir, "embeddings")
            .groupBy("label")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert row["n_cells"] == len(occ)
        mx = max(occ.values())
        assert row["hottest_cell"] in occ and occ[row["hottest_cell"]] == mx
        assert row["cell_max_over_avg_q20"] >= 1048576


class TestManifestTimeTravel:
    """Round-14: version-pinned snapshot reads as a registered query
    (sources/manifest.py:q_manifest_time_travel)."""

    def test_versions_nest_and_v0_is_full(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t as _t

        rows = get_queries()["q_manifest_time_travel"](spark, sf_dir).collect()
        by_v = {}
        for r in rows:
            by_v.setdefault(r["version"], {})[r["day"]] = r["n_events"]
        assert set(by_v) == {0, 1, 2}
        # v0 must be the full corpus day histogram
        full = {
            r["day"]: r["n"]
            for r in _t(spark, sf_dir, "events")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert by_v[0] == full
        # retention only removes days: v2 ⊆ v1 ⊆ v0, counts identical
        assert set(by_v[2]) <= set(by_v[1]) <= set(by_v[0])
        for v in (1, 2):
            for day, n in by_v[v].items():
                assert by_v[0][day] == n


class TestIvfSq8:
    """Round-14: IVF-SQ8 composition
    (operators/similarity.py:q_ann_ivf_sq8)."""

    def test_subset_of_sq8_within_probed_cells(self, spark, sf_dir):
        """Every IVF-SQ8 neighbor must live in one of its query's probed
        cells, and the ranking within the probed slice must match the
        global SQ8 scan restricted to those cells."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            IVF_NPROBE,
            N_QUERIES,
            TOPK,
            ivf_sq8_cells,
            sq8_stats,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t as _t

        out = get_queries()["q_ann_ivf_sq8"](spark, sf_dir).collect()
        assert out and all(1 <= r["rk"] <= TOPK for r in out)
        emb = _t(spark, sf_dir, "embeddings")
        labels = {
            r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()
        }
        cells = ivf_sq8_cells(emb.select("vec_id", "embedding", "label"))
        # recompute each query's probed cells the same way the query does
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            _collect_query_eq,
        )

        queries = _collect_query_eq(emb.where(F.col("vec_id") < N_QUERIES))
        probed = {}
        for qid, eq in queries:
            dists = sorted(
                (sum((e - c) ** 2 for e, c in zip(eq, cq)), label)
                for label, cq in cells
            )
            probed[qid] = {label for _, label in dists[:IVF_NPROBE]}
        for r in out:
            assert labels[r["neighbor_id"]] in probed[r["qid"]]


class TestMaxSimRerank:
    """Round-14: ColBERT-shape MaxSim rerank
    (operators/retrieval.py:q_retrieval_maxsim)."""

    def test_rerank_stays_inside_shortlist(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.operators.retrieval import (
            BM25_QUERIES,
            MAXSIM_SHORTLIST,
            MAXSIM_TOP_K,
            bm25_topk,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t as _t

        out = get_queries()["q_retrieval_maxsim"](spark, sf_dir).collect()
        assert out and all(1 <= r["rank"] <= MAXSIM_TOP_K for r in out)
        docs = _t(spark, sf_dir, "documents")
        queries = spark.createDataFrame(
            list(BM25_QUERIES), "qid int, qtext string"
        )
        shortlist = {
            (r["qid"], r["doc_id"])
            for r in bm25_topk(docs, queries, k=MAXSIM_SHORTLIST).collect()
        }
        for r in out:
            assert (r["qid"], r["doc_id"]) in shortlist

    def test_exact_token_match_dominates(self, spark):
        """Identical tokens share a vector, so self-similarity ||v||² is
        the max any query term can reach — a doc containing the query
        term verbatim must outscore one with no shared tokens."""
        from spark_sql_custom_mq_datasource_spark.operators.retrieval import (
            maxsim_rerank,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
            "doc_id long, text string",
        )
        queries = spark.createDataFrame([(0, "alpha")], "qid int, qtext string")
        shortlist = spark.createDataFrame(
            [(0, 1), (0, 2)], "qid int, doc_id long"
        )
        rows = {r["doc_id"]: r for r in maxsim_rerank(docs, queries, shortlist, 2).collect()}
        assert rows[1]["maxsim"] > rows[2]["maxsim"]
        assert rows[1]["rank"] == 1


class TestSq8PersistedServing:
    """Round-14: durable IVF-SQ8 index + partition-pruned serving
    (operators/similarity.py:q_ann_sq8_persisted)."""

    def test_serving_equals_inmemory_composition(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        served = sorted(map(tuple, qs["q_ann_sq8_persisted"](spark, sf_dir).collect()))
        inmem = sorted(map(tuple, qs["q_ann_ivf_sq8"](spark, sf_dir).collect()))
        assert served == inmem and served

    def test_index_layout_bounded_metadata(self, spark, sf_dir):
        import os

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_index_path,
        )

        grid_path, codes_path, cells_path = sq8_index_path(spark, sf_dir)
        grid = spark.read.parquet(grid_path).collect()
        assert len(grid) == 1 and len(grid[0]["mn"]) == 64
        cells = spark.read.parquet(cells_path).collect()
        assert 1 <= len(cells) <= 64  # |label domain|
        # codes are hive-partitioned by label on disk
        assert any(
            name.startswith("label=") for name in os.listdir(codes_path)
        )


class TestSq8GridDrift:
    """Round-14: SQ8 grid saturation monitor
    (operators/similarity.py:q_sq8_grid_drift)."""

    def test_shifted_audit_half_saturates_high(self, spark):
        """Audit vectors shifted above the trained grid must saturate
        HIGH on every value; an in-grid audit half saturates nowhere."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_grid_drift_readout,
        )

        dim = 64
        rows = []
        for vid in range(40):
            base = 0.1 if vid % 2 == 0 else 0.9  # odd half far above
            rows.append((vid, [base] * dim))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        [r] = sq8_grid_drift_readout(spark, emb).collect()
        assert r["n_values"] == 20 * dim
        assert r["n_sat_hi"] == 20 * dim and r["n_sat_lo"] == 0
        assert r["worst_dim_sat_q20"] == 1048576  # 100% in Q20

        flat = spark.createDataFrame(
            [(vid, [0.1] * dim) for vid in range(40)],
            "vec_id long, embedding array<float>",
        )
        [r2] = sq8_grid_drift_readout(spark, flat).collect()
        assert r2["n_sat_hi"] == 0 and r2["n_sat_lo"] == 0

    def test_fixture_bounds(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        [r] = get_queries()["q_sq8_grid_drift"](spark, sf_dir).collect()
        assert r["n_values"] > 0
        assert 0 <= r["n_sat_lo"] + r["n_sat_hi"] <= r["n_values"]
        assert 0 <= r["worst_dim"] < 64
        assert 0 <= r["worst_dim_sat_q20"] <= 1048576


class TestSessionsOverlapPairs:
    """Round-14: interval overlap join via time-binning
    (plans/analytics.py:q_sessions_overlap_pairs)."""

    def test_binned_rewrite_equals_naive_on_constructed(self, spark):
        """Known geometry: user 1's session [00:00, 02:00] overlaps user
        2's [01:00, 03:00] (shares bins AND time) but not user 3's
        [05:00, 06:00] (no shared time even though a quadratic bin width
        would collide) — and a same-bin-but-disjoint pair must NOT count
        (the exact re-check after the coarse bin join)."""
        import datetime as dt

        from spark_sql_custom_mq_datasource_spark.plans.analytics import (
            session_intervals,
        )

        base = dt.datetime(2024, 1, 1, 0, 0, 0)

        def ev(eid, uid, minutes):
            return (eid, base + dt.timedelta(minutes=minutes), uid)

        rows = [
            # user 1: one session 00:00-02:00 (gap < 30 min inside)
            ev(1, 1, 0), ev(2, 1, 25), ev(3, 1, 50), ev(4, 1, 75),
            ev(5, 1, 100), ev(6, 1, 120),
            # user 2: one session 01:00-03:00
            ev(7, 2, 60), ev(8, 2, 85), ev(9, 2, 110), ev(10, 2, 135),
            ev(11, 2, 160), ev(12, 2, 180),
            # user 3: 05:00-05:45 — no overlap with anyone
            ev(13, 3, 300), ev(14, 3, 325), ev(15, 3, 345),
            # user 4: 02:10-02:20 — same HOUR BIN as users 1/2 tails;
            # overlaps user 2 (02:10 <= 03:00) but NOT user 1 (> 02:00)
            ev(16, 4, 130), ev(17, 4, 140),
        ]
        evdf = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long"
        )
        iv = session_intervals(evdf)
        assert iv.count() == 4  # one session per user

        from spark_sql_custom_mq_datasource_spark.plans.registry import QUERIES

        # drive the registered body on the constructed frame via the
        # same code path: rebuild inline (the query reads a fixture, so
        # replicate its chain here)
        import spark_sql_custom_mq_datasource_spark.plans.analytics as an

        binned = iv.select(
            "user_id", "session_id", "s_start", "s_end",
            F.explode(
                F.sequence(
                    F.floor(F.unix_micros("s_start") / (an.OVERLAP_BIN_S * 1_000_000)),
                    F.floor(F.unix_micros("s_end") / (an.OVERLAP_BIN_S * 1_000_000)),
                )
            ).alias("bin"),
        )
        a = binned.select(
            F.col("user_id").alias("ua"), F.col("session_id").alias("sa"),
            F.col("s_start").alias("a_start"), F.col("s_end").alias("a_end"),
            "bin",
        )
        b = binned.select(
            F.col("user_id").alias("ub"), F.col("session_id").alias("sb"),
            F.col("s_start").alias("b_start"), F.col("s_end").alias("b_end"),
            "bin",
        )
        got = sorted(
            map(
                tuple,
                a.join(b, "bin")
                .where(F.col("ua") < F.col("ub"))
                .select("ua", "sa", "ub", "sb", "a_start", "a_end", "b_start", "b_end")
                .distinct()
                .where(
                    (F.col("a_start") <= F.col("b_end"))
                    & (F.col("b_start") <= F.col("a_end"))
                )
                .groupBy("ua", "ub")
                .agg(F.count("*").alias("n"))
                .collect(),
            )
        )
        assert got == [(1, 2, 1), (2, 4, 1)]

    def test_fixture_matches_naive_quadratic(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.analytics import (
            session_intervals,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t as _t

        got = sorted(
            map(
                tuple,
                get_queries()["q_sessions_overlap_pairs"](spark, sf_dir).collect(),
            )
        )
        iv = session_intervals(_t(spark, sf_dir, "events"))
        a = iv.select(
            F.col("user_id").alias("ua"),
            F.col("s_start").alias("a_start"),
            F.col("s_end").alias("a_end"),
        )
        b = iv.select(
            F.col("user_id").alias("ub"),
            F.col("s_start").alias("b_start"),
            F.col("s_end").alias("b_end"),
        )
        naive = sorted(
            map(
                tuple,
                a.join(
                    b,
                    (F.col("ua") < F.col("ub"))
                    & (F.col("a_start") <= F.col("b_end"))
                    & (F.col("b_start") <= F.col("a_end")),
                )
                .groupBy(F.col("ua").alias("user_a"), F.col("ub").alias("user_b"))
                .agg(F.count("*").cast("bigint").alias("n_overlaps"))
                .collect(),
            )
        )
        assert got == naive and got


class TestOverlapHotBin:
    """Round-15: hot-bin guard for the interval overlap join
    (plans/analytics.py:overlap_hotbins, VERDICT r14 missing 3)."""

    @staticmethod
    def _hot_corpus(spark):
        """64 sub-second disjoint sessions packed into ONE hour bin (the
        flash-crowd geometry: a coarse bin makes them all mutual
        candidates though none overlap) plus exactly one genuinely
        overlapping pair."""
        import datetime as dt

        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = []
        for u in range(64):
            s = base + dt.timedelta(seconds=10 + 40 * u)
            rows.append((u, 1, s, s + dt.timedelta(milliseconds=500)))
        # users 100/101: [12:50:00, 12:50:20] x [12:50:10, 12:50:30] —
        # still inside the hour bin, clear of the packed block (which
        # ends at second 2530)
        rows.append(
            (
                100,
                1,
                base + dt.timedelta(seconds=3000),
                base + dt.timedelta(seconds=3020),
            )
        )
        rows.append(
            (
                101,
                1,
                base + dt.timedelta(seconds=3010),
                base + dt.timedelta(seconds=3030),
            )
        )
        return spark.createDataFrame(
            rows,
            "user_id long, session_id long, s_start timestamp, s_end timestamp",
        )

    def test_join_is_bin_width_invariant(self, spark):
        """The rewrite is LOSSLESS at any bin width — coarse (everything
        collides) and fine (almost nothing does) give the identical
        answer; bin_s tunes cost only."""
        from spark_sql_custom_mq_datasource_spark.plans.analytics import (
            overlap_pairs,
        )

        iv = self._hot_corpus(spark)
        expected = [(100, 101, 1)]
        for bin_s in (3600, 60, 1):
            got = sorted(map(tuple, overlap_pairs(iv, bin_s).collect()))
            assert got == expected, f"bin_s={bin_s}"

    def test_hotbin_diagnostic_prices_the_blowup(self, spark):
        """The diagnostic must SHOW the coarse-bin blowup (one hour bin
        holding all 66 sessions -> 66*65/2 candidate pairs) and show it
        killed by the bin-width knob (at 1 s bins the worst bin holds a
        handful — candidate mass drops ~3 orders of magnitude)."""
        from spark_sql_custom_mq_datasource_spark.plans.analytics import (
            overlap_hotbins,
        )

        iv = self._hot_corpus(spark)
        hot = overlap_hotbins(iv, 3600, 1).collect()
        assert len(hot) == 1
        assert hot[0]["n_sessions"] == 66
        assert hot[0]["candidate_pairs"] == 66 * 65 // 2
        fine = overlap_hotbins(iv, 1, 1).collect()
        # worst 1-second bin: a couple of packed sessions + the
        # overlapping pair — nowhere near the coarse bin's 2145
        assert fine[0]["candidate_pairs"] * 100 < hot[0]["candidate_pairs"]


class TestMaxsimPersisted:
    """Round-15: MaxSim served from the durable token-vector artifact
    (operators/retrieval.py:q_retrieval_maxsim_persisted, VERDICT r14
    missing 4)."""

    def test_persisted_serving_equals_inline(self, spark, sf_dir):
        """Serving from the (tok, tv) parquet must be bit-identical to
        the inline md5-stub scorer — the swap-a-learned-table-in seam."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        inline = sorted(
            map(tuple, qs["q_retrieval_maxsim"](spark, sf_dir).collect())
        )
        persisted = sorted(
            map(tuple, qs["q_retrieval_maxsim_persisted"](spark, sf_dir).collect())
        )
        assert persisted == inline and persisted

    def test_artifact_covers_vocabulary(self, spark, sf_dir):
        """The artifact must cover every corpus token AND every benchmark
        query token (what a learned embedding table covers by
        construction) — an inner lookup join then drops nothing."""
        from spark_sql_custom_mq_datasource_spark.operators.retrieval import (
            BM25_QUERIES,
            MAXSIM_DIM,
            maxsim_token_vectors_path,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import tp as _tp

        tv = spark.read.parquet(maxsim_token_vectors_path(spark, sf_dir))
        toks = {r["tok"] for r in tv.collect()}
        corpus = {
            r["t"]
            for r in _tp(spark, sf_dir, "documents")
            .select(F.explode(F.split(F.trim("text"), " ")).alias("t"))
            .distinct()
            .collect()
        }
        qtoks = {w for _, q in BM25_QUERIES for w in q.split()}
        assert corpus <= toks and qtoks <= toks
        assert all(len(r["tv"]) == MAXSIM_DIM for r in tv.limit(5).collect())


class TestSq8GridRefresh:
    """Round-15: the SQ8 grid drift APPLY step
    (operators/similarity.py:sq8_grid_refresh_readout, VERDICT r14
    missing 2)."""

    def test_moved_dims_on_constructed_drift(self, spark):
        """Constructed geometry: the odd-id (post-build) half extends the
        range on dims 0..2 ONLY. The refresh must report exactly those 3
        dims moved, a saturation count of 20 odd rows x 3 dims under the
        stale grid, zero under the retrained grid — and its internal
        probe-vs-rebuild assertion must hold."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            SQ8_DIM,
            sq8_grid_refresh_readout,
        )

        rows = []
        for vid in range(40):
            v = [float((vid % 7) * 0.125)] * SQ8_DIM
            if vid % 2 == 1:
                for d in range(3):
                    v[d] += 10.0
            rows.append((vid, v))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = sq8_grid_refresh_readout(spark, emb).collect()
        assert out
        for r in out:
            assert r["n_dims_moved"] == 3
            assert r["n_sat_before"] == 20 * 3
            assert r["n_sat_after"] == 0

    def test_no_drift_means_no_moved_dims(self, spark):
        """When the post-build half stays inside the trained grid the
        refresh is a no-op re-encode: zero moved dims, zero saturation
        either side."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            SQ8_DIM,
            sq8_grid_refresh_readout,
        )

        # vid//2 % 2 alternates within EACH parity class, so the even
        # (build) half and the odd (post-build) half span the identical
        # per-dim [0, 0.25] range
        rows = [
            (vid, [float(vid // 2 % 2 * 0.25)] * SQ8_DIM) for vid in range(40)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        for r in sq8_grid_refresh_readout(spark, emb).collect():
            assert r["n_dims_moved"] == 0
            assert r["n_sat_before"] == 0
            assert r["n_sat_after"] == 0


class TestSq8IndexLifecycle:
    """Round-15: SQ8 index maintenance twins
    (operators/index_lifecycle.py:q_stream_sq8_index_grow / q_sq8_index_compact
    / q_sq8_index_health, VERDICT r14 missing 1)."""

    def test_grown_serving_equals_persisted_one_shot(self, spark, sf_dir):
        """base ∪ deltas under the frozen grid must serve bit-identically
        to the one-shot persisted index (they share the oracle; pin it
        suite-side too so a fixture change can't mask a drift)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        one_shot = sorted(
            map(tuple, qs["q_ann_sq8_persisted"](spark, sf_dir).collect())
        )
        compacted = sorted(
            map(tuple, qs["q_sq8_index_compact"](spark, sf_dir).collect())
        )
        assert compacted == one_shot and compacted

    def test_health_occupancy_matches_corpus(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.operators.index_lifecycle import (
            PQ_HEALTH_SAMPLE,
        )

        [row] = get_queries()["q_sq8_index_health"](spark, sf_dir).collect()
        assert row["n_sampled"] == PQ_HEALTH_SAMPLE
        assert 0 <= row["recall_hits"] <= row["recall_possible"]
        occ = {
            r["label"]: r["n"]
            for r in t(spark, sf_dir, "embeddings")
            .groupBy("label")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert row["n_cells"] == len(occ)
        assert row["hottest_cell"] in occ
        assert occ[row["hottest_cell"]] == max(occ.values())


class TestSq8Refine:
    """Round-15: two-stage SQ8 serving with exact re-rank
    (operators/similarity.py:q_ann_sq8_refine)."""

    def test_refine_never_hurts_recall(self, spark, sf_dir):
        """Within the shortlist the refine ranks EXACTLY, so every exact
        top-k member the SQ8 shortlist contains survives to the final
        top-k — refine recall >= plain SQ8 recall, per query."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            N_QUERIES,
            _collect_query_eq,
            grid_exact_topk,
            q_ann_sq8_refine,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import tp as _tp

        emb = _tp(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        queries = _collect_query_eq(emb.where(F.col("vec_id") < N_QUERIES))
        exact = {}
        for r in grid_exact_topk(emb, queries).collect():
            exact.setdefault(r["qid"], set()).add(r["neighbor_id"])
        sq8 = {}
        for r in get_queries()["q_ann_sq8_topk"](spark, sf_dir).collect():
            sq8.setdefault(r["qid"], set()).add(r["neighbor_id"])
        refined = {}
        for r in q_ann_sq8_refine(spark, sf_dir).collect():
            refined.setdefault(r["qid"], set()).add(r["neighbor_id"])
        for qid, ex in exact.items():
            assert len(refined[qid] & ex) >= len(sq8.get(qid, set()) & ex)


class TestIvfSq8Residual:
    """Round-15: residual IVF-SQ8 (FAISS by_residual default,
    operators/similarity.py:q_ann_ivf_sq8_residual)."""

    def test_residual_grid_tighter_on_clustered_corpus(self, spark):
        """The reason by_residual is the default: on a corpus with REAL
        cluster structure the residual-trained per-dim ranges are far
        tighter than the absolute grid — the same 8 bits buy finer
        resolution."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            _SQL_EQV,
            SQ8_DIM,
            _arr_raw_minmax,
            ivf_sq8_cells,
            sq8_stats,
        )

        rows = []
        for vid in range(60):
            label = vid % 2
            center = 0.0 if label == 0 else 1.0
            v = [center + (vid % 5) * 0.001] * SQ8_DIM
            rows.append((vid, v, label))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        _, rng_abs = sq8_stats(emb)
        cells_df = spark.createDataFrame(
            [(label, cq) for label, cq in ivf_sq8_cells(emb)],
            "label int, cq array<bigint>",
        )
        rem = emb.join(cells_df, "label").select(
            F.expr(f"zip_with({_SQL_EQV}, cq, (x, y) -> x - y)").alias("rv")
        )
        rng_res = _arr_raw_minmax(rem, "rv").rng
        # absolute range spans the inter-cluster gap (~1.0); residual
        # range spans only the within-cluster spread (~0.004)
        assert sum(rng_res) * 10 < sum(rng_abs)

    def test_persisted_serving_equals_in_memory(self, spark, sf_dir):
        """Serving from the durable residual index must be bit-identical
        to the in-memory composition (shared oracle + this suite pin)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        mem = sorted(
            map(tuple, qs["q_ann_ivf_sq8_residual"](spark, sf_dir).collect())
        )
        per = sorted(
            map(
                tuple,
                qs["q_ann_sq8_residual_persisted"](spark, sf_dir).collect(),
            )
        )
        assert per == mem and per

    def test_grown_residual_serving_equals_persisted(self, spark, sf_dir):
        """base ∪ deltas under the frozen residual artifacts must serve
        bit-identically to the one-shot persisted residual index (shared
        oracle; pinned suite-side like the raw-SQ8 twin)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        one_shot = sorted(
            map(
                tuple,
                qs["q_ann_sq8_residual_persisted"](spark, sf_dir).collect(),
            )
        )
        compacted = sorted(
            map(
                tuple,
                qs["q_sq8_residual_index_compact"](spark, sf_dir).collect(),
            )
        )
        assert compacted == one_shot and compacted


class TestOverlapBinSweep:
    """Round-15: the bin_s knob read-out
    (plans/analytics.py:q_overlap_bin_sweep)."""

    def test_true_pairs_constant_and_explode_monotone(self, spark, sf_dir):
        """true_pairs must be identical in every row (bin_s-invariance
        proven in-query); explode rows and bin counts shrink as bins
        coarsen (candidate mass is NOT monotone in general — a pair
        sharing k fine bins counts k times — which is exactly why the
        sweep exists: the knee is data-dependent)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        rows = sorted(
            get_queries()["q_overlap_bin_sweep"](spark, sf_dir).collect(),
            key=lambda r: r["bin_s"],
        )
        assert len({r["true_pairs"] for r in rows}) == 1
        assert all(r["candidate_pairs"] >= r["true_pairs"] for r in rows)
        for a, b in zip(rows, rows[1:]):
            assert a["n_explode_rows"] >= b["n_explode_rows"]
            assert a["n_bins"] >= b["n_bins"]


class TestSq8ResidualGridDrift:
    """Round-16: residual-grid drift monitor
    (operators/similarity.py:q_sq8_residual_grid_drift)."""

    def test_within_cell_drift_invisible_to_raw_monitor(self, spark):
        """The blind-spot geometry (VERDICT r15 missing 2): two cells at
        ±1.0; the odd (audit) half of cell 0 drifts to −0.5 — INSIDE the
        corpus envelope, so the raw grid monitor reads zero saturation —
        while its residuals against the frozen centroid walk far outside
        the trained residual range, so the residual monitor alarms."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_grid_drift_readout,
            sq8_residual_grid_drift_readout,
        )

        dim = 64
        rows = []
        for vid in range(40):  # cell 0 around −1.0
            if vid % 2 == 0:
                v = -1.01 if vid % 4 == 0 else -0.99
            else:
                v = -0.5  # drifted audit data, still inside [−1.01, 1.01]
            rows.append((vid, [v] * dim, 0))
        for vid in range(40, 80):  # cell 1 around +1.0, no drift
            if vid % 2 == 0:
                v = 1.01 if vid % 4 == 0 else 0.99
            else:
                v = 1.0
            rows.append((vid, [v] * dim, 1))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

        [raw] = sq8_grid_drift_readout(
            spark, emb.select("vec_id", "embedding")
        ).collect()
        assert raw["n_sat_lo"] == 0 and raw["n_sat_hi"] == 0  # blind

        [res] = sq8_residual_grid_drift_readout(spark, emb).collect()
        assert res["n_values"] == 40 * dim
        assert res["n_sat_hi"] == 20 * dim  # every drifted value alarms
        assert res["n_sat_lo"] == 0
        # every dim audits 40 values (both cells' odd halves); cell 0's
        # 20 drifted values saturate -> 50% share on the worst dim
        assert res["worst_dim_sat_q20"] == 524288

    def test_fixture_bounds(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        [r] = get_queries()["q_sq8_residual_grid_drift"](spark, sf_dir).collect()
        assert r["n_values"] > 0
        assert 0 <= r["n_sat_lo"] + r["n_sat_hi"] <= r["n_values"]
        assert 0 <= r["worst_dim"] < 64


class TestSq8ResidualGridRefresh:
    """Round-16: residual-grid refresh — the drift monitor's apply
    (operators/similarity.py:sq8_residual_grid_refresh_readout)."""

    def test_constructed_drift_is_absorbed(self, spark):
        """Within-cell drift geometry: the stale grid saturates on the
        drifted half (the alarm), the refreshed grid covers everything
        (n_sat_after == 0), the moved-dims count is every dim (the drift
        is isotropic here), and the readout's internal probe==rebuild
        assertion passes (it RAISES otherwise)."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_residual_grid_refresh_readout,
        )

        dim = 64
        rows = []
        for vid in range(40):
            if vid % 2 == 0:
                v = -1.01 if vid % 4 == 0 else -0.99
            else:
                v = -0.5
            rows.append((vid, [v] * dim, 0))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = sq8_residual_grid_refresh_readout(spark, emb).collect()
        assert out
        r = out[0]
        assert r["n_sat_before"] == 20 * dim  # the alarm's number
        assert r["n_sat_after"] == 0  # acceptance: fresh grid covers all
        assert r["n_dims_moved"] == dim

    def test_no_drift_moves_nothing(self, spark):
        """Odd half mirrors the even half exactly: the residual grid does
        not move, nothing saturates, and the refresh degenerates to a
        provable no-op re-encode."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_residual_grid_refresh_readout,
        )

        dim = 64
        rows = []
        for vid in range(40):
            v = 0.3 if vid % 4 in (0, 1) else 0.7
            rows.append((vid, [v] * dim, 0))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        r = sq8_residual_grid_refresh_readout(spark, emb).collect()[0]
        assert r["n_dims_moved"] == 0
        assert r["n_sat_before"] == 0 and r["n_sat_after"] == 0


class TestSq8CoarseRefresh:
    """Round-16: residual-SQ8 coarse-quantizer refresh
    (operators/similarity.py:sq8_coarse_refresh_readout)."""

    def test_only_shifted_cells_move(self, spark):
        """Constructed geometry: cell 0's odd half mirrors its even half
        (centroid unchanged — its files must copy byte-untouched, the
        readout raises if not), cell 1's odd half shifts (centroid
        moves). Exactly one changed cell, and n_moved counts exactly its
        members."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_coarse_refresh_readout,
        )

        dim = 64
        rows = []
        for vid in range(40):  # cell 0: stable (odd == even values)
            v = 0.1 if vid % 4 in (0, 1) else 0.2
            rows.append((vid, [v] * dim, 0))
        for vid in range(40, 80):  # cell 1: odd half shifts 0.5 -> 0.9
            v = 0.5 if vid % 2 == 0 else 0.9
            rows.append((vid, [v] * dim, 1))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = sq8_coarse_refresh_readout(spark, emb).collect()
        assert out
        r = out[0]
        assert r["n_changed_cells"] == 1
        assert r["n_moved"] == 40  # cell 1's members only
        assert r["n_total"] == 80


class TestSq8DimColumnarRefresh:
    """Round-16: dim-columnar SQ8 layout + partial grid refresh
    (operators/similarity.py:sq8_dim_columnar_refresh_readout)."""

    def test_exactly_two_moved_dims_rewrite(self, spark):
        """The rewrite-fraction measurement (VERDICT r15 missing 4): odd
        rows extend the range of ONLY dims 3 and 17; the refresh must
        rewrite exactly those two d=K subdirs (the readout RAISES if any
        unmoved dim's files change) and report 2/64."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_dim_columnar_refresh_readout,
        )

        dim = 64
        rows = []
        for vid in range(40):
            base = 0.0 if vid % 4 in (0, 1) else 1.0
            v = [base] * dim
            if vid % 2 == 1:  # odd: new data, two dims drift out of grid
                v[3] = 2.0
                v[17] = 2.0
            rows.append((vid, v))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = sq8_dim_columnar_refresh_readout(spark, emb).collect()
        assert out
        r = out[0]
        assert r["n_dims_moved"] == 2
        assert r["n_dims_total"] == dim


class TestStreamSessionsOverlap:
    """Round-16: streaming co-presence twin
    (streaming/pipelines.py:q_stream_sessions_overlap)."""

    def test_converges_to_batch_overlap_join(self, spark, sf_dir):
        """The drained stream's per-user-pair counts must equal the
        one-shot batch overlap join exactly (the shared quadratic-spec
        oracle, pinned suite-side too). Runs with the redelivery
        exercise ON (the default), so batch-keyed idempotence is
        exercised inside this assertion."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        got = qs["q_stream_sessions_overlap"](spark, sf_dir).collect()
        want = qs["q_sessions_overlap_pairs"](spark, sf_dir).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert got  # non-degenerate at the fixture


class TestSq8DeleteMor:
    """Round-16: merge-on-read deletes + apply for the SQ8 index
    (operators/similarity.py:q_ann_sq8_delete_mor,q_sq8_delete_compact)."""

    def test_tombstoned_ids_never_served(self, spark, sf_dir):
        """No served neighbor may carry the tombstone residue; the
        internal probe==survivors-only-encode assertion (which RAISES on
        violation) runs inside the same call."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        rows = get_queries()["q_ann_sq8_delete_mor"](spark, sf_dir).collect()
        assert rows
        assert all(r["neighbor_id"] % 7 != 3 for r in rows)

    def test_apply_serves_identically_without_tombstones(self, spark, sf_dir):
        """The delete APPLY pass (row delta == tombstone count, direct
        serving == pre-apply MOR serving — both RAISE inside) must land
        on the same final ranking as the merge-on-read twin."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        mor = sorted(map(tuple, qs["q_ann_sq8_delete_mor"](spark, sf_dir).collect()))
        applied = sorted(
            map(tuple, qs["q_sq8_delete_compact"](spark, sf_dir).collect())
        )
        assert mor == applied


class TestOverlapIndexCompact:
    """Round-16: co-presence bin-index compaction
    (streaming/pipelines.py:q_sessions_overlap_index_compact)."""

    def test_converges_to_batch_overlap_join(self, spark, sf_dir):
        """Compaction mid-stream must not change the converged answer:
        the batch-side folds + compacted-index fold equal the one-shot
        batch overlap join (the bit-identical-probe proof RAISES inside
        the same call)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        got = qs["q_sessions_overlap_index_compact"](spark, sf_dir).collect()
        want = qs["q_sessions_overlap_pairs"](spark, sf_dir).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestSq8NprobeSweep:
    """Round-16: IVF-SQ8 nprobe tuning sweep
    (operators/similarity.py:q_ann_ivf_sq8_nprobe_sweep)."""

    def test_sweep_monotone(self, spark, sf_dir):
        """More probes admit strictly more candidates and never lose
        recall (the candidate sets are nested), and every point's
        bounds hold."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        rows = (
            get_queries()["q_ann_ivf_sq8_nprobe_sweep"](spark, sf_dir)
            .orderBy("nprobe")
            .collect()
        )
        assert len(rows) >= 2
        for prev, cur in zip(rows, rows[1:]):
            assert cur["n_candidates"] > prev["n_candidates"]
            assert cur["recall_hits"] >= prev["recall_hits"]
        for r in rows:
            assert 0 <= r["recall_hits"] <= r["recall_possible"]


class TestBinaryQuantization:
    """Round-16: binary-quantized ANN + exact re-rank
    (operators/similarity.py:q_ann_binary_quantized,q_ann_bq_refine)."""

    def test_packed_hamming_equals_per_dim(self, spark, sf_dir):
        """The two-int64-halves packing is an execution detail: packed
        XOR+bit_count Hamming must equal the per-dim bit comparison on
        the same thresholds (the oracle's formulation)."""
        from pyspark.sql import functions as F

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            QUANT,
            SQ8_DIM,
            bq_pack,
            bq_thresholds,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        emb = (
            t(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .limit(50)
        )
        t_ = bq_thresholds(emb)
        coded = bq_pack(emb, t_).collect()
        raw = {
            int(r["vec_id"]): r["embedding"]
            for r in emb.collect()
        }
        import math

        for row in coded:
            bits = [
                1
                if math.floor(float(raw[row["vec_id"]][d]) * QUANT + 0.5) > t_[d]
                else 0
                for d in range(SQ8_DIM)
            ]
            packed0 = sum(b << i for i, b in enumerate(bits[:32]))
            packed1 = sum(b << i for i, b in enumerate(bits[32:]))
            assert int(row["b0"]) == packed0 and int(row["b1"]) == packed1

    def test_refine_recall_dominates_raw_bits(self, spark, sf_dir):
        """Within-shortlist exactness: the refined top-k must overlap the
        exact integer-grid top-k at least as much as the raw Hamming
        top-k does."""
        from pyspark.sql import functions as F

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            N_QUERIES,
            _collect_query_eq,
            grid_exact_topk,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        qs = get_queries()
        raw = {
            (r["qid"], r["neighbor_id"])
            for r in qs["q_ann_binary_quantized"](spark, sf_dir).collect()
        }
        ref = {
            (r["qid"], r["neighbor_id"])
            for r in qs["q_ann_bq_refine"](spark, sf_dir).collect()
        }
        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        queries = _collect_query_eq(emb.where(F.col("vec_id") < N_QUERIES))
        exact = {
            (r["qid"], r["neighbor_id"])
            for r in grid_exact_topk(emb, queries).collect()
        }
        assert len(ref & exact) >= len(raw & exact)

    def test_bq_scan_stays_in_codegen(self, spark, sf_dir):
        """The bit scan must plan with NO Python evaluation (no Arrow
        hop — the point of packing into int64 columns) and no cartesian
        product; the only nested-loop join is the Q-row query-bits
        broadcast."""
        import re

        from tests.test_plans import df_plan
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            get_queries,
        )

        get_queries()
        df = QUERIES["q_ann_binary_quantized"].fn(spark, sf_dir)
        p = df_plan(spark, df)
        assert "EvalPython" not in p  # no BatchEvalPython / ArrowEvalPython
        assert "mapInPandas" not in p.lower()
        assert "CartesianProduct" not in p
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1


class TestPqDeleteFamily:
    """Round-17: merge-on-read deletes + apply for BOTH persisted PQ
    layouts through the parameterized delete bodies
    (operators/similarity.py:q_ann_pq_delete_mor,q_pq_delete_compact,
    q_ann_pq_residual_delete_mor,q_pq_residual_delete_compact)."""

    def test_tombstoned_ids_never_served(self, spark, sf_dir):
        """No served neighbor may carry the tombstone residue, on either
        layout; the internal probe==survivors-only-encode assertion
        (which RAISES on violation) runs inside the same calls."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        for name in ("q_ann_pq_delete_mor", "q_ann_pq_residual_delete_mor"):
            rows = qs[name](spark, sf_dir).collect()
            assert rows, name
            assert all(r["neighbor_id"] % 7 != 3 for r in rows), name

    def test_apply_serves_identically_without_tombstones(self, spark, sf_dir):
        """The delete APPLY pass (row delta == tombstoned ROW count —
        M rows per key on PQ — and direct serving == pre-apply MOR
        serving, both RAISE inside) must land on the same final ranking
        as the merge-on-read twin, on either layout."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        for mor_q, apply_q in (
            ("q_ann_pq_delete_mor", "q_pq_delete_compact"),
            ("q_ann_pq_residual_delete_mor", "q_pq_residual_delete_compact"),
        ):
            mor = sorted(map(tuple, qs[mor_q](spark, sf_dir).collect()))
            applied = sorted(map(tuple, qs[apply_q](spark, sf_dir).collect()))
            assert mor == applied, (mor_q, apply_q)

    def test_delete_keys_arrive_as_a_table(self, spark, sf_dir):
        """The bodies take deletes as a KEYS TABLE, not a predicate: an
        arbitrary ad-hoc key list (not the fixture residue) must drop
        exactly those neighbors from serving."""
        from pyspark.sql import functions as F

        from spark_sql_custom_mq_datasource_spark.operators.index_lifecycle import (
            IVF_PQ,
            delete_mor,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import tp

        emb = tp(spark, sf_dir, "embeddings")
        # baseline serving (empty keys table) to pick victims from
        none = emb.select("vec_id").where(F.lit(False))
        base = delete_mor(spark, sf_dir, IVF_PQ, none).collect()
        victims = sorted({r["neighbor_id"] for r in base})[:2]
        keys = spark.createDataFrame(
            [(int(v),) for v in victims], "vec_id long"
        )
        got = delete_mor(spark, sf_dir, IVF_PQ, keys).collect()
        assert got
        assert not {r["neighbor_id"] for r in got} & set(victims)


class TestBqPersistedIndex:
    """Round-17: persisted BQ index + lifecycle
    (operators/similarity.py:q_ann_bq_persisted,
    operators/index_lifecycle.py:q_stream_bq_index_grow,q_bq_index_compact,
    q_bq_index_health)."""

    def test_persisted_serving_bit_identical_to_inline(self, spark, sf_dir):
        """Serving off the durable artifacts (1-row thresholds + packed
        codes) must reproduce the inline twin's full Hamming ranking
        bit-for-bit."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        inline = sorted(
            map(tuple, qs["q_ann_binary_quantized"](spark, sf_dir).collect())
        )
        persisted = sorted(
            map(tuple, qs["q_ann_bq_persisted"](spark, sf_dir).collect())
        )
        assert inline == persisted
        assert inline

    def test_persisted_scan_stays_in_codegen(self, spark, sf_dir):
        """The persisted serving scan must keep the inline twin's plan
        discipline: no Python evaluation, no cartesian product; the only
        nested-loop join is the Q-row query-bits broadcast."""
        import re

        from tests.test_plans import df_plan
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            get_queries,
        )

        get_queries()
        df = QUERIES["q_ann_bq_persisted"].fn(spark, sf_dir)
        p = df_plan(spark, df)
        assert "EvalPython" not in p
        assert "mapInPandas" not in p.lower()
        assert "CartesianProduct" not in p
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1

    def test_grow_equals_persisted_serving(self, spark, sf_dir):
        """The streamed base ∪ deltas probe must equal the one-shot
        persisted serving (frozen thresholds make the fold stateless)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        grown = sorted(
            map(tuple, qs["q_stream_bq_index_grow"](spark, sf_dir).collect())
        )
        persisted = sorted(
            map(tuple, qs["q_ann_bq_persisted"](spark, sf_dir).collect())
        )
        assert grown == persisted

    def test_health_popcount_balanced_at_fixture(self, spark, sf_dir):
        """Fresh thresholds on the training corpus keep mean popcount
        near dim/2 (the monitor's green zone) and recall within
        bounds."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            SQ8_DIM,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        [r] = get_queries()["q_bq_index_health"](spark, sf_dir).collect()
        assert 0 <= r["recall_hits"] <= r["recall_possible"]
        mean_pop = r["mean_popcount_q20"] / 1048576.0
        assert SQ8_DIM * 0.25 < mean_pop < SQ8_DIM * 0.75


class TestTimeslicedOverlap:
    """Round-17: time-sliced co-presence with stateful session
    stitching (streaming/pipelines.py:q_stream_sessions_overlap_timesliced)."""

    @staticmethod
    def _ship_inbox(spark, inbox, slices):
        """Write each slice as one parquet file with ascending mtimes."""
        import os
        import shutil

        os.makedirs(inbox, exist_ok=True)
        base_mtime = 1_600_000_000
        for i, rows in enumerate(slices):
            df = spark.createDataFrame(
                rows, "user_id long, tsu long, event_id long"
            )
            part = os.path.join(inbox, f"_scratch{i}")
            df.coalesce(1).write.mode("overwrite").parquet(part)
            src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
            dst = os.path.join(inbox, f"{i:02d}.parquet")
            shutil.copyfile(os.path.join(part, src), dst)
            os.utime(dst, (base_mtime + i * 100, base_mtime + i * 100))
            shutil.rmtree(part, ignore_errors=True)

    def test_converges_to_batch_overlap_join(self, spark, sf_dir):
        """On the real fixture the stitched stream must equal the
        one-shot batch overlap join."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        got = qs["q_stream_sessions_overlap_timesliced"](spark, sf_dir).collect()
        want = qs["q_sessions_overlap_pairs"](spark, sf_dir).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert got

    def test_straddling_session_stitched_where_naive_splits(
        self, spark, tmp_path
    ):
        """The pin that justifies the stateful stage: a session whose
        events straddle the trigger boundary (23:50 → 00:10, gap 20 min)
        must be ONE interval. The stitcher finds both overlap pairs the
        full interval spans; naive per-batch sessionization over the
        same time slices splits the session into two point fragments and
        finds NEITHER."""
        import os
        import uuid

        from spark_sql_custom_mq_datasource_spark.plans.util import work_dir
        from spark_sql_custom_mq_datasource_spark.streaming.pipelines import (
            _overlap_converged,
            _overlap_fold,
            _overlap_timesliced_run,
        )

        day1_2350 = 1_705_358_000_000_000  # fixed epoch-us anchors,
        day2_0005 = day1_2350 + 15 * 60 * 1_000_000  # +15 min
        day1_2355 = day1_2350 + 5 * 60 * 1_000_000  # +5 min
        day2_0010 = day1_2350 + 20 * 60 * 1_000_000  # +20 min
        flush = day2_0010 + 7200 * 1_000_000
        slices = [
            [(1, day1_2350, 10), (3, day1_2355, 11)],  # before the cut
            [(2, day2_0005, 12), (1, day2_0010, 13)],  # after the cut
            [(1, flush, -1), (2, flush, -1), (3, flush, -1)],  # sentinel
        ]
        tag = uuid.uuid4().hex[:8]
        inbox = str(tmp_path / "inbox")
        self._ship_inbox(spark, inbox, slices)

        got = sorted(
            map(
                tuple,
                _overlap_timesliced_run(
                    spark,
                    inbox,
                    f"ts_overlap_pin_state_{tag}",
                    f"ts_overlap_pin_{tag}",
                ).collect(),
            )
        )
        # user 1's stitched [23:50, 00:10] overlaps 3's 23:55 AND 2's 00:05
        assert got == [(1, 2, 1), (1, 3, 1)]

        # the naive variant: per-batch sessionization over the SAME time
        # slices (the user-sliced fold's assumption violated) — user 1
        # splits into two point fragments, both pairs are LOST
        naive_state = work_dir(f"ts_overlap_naive_state_{tag}")
        schema = "user_id long, tsu long, event_id long"
        for i in range(2):  # real slices only; sentinel is a stream artifact
            bdf = (
                spark.read.schema(schema)
                .parquet(os.path.join(inbox, f"{i:02d}.parquet"))
                .selectExpr(
                    "user_id",
                    "timestamp_micros(tsu) AS ts",
                    "event_id",
                )
            )
            _overlap_fold(spark, naive_state, bdf, i)
        naive = sorted(map(tuple, _overlap_converged(spark, naive_state).collect()))
        assert naive == []  # both straddle-spanned pairs missed


class TestDimColumnarZipper:
    """Round-17: zipper-merge serving for the dim-columnar SQ8 layout
    (operators/similarity.py:q_sq8_dim_columnar_serve,
    sq8_dim_columnar_zipper)."""

    def test_serve_matches_array_row_scan(self, spark, sf_dir):
        """Zipper serving must equal the array-row SQ8 top-k exactly
        (the in-query RAISE runs inside the same call)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        got = sorted(
            map(tuple, qs["q_sq8_dim_columnar_serve"](spark, sf_dir).collect())
        )
        want = sorted(
            map(tuple, qs["q_ann_sq8_topk"](spark, sf_dir).collect())
        )
        assert got == want
        assert got

    def test_zipper_raises_on_non_cosorted_layout(self, spark, tmp_path):
        """Co-sortedness is verified, not assumed: scrambling one dim's
        file ordering must RAISE, not silently mis-zip."""
        import os

        import pytest
        from pyspark.sql import functions as F

        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            sq8_dim_columnar_write,
            sq8_dim_columnar_zipper,
        )

        coded = spark.createDataFrame(
            [(i, [i % 3, (i + 1) % 3]) for i in range(12)],
            "vec_id long, codes array<int>",
        )
        root = str(tmp_path / "codes")
        sq8_dim_columnar_write(coded, root, 2)
        # scramble dim 1 / bucket 0: rewrite it vec_id-DESCENDING
        target = os.path.join(root, "d=1", "bucket=0")
        scrambled = (
            spark.read.parquet(target)
            .orderBy(F.desc("vec_id"))
            .coalesce(1)
        )
        tmp_out = str(tmp_path / "scrambled")
        scrambled.write.mode("overwrite").parquet(tmp_out)
        import shutil

        shutil.rmtree(target)
        shutil.copytree(tmp_out, target)
        with pytest.raises(Exception, match="not co-sorted"):
            sq8_dim_columnar_zipper(spark, root, 2, 2).collect()


class TestBqDeleteAndRefresh:
    """Round-17: BQ delete pair + threshold refresh — the lifecycle
    symmetry closed on the fifth persisted layout
    (operators/similarity.py:q_ann_bq_delete_mor,q_bq_delete_compact,
    q_bq_threshold_refresh)."""

    def test_tombstoned_ids_never_served(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        rows = get_queries()["q_ann_bq_delete_mor"](spark, sf_dir).collect()
        assert rows
        assert all(r["neighbor_id"] % 7 != 3 for r in rows)

    def test_apply_serves_identically_without_tombstones(self, spark, sf_dir):
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        mor = sorted(map(tuple, qs["q_ann_bq_delete_mor"](spark, sf_dir).collect()))
        applied = sorted(
            map(tuple, qs["q_bq_delete_compact"](spark, sf_dir).collect())
        )
        assert mor == applied

    def test_refresh_lands_on_fresh_threshold_ranking(self, spark, sf_dir):
        """The refreshed serving must equal the inline twin (which
        trains on the full corpus — the fresh thresholds) and report a
        sane drift count."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            SQ8_DIM,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        qs = get_queries()
        rows = qs["q_bq_threshold_refresh"](spark, sf_dir).collect()
        assert rows
        assert all(0 <= r["n_dims_moved"] <= SQ8_DIM for r in rows)
        got = sorted((r["qid"], r["neighbor_id"], r["hamming"], r["rk"]) for r in rows)
        want = sorted(
            map(tuple, qs["q_ann_binary_quantized"](spark, sf_dir).collect())
        )
        assert got == want


class TestFilteredAnn:
    """Round-17: metadata-filtered vector search
    (operators/similarity.py:q_ann_sq8_filtered,
    q_ann_filtered_postfilter_loss)."""

    def test_prefilter_all_neighbors_satisfy_predicate(self, spark, sf_dir):
        """Every served neighbor must satisfy the metadata predicate
        (the in-query encode-then-filter RAISE runs in the same call)."""
        from spark_sql_custom_mq_datasource_spark.operators.similarity import (
            ANN_FILTER_MOD,
            ANN_FILTER_RESIDUE,
        )
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )
        from spark_sql_custom_mq_datasource_spark.plans.util import t

        rows = get_queries()["q_ann_sq8_filtered"](spark, sf_dir).collect()
        assert rows
        lbl = {
            r["vec_id"]: r["label"]
            for r in t(spark, sf_dir, "embeddings")
            .select("vec_id", "label")
            .collect()
        }
        assert all(
            lbl[r["neighbor_id"]] % ANN_FILTER_MOD == ANN_FILTER_RESIDUE
            for r in rows
        )

    def test_postfilter_loss_monotone_and_bounded(self, spark, sf_dir):
        """More unfiltered candidates can only help: n_returned and
        recall_hits are monotone in R, hits ≤ returned ≤ possible, and
        at the smallest cutoff (R == k) a selective filter starves the
        result set (n_returned < recall_possible — the loss the
        read-out exists to expose)."""
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            get_queries,
        )

        rows = (
            get_queries()["q_ann_filtered_postfilter_loss"](spark, sf_dir)
            .orderBy("r_cutoff")
            .collect()
        )
        assert len(rows) == 3
        for prev, cur in zip(rows, rows[1:]):
            assert cur["n_returned"] >= prev["n_returned"]
            assert cur["recall_hits"] >= prev["recall_hits"]
        for r in rows:
            assert r["recall_hits"] <= r["n_returned"] <= r["recall_possible"]
        assert rows[0]["n_returned"] < rows[0]["recall_possible"]


class TestBqIvf:
    """Round-17: binary IVF (operators/similarity.py:q_ann_bq_ivf)."""

    def test_prune_subsets_flat_scan_and_stays_in_codegen(self, spark, sf_dir):
        """Every IVF result must exist in the corpus and carry a
        Hamming distance ≥ the flat scan's k-th best (pruning can only
        lose candidates, never invent closer ones); the scan keeps the
        flat twin's plan discipline (no Python eval, no cartesian)."""
        from tests.test_plans import df_plan
        from spark_sql_custom_mq_datasource_spark.plans.registry import (
            QUERIES,
            get_queries,
        )

        qs = get_queries()
        ivf = qs["q_ann_bq_ivf"](spark, sf_dir).collect()
        flat = qs["q_ann_binary_quantized"](spark, sf_dir).collect()
        assert ivf
        flat_best = {}
        for r in flat:
            flat_best.setdefault(r["qid"], []).append(r["hamming"])
        for r in ivf:
            # the IVF rank-j distance can never beat the flat rank-j
            assert r["hamming"] >= flat_best[r["qid"]][r["rk"] - 1]
        p = df_plan(spark, QUERIES["q_ann_bq_ivf"].fn(spark, sf_dir))
        assert "EvalPython" not in p
        assert "CartesianProduct" not in p
