"""Central query registry.

Every operator/query the engine claims is registered here once, pairing
  * a Spark implementation  (SparkSession, sf_dir) -> DataFrame
  * an ANSI-SQL oracle string DuckDB can run on the same parquet tables
    (None for genuinely non-SQL-expressible ops — the driver then records a
    weaker rows-only check).

Column names are aliased identically on both sides: the correctness harness
sorts columns by name before value-hashing (driver contract in
/root/repo/__spark_entry__.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None
    headline: bool = False  # included in bench.py's timed set
    doc: str = ""


QUERIES: dict[str, Query] = {}


def register(
    name: str, oracle: str | None, headline: bool = False, doc: str = ""
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, headline=headline, doc=doc)
        return fn

    return deco


# The correctness harness verifies a 50-query PREFIX of the registry per
# round. This list pins that prefix explicitly (module import order alone
# left 4 queries never checked in any round — VERDICT.md r03 item 5).
#
# Rotation policy (bounds staleness): each round the prefix holds (a) every
# query whose code or oracle CHANGED this round, then (b) the families with
# the OLDEST last-green driver record, oldest first —
# tools/rotation_plan.py computes (b) from CORRECTNESS_r*.json. Earlier
# rounds' prefixes and plans live in git history and in their
# CORRECTNESS_r*.json records.
_PRIORITY: tuple[str, ...] = (
    # -- code changed: drained through streaming/pipelines.py's
    #    run_foreach_batch / run_to_table core ------------------------
    "q_stream_foreachbatch_parquet",
    "q_stream_rate_source",
    "q_stream_decontaminate",
    "q_stream_lm_score",
    "q_stream_mv_merge",
    "q_stream_manifest_ingest",
    "q_stream_mq_to_manifest",
    "q_stream_gram_counts_mv",
    "q_stream_split_route",
    "q_stream_dedup_incremental",
    "q_stream_phash_dedup",
    "q_stream_sessions_overlap",
    "q_stream_sessions_overlap_timesliced",
    "q_stream_pq_index_grow",
    "q_stream_pq_residual_index_grow",
    "q_stream_sq8_index_grow",
    "q_stream_sq8_residual_index_grow",
    "q_stream_bq_index_grow",
    # -- code changed: inbox built by plans/util.ordered_inbox ----------
    "q_stream_funnel_stateful",
    "q_stream_debounce",
    "q_stream_anomaly_zscore",
    "q_stream_source_quota",
    "q_stream_heavy_hitters",
    "q_stream_table_fingerprint",
    "q_sessions_overlap_index_compact",
    # -- the r12-stale records the previous prefix left out, then the
    #    next r13-stale ones (tools/rotation_plan.py order) -------------
    "q_text_token_stats",
    "q_dedup_substring_apply",
    "q_dedup_apply_clusters",
    "q_semantic_dedup_apply",
    "q_lm_perplexity_persisted",
    "q_sample_per_source_bottomk",
    "q_curriculum_by_perplexity",
    "q_bm25_persisted",
    "q_bm25_index_update",
    "q_decontaminate_apply",
    "q_multimodal_phash_dedup",
    "q_multimodal_phash_apply",
    "q_stream_chunk_documents",
    "q_stream_scd2_enrich",
    "q_rolling_dau_wau",
    "q_cohort_retention",
    "q_array_functions",
    "q_events_global_stats",
    "q_approx_percentile_bounds",
    "q_window_time_range_avg",
    "q_manifest_partition_evolution",
    "q_embedding_dim_stats",
    "q_hard_negative_mining",
    "q_embedding_pq_codebooks",
    "q_pq_adc_recall",
)
# NEXT ROTATION PLAN: lead with whatever the next change edits, then the
# remaining r13-stale records oldest-first (tools/rotation_plan.py; it
# cannot see which stale records earlier prefixes already covered).


def _load_all() -> None:
    """Import every module that registers queries (idempotent), then pin
    the harness-checked prefix to _PRIORITY order."""
    from ..operators import dedup  # noqa: F401
    from ..operators import index_lifecycle  # noqa: F401
    from ..operators import lm  # noqa: F401
    from ..operators import retrieval  # noqa: F401
    from ..operators import similarity  # noqa: F401
    from ..functions import text  # noqa: F401
    from ..operators import curation  # noqa: F401
    from ..functions import udfs  # noqa: F401
    from ..operators import multimodal  # noqa: F401
    from ..operators import profiling  # noqa: F401
    from ..operators import privacy  # noqa: F401
    from ..operators import joins  # noqa: F401
    from ..streaming import pipelines  # noqa: F401
    from ..sources import bucketing  # noqa: F401
    from ..sources import jsonl  # noqa: F401
    from ..sources import maintenance  # noqa: F401
    from ..sources import manifest  # noqa: F401
    from . import analytics  # noqa: F401
    from . import product_analytics  # noqa: F401
    from . import tpch  # noqa: F401
    from . import tpch2  # noqa: F401
    from . import tpch3  # noqa: F401

    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    for name, q in QUERIES.items():
        if name not in ordered:
            ordered[name] = q
    QUERIES.clear()
    QUERIES.update(ordered)


def get_queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: q.fn for name, q in QUERIES.items()}


def get_oracles() -> dict[str, str]:
    _load_all()
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def get_headline() -> list[str]:
    _load_all()
    return [name for name, q in QUERIES.items() if q.headline]
