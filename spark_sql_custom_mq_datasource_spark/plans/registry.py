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
    # -- code changed: the mqlog commit (one manifest parse, torn tail) --
    "q_mqlog_roundtrip",
    # -- the r12-stale records the previous prefix left out, then the
    #    next r13-stale ones (tools/rotation_plan.py order) -------------
    "q_unpivot_daily",
    "q_null_semantics",
    "q_ordered_string_agg",
    "q_histogram_totalprice",
    "q_zorder_point_range",
    "q_jsonl_roundtrip",
    "q_csv_roundtrip",
    "q_compact_small_files",
    "q_backfill_day_partition",
    "q_merge_upsert_customers",
    "q_schema_evolution_merge",
    "q_retention_prune",
    "q_scd2_build",
    "q_scd2_pointintime",
    "q_incremental_mv_merge",
    "q_top_customers",
    "q_full_outer_join_balance",
    "q_text_quality",
    "q_text_fingerprint",
    "q_text_bpeish_tokens",
    "q_text_lang_agg",
    "q_text_normalize",
    "q_text_repetition_scores",
    "q_langid_confusion",
    "q_bpe_train_merges",
    "q_bpe_encode",
    "q_dedup_rerank_cosine",
    "q_dedup_cross_source_matrix",
    "q_dedup_keep_longest",
    "q_manifest_retention_prune",
    "q_manifest_stats_skip",
    "q_manifest_row_deletes",
    "q_ann_ivf_pq",
    "q_pq_persisted_probe",
    "q_ann_ivf_pq_residual",
    "q_ann_ivf_pq_nprobe_sweep",
    "q_sample_weighted_per_source",
    "q_hybrid_rrf_topk",
    "q_mix_upsample",
    "q_pack_sequences",
    "q_split_leakage_free",
    "q_udf_scalar_tokens",
    "q_multimodal_binary_meta",
    "q_multimodal_frame_sample",
    "q_attribution_last_view",
    "q_stream_pq_encode",
    "q_semi_join_priority",
    "q_cube_orders",
    "q_distinct_parts_per_flag",
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
