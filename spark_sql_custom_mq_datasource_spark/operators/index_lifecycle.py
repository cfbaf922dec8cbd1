"""The grown-index lifecycle of the five persisted ANN layouts (PQ,
residual PQ, SQ8, residual SQ8, BQ), written once.

Every layout keeps its index current with the same grow -> compact ->
monitor loop:

  * grow: a base index (even vec_ids, encoded batch-side against the
    layout's FROZEN artifacts) grows by foreachBatch appends of the
    streamed remainder. Each micro-batch lands as a batch-keyed OVERWRITE
    subdir ``bNNNNN``, so a redelivered batch replaces its own output
    instead of double-appending (the exactly-once sink contract of
    Structured Streaming's foreachBatch, exercised inline). The serving
    probe over base ∪ deltas must equal the one-shot persisted serving:
    each layout shares its persisted twin's oracle.
  * compact: the grown layout, built batch-side, is rewritten into ONE
    committed subdir keeping the max batch id (compact_batch_root); the
    query raises unless the probe is bit-identical across the swap and
    the parquet file count shrank.
  * health: sampled exact recall of the serving path on a fixed-N
    md5-ordered anchor draw (the q_hard_negative_ann_sampled
    discipline), plus the layout's drift statistic: per-cell occupancy
    skew for the cell-partitioned layouts, mean popcount for flat BQ.
    The retrain thresholds are documented in SCALING.md.

  * delete: merge-on-read serving anti-joins a tombstone keys table
    against the persisted code scan (delete_mor); a maintenance pass
    applies the tombstones by rewriting the codes without them behind
    the pinned staged swap (delete_apply). Both raise unless serving
    is bit-identical to its rebuild from the survivors.

A ``Layout`` carries only what is the layout's own: its frozen-artifact
encode and serving probe, its partition column, the exact leg its recall
is scored against, its drift statistic, and its oracles.

Scale: per trigger the fold is O(batch), a stateless encode plus one
parquet append; nothing rescans the existing index. Probes read base +
deltas with per-subdir partition pruning (plan-pinned in
tests/test_plans.py); compaction runs at maintenance cadence; the
monitor's exact leg is O(N_sample · scan) with constant N and its drift
statistic is one |cells|-row (or 1-row) aggregate.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, replace
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import register
from ..plans.util import ordered_inbox, read_inbox, t, tp, work_dir
from ..sources.manifest import pinned_replace, replace_dir
from .similarity import (
    _SQL_BQ_BASE_CTES,
    _SQL_BQ_TOPK,
    _SQL_IVF_SQ8,
    _SQL_IVF_SQ8_RESIDUAL,
    _SQL_PQ_L2,
    IVF_NPROBE,
    IVFPQ_NPROBE,
    N_QUERIES,
    PQ_ITERS,
    PQ_QUERIES,
    PQ_SUBDIM,
    PQ_TOPK,
    QUANT,
    SQ8_DIM,
    SQ8_LEVELS,
    TOPK,
    _IVFPQ_SERVE_ORACLE,
    _PQ_PROBE_ORACLE,
    _SQ8_DELETE_MOD,
    _SQ8_DELETE_RESIDUE,
    _collect_query_eq,
    _ivfpq_residual_base_ctes,
    _ivfpq_residual_probe_ctes,
    _ivfpq_residual_serve_oracle,
    _pq_fixed_order_dist,
    _pq_l2,
    _pq_oracle_chain,
    _pq_subvectors,
    _pq_train_ctes,
    _proved_readout,
    _sq8_residuals,
    _sq8_tombstones,
    _tombstone_oracle,
    _sql_pq_msum,
    adc_probe_topk,
    bq_index_path,
    bq_pack,
    bq_serve,
    grid_exact_topk,
    ivf_sq8_scan,
    pq_adc_rank,
    pq_code_struct_array,
    pq_index_path,
    pq_probe_tables,
    pq_residual_encode,
    pq_residual_index_path,
    residual_probe_topk,
    sq8_encode,
    sq8_encode_ints,
    sq8_index_path,
    sq8_residual_index_path,
)

GROW_SLICES = 3  # the streamed remainder arrives as this many micro-batches
PQ_HEALTH_SAMPLE = 8  # every monitor's fixed-N anchor draw
_EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


# --------------------------------------------------------------------------
# The batch-keyed index layout: committed bNNNNN subdirs under one root
# --------------------------------------------------------------------------


def committed_batch_dirs(root: str, below: int | None = None) -> list[str]:
    """Batch-keyed subdirs (``bNNNNN``) of an incremental index root that
    carry a _SUCCESS marker (optionally only those from batches earlier
    than ``below``). Unmarked subdirs are half-written crashed attempts
    and stray non-batch entries are skipped."""
    if not os.path.isdir(root):
        return []
    out = []
    for d in sorted(os.listdir(root)):
        if not d.startswith("b"):
            continue
        try:
            bid = int(d[1:])
        except ValueError:
            continue  # stray non-batch entry (e.g. a temp dir)
        if below is not None and bid >= below:
            continue
        if os.path.exists(os.path.join(root, d, "_SUCCESS")):
            out.append(os.path.join(root, d))
    return out


def read_grown_codes(spark: SparkSession, codes_root: str) -> DataFrame:
    """base ∪ deltas of a batch-keyed root (committed subdirs only), one
    parquet read per subdir, so every subdir's scan keeps its own
    partition pruning."""
    grown = None
    for d in committed_batch_dirs(codes_root):
        part = spark.read.parquet(d)
        grown = part if grown is None else grown.unionByName(part)
    if grown is None:
        # a missing/failed base write otherwise surfaces as an opaque
        # AttributeError on the caller's .where
        raise FileNotFoundError(f"no committed batch subdirs under {codes_root}")
    return grown


def _write_codes(df: DataFrame, path: str, partition_by: str | None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def _write_batch(
    df: DataFrame, root: str, batch_id: int, partition_by: str | None
) -> None:
    """Batch-keyed OVERWRITE: rewriting batch ``batch_id`` replaces its
    own earlier output, never appends to it."""
    _write_codes(df, os.path.join(root, f"b{batch_id:05d}"), partition_by)


def _parquet_files(dirs: list[str]) -> int:
    return sum(
        1
        for d in dirs
        for _, _, files in os.walk(d)
        for fn in files
        if fn.endswith(".parquet")
    )


def compact_batch_root(
    spark: SparkSession,
    root: str,
    partition_by: str | None = None,
    coalesce_to: int = 1,
) -> tuple[int, int]:
    """Small-file compaction of a batch-keyed root: its committed subdirs
    are rewritten into ONE subdir carrying the MAX compacted batch id in
    ``coalesce_to`` files (still ``partition_by``-partitioned, so
    partition pruning survives), staged beside the root and swapped in
    with replace_dir. Readers that filter by batch id
    (committed_batch_dirs(root, below=b)) see the compacted subdir
    exactly when they saw any constituent, since batch ids keep growing
    past it. Row content is unchanged. Runs in a maintenance window (no
    concurrent fold); at scale size ``coalesce_to`` by bytes, not a
    constant.

    Returns (parquet_files_before, parquet_files_after)."""
    dirs = committed_batch_dirs(root)
    before = _parquet_files(dirs)
    if len(dirs) <= 1:
        return before, before
    max_id = max(int(os.path.basename(d)[1:]) for d in dirs)
    staged = root + "_new"
    shutil.rmtree(staged, ignore_errors=True)
    _write_batch(
        read_grown_codes(spark, root).coalesce(coalesce_to),
        staged,
        max_id,
        partition_by,
    )
    replace_dir(staged, root)
    return before, _parquet_files(committed_batch_dirs(root))


def _grow_inbox(spark: SparkSession, sf_dir: str) -> str:
    """The ONE deterministic inbox every index-grow query replays: the
    odd-vec_id remainder of the embeddings fixture as GROW_SLICES
    one-file micro-batches (slice i = vec_id % (2·n) == 2i+1). The spec
    string pins the slicing rule AND the column set; bump its version
    whenever _delta_slice or ordered_inbox's file layout changes."""
    emb = _embeddings(spark, sf_dir)
    spec = f"pq-grow-v3 slices={GROW_SLICES} odd-ids cols={','.join(emb.columns)}"
    return ordered_inbox(
        "pq_grow", sf_dir, spec, [_delta_slice(emb, i) for i in range(GROW_SLICES)]
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")


def _delta_slice(emb: DataFrame, i: int) -> DataFrame:
    return emb.where(F.col("vec_id") % (2 * GROW_SLICES) == 2 * i + 1)


def _first_ids(emb: DataFrame, n: int, *order) -> list[int]:
    rows = emb.select("vec_id").orderBy(*order).limit(n).collect()
    return [r["vec_id"] for r in rows]


# --------------------------------------------------------------------------
# The per-layout record
# --------------------------------------------------------------------------


class Bound(NamedTuple):
    """A layout's operations, bound to its frozen artifacts."""

    # (vec_id, embedding, label) batch -> the layout's code rows
    encode: Callable[[DataFrame], DataFrame]
    # (anchors, grown codes) -> the serving top-k (qid, neighbor_id, ...)
    probe: Callable[[DataFrame, DataFrame], DataFrame]
    codes: str  # the persisted index's code table (the delete pair's input)


@dataclass(frozen=True)
class Layout:
    """What one persisted layout contributes to the shared lifecycle."""

    key: str  # q_stream_<key>_index_grow, q_<key>_index_{compact,health}
    name: str
    partition_by: str | None  # "label"; None for BQ's flat layout
    bind: Callable[[SparkSession, str], Bound]  # loads the frozen artifacts
    # the query set of the one-shot persisted serving (the twin)
    serving_anchors: Callable[[DataFrame], DataFrame]
    # the health monitor's recall leg: (spark, embeddings, anchor ids,
    # served (qid, neighbor_id)) -> hits against the exact top-k
    exact_hits: Callable[[SparkSession, DataFrame, list[int], DataFrame], int]
    topk: int
    # the health monitor's drift columns: grown -> (values, schema)
    drift: Callable[[DataFrame], tuple[tuple, str]]
    serve_oracle: str
    # the serve oracle's candidate clause, where the tombstone filter lands
    candidate_clause: str
    health_oracle: str
    twin: str  # the persisted serving query whose oracle grow/compact share
    encode_doc: str
    health_doc: str

    def serve(self, bound: Bound, emb: DataFrame, grown: DataFrame) -> DataFrame:
        """The twin's serving probe, run over a grown code table."""
        return bound.probe(self.serving_anchors(emb), grown)


# --------------------------------------------------------------------------
# grow, build, compact, health: once for all layouts
# --------------------------------------------------------------------------


def _base_index(
    spark: SparkSession, sf_dir: str, layout: Layout, verb: str
) -> tuple[str, Bound, DataFrame]:
    """Bind the frozen artifacts and write the base index (even vec_ids)
    as batch 0; returns (codes_root, bound layout, embeddings)."""
    bound = layout.bind(spark, sf_dir)
    emb = _embeddings(spark, sf_dir)
    codes_root = os.path.join(work_dir(f"{layout.key}_{verb}_index"), "codes")
    base = bound.encode(emb.where(F.col("vec_id") % 2 == 0))
    _write_batch(base, codes_root, 0, layout.partition_by)
    return codes_root, bound, emb


def build_grown_layout(
    spark: SparkSession, sf_dir: str, layout: Layout, verb: str
) -> tuple[str, Bound, DataFrame]:
    """The grow fold's on-disk layout built batch-side, without the
    stream: base b00000 + GROW_SLICES delta subdirs (the inbox's odd-id
    slices), all through the frozen-artifact encoder. Returns
    (codes_root, bound layout, embeddings)."""
    codes_root, bound, emb = _base_index(spark, sf_dir, layout, verb)
    for i in range(GROW_SLICES):
        delta = bound.encode(_delta_slice(emb, i))
        _write_batch(delta, codes_root, i + 1, layout.partition_by)
    return codes_root, bound, emb


def grow(spark: SparkSession, sf_dir: str, layout: Layout) -> DataFrame:
    """Base index + the streamed remainder folded as batch-keyed
    OVERWRITE appends, then the twin's serving probe over base ∪ deltas."""
    from ..streaming.pipelines import redelivery_exercise, run_foreach_batch

    codes_root, bound, emb = _base_index(spark, sf_dir, layout, "grow")
    inbox = _grow_inbox(spark, sf_dir)

    def fold(bdf: DataFrame, batch_id: int) -> None:
        _write_batch(bound.encode(bdf), codes_root, batch_id + 1, layout.partition_by)

    delivered = run_foreach_batch(
        spark, read_inbox(spark, _EMB_SCHEMA, inbox), fold, f"{layout.key}_grow"
    )
    # Redelivery exercise (default ON, see redelivery_exercise): re-fold
    # the LAST DELIVERED batch's content under its recorded id.
    # max(delivered), not GROW_SLICES-1: availableNow may group files
    # into fewer batches. The probe must not change.
    if delivered and redelivery_exercise():
        last = max(delivered)
        inbox_file = os.path.join(inbox, f"{last:02d}.parquet")
        fold(spark.read.schema(_EMB_SCHEMA).parquet(inbox_file), last)

    return layout.serve(bound, emb, read_grown_codes(spark, codes_root))


def compact(spark: SparkSession, sf_dir: str, layout: Layout) -> DataFrame:
    """Compact the grown layout; raise unless the serving probe is
    bit-identical across the swap and the parquet file count shrank."""
    codes_root, bound, emb = build_grown_layout(spark, sf_dir, layout, "compact")

    def probe() -> DataFrame:
        return layout.serve(bound, emb, read_grown_codes(spark, codes_root))

    pre = sorted(map(tuple, probe().collect()))  # bounded: Q·topk rows
    before, after = compact_batch_root(spark, codes_root, layout.partition_by)
    if after >= before:
        raise AssertionError(
            f"{layout.name} compaction did not shrink files: {before} -> {after}"
        )
    post_df = probe()
    if sorted(map(tuple, post_df.collect())) != pre:
        raise AssertionError(f"probe changed across {layout.name} index compaction")
    return post_df


def health(spark: SparkSession, sf_dir: str, layout: Layout) -> DataFrame:
    """One row: sampled exact recall of the serving path over the grown
    index, then the layout's drift columns."""
    codes_root, bound, emb = build_grown_layout(spark, sf_dir, layout, "health")
    grown = read_grown_codes(spark, codes_root)
    # the monitored sample: a deterministic pseudo-random draw, NOT the
    # serving anchors
    anchor_ids = _first_ids(
        emb, PQ_HEALTH_SAMPLE, F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    served = bound.probe(emb.where(F.col("vec_id").isin(anchor_ids)), grown)
    hits = layout.exact_hits(
        spark, emb, anchor_ids, served.select("qid", "neighbor_id")
    )
    drift, drift_schema = layout.drift(grown)
    return spark.createDataFrame(
        [(PQ_HEALTH_SAMPLE, int(hits), PQ_HEALTH_SAMPLE * layout.topk, *drift)],
        "n_sampled int, recall_hits bigint, recall_possible bigint, "
        + drift_schema,
    )


def delete_mor(
    spark: SparkSession, sf_dir: str, layout: Layout, dels: DataFrame
) -> DataFrame:
    """Merge-on-read serving over the persisted index: the code scan MINUS
    the tombstone keys table ``dels`` (any (vec_id) DataFrame — the
    erasure-feed contract; an unhinted equi anti-join), served by the
    twin's probe, which keeps its probed-cell partition filter. RAISES
    unless bit-identical to serving over a survivors-only encode against
    the same frozen artifacts."""
    bound = layout.bind(spark, sf_dir)
    emb = tp(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    live = spark.read.parquet(bound.codes).join(dels, "vec_id", "left_anti")
    survivors = bound.encode(emb.join(dels, "vec_id", "left_anti"))
    return _proved_readout(
        spark,
        layout.serve(bound, emb, live),
        layout.serve(bound, emb, survivors),
    )


def delete_apply(
    spark: SparkSession, sf_dir: str, layout: Layout, dels: DataFrame
) -> DataFrame:
    """The APPLY pass: an own copy of the index (the session-cached one
    stays live) is rewritten without the tombstoned rows behind
    pinned_replace. RAISES unless the row delta equals the tombstoned
    row count (M rows per key on PQ) and serving the compacted index
    DIRECTLY equals the merge-on-read probe before the apply."""
    bound = layout.bind(spark, sf_dir)
    emb = tp(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    live = os.path.join(work_dir(f"{layout.key}_delete_compact_index"), "codes")
    _write_codes(bound.encode(emb), live, layout.partition_by)

    def codes() -> DataFrame:
        return spark.read.parquet(live)

    mor = layout.serve(bound, emb, codes().join(dels, "vec_id", "left_anti"))
    pre = sorted(map(tuple, mor.collect()))  # bounded: Q·topk rows
    rows_before = codes().count()
    n_tombstoned = codes().join(dels, "vec_id", "semi").count()
    pinned_replace(
        live,
        lambda staged: _write_codes(
            codes().join(dels, "vec_id", "left_anti"), staged, layout.partition_by
        ),
    )
    dropped = rows_before - codes().count()
    if dropped != n_tombstoned:
        raise AssertionError(f"apply dropped {dropped} rows, expected {n_tombstoned}")
    post_df = layout.serve(bound, emb, codes())
    post_rows = post_df.collect()
    if sorted(map(tuple, post_rows)) != pre:
        raise AssertionError("probe changed across the delete apply")
    return spark.createDataFrame(post_rows, post_df.schema).orderBy("qid", "rk")


# --------------------------------------------------------------------------
# Recall legs and drift statistics
# --------------------------------------------------------------------------


def _pq_exact_hits(
    spark: SparkSession, emb: DataFrame, anchor_ids: list[int], served: DataFrame
) -> int:
    """Exact subvector-space top-PQ_TOPK of the anchors (fixed m-order
    distance sums, the oracle's arithmetic), joined to ``served``."""
    from pyspark.storagelevel import StorageLevel

    sv = (
        _pq_subvectors(emb.select("vec_id", "embedding"))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.DISK_ONLY)
    )
    q = sv.where(F.col("vec_id").isin(anchor_ids)).select(
        F.col("vec_id").alias("qid"), "m", F.col("sv").alias("qsv")
    )
    topw = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("vec_id"))
    ext = (
        F.broadcast(q)
        .join(sv, "m")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "m", _pq_l2(F.col("qsv"), F.col("sv")).alias("dd"))
        .groupBy("qid", "vec_id")
        .agg(_pq_fixed_order_dist())
        .withColumn("rk", F.row_number().over(topw))
        .where(F.col("rk") <= PQ_TOPK)
        .select("qid", F.col("vec_id").alias("neighbor_id"))
    )
    try:
        return ext.join(served, ["qid", "neighbor_id"]).count()
    finally:
        sv.unpersist()


def _grid_exact_hits(
    spark: SparkSession, emb: DataFrame, anchor_ids: list[int], served: DataFrame
) -> int:
    """Exact top-TOPK on the raw Q20 integer grid. It does not depend on
    the quantizer, so one leg serves SQ8, residual SQ8 and BQ."""
    queries = _collect_query_eq(emb.where(F.col("vec_id").isin(anchor_ids)))
    ext = grid_exact_topk(emb, queries).select("qid", "neighbor_id")
    return ext.join(served, ["qid", "neighbor_id"]).count()


def _q20(num: int, den: int) -> int:
    return int(math.floor(num * 1048576.0 / den + 0.5))


def _occupancy(grown: DataFrame) -> tuple[tuple, str]:
    """Per-cell occupancy straight off the index: the hottest cell, its
    corpus share and the max-over-average occupancy (Q20). A PQ table
    holds M rows per vector, so only its m=0 rows are counted."""
    if "m" in grown.columns:
        grown = grown.where(F.col("m") == 0)
    rows = (
        grown.groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()  # bounded: |cells| rows
    )
    mx = max(int(r["n"]) for r in rows)
    tot = sum(int(r["n"]) for r in rows)
    hottest = min((-int(r["n"]), int(r["label"])) for r in rows)[1]
    return (
        (hottest, len(rows), _q20(mx, tot), _q20(mx * len(rows), tot)),
        "hottest_cell int, n_cells int, hottest_share_q20 bigint, "
        "cell_max_over_avg_q20 bigint",
    )


def _bit_balance(grown: DataFrame) -> tuple[tuple, str]:
    """Mean per-vector popcount (Q20) straight off the packed codes."""
    [pop] = grown.agg(
        F.sum(F.bit_count("b0") + F.bit_count("b1")).alias("sb"),
        F.count("*").alias("n"),
    ).collect()
    return (_q20(int(pop["sb"]), int(pop["n"])),), "mean_popcount_q20 bigint"


# --------------------------------------------------------------------------
# The five layouts: frozen artifacts, encode and probe
# --------------------------------------------------------------------------


def _pq_queries(anchors: DataFrame) -> DataFrame:
    """(qid, m, qsv): the anchors' query-side subvectors."""
    return _pq_subvectors(anchors.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("qid"), "m", F.col("sv").alias("qsv")
    )


def _bind_pq(spark: SparkSession, sf_dir: str) -> Bound:
    """Frozen codebooks; the encode is the stateless expression encoder
    (pq_code_struct_array), bit-identical to the build's pq_assign."""
    cb_path, codes_path, _ = pq_index_path(spark, sf_dir)
    cdf = spark.read.parquet(cb_path)

    # built on first encode: building the M·K literal structs took ~2.4 s
    # of driver time per bind (sf0.01, 4 cores), which a serving-only
    # bind (q_ann_ivf_pq_persisted) never needs
    @functools.cache
    def codebook_expr():
        by_m: dict[int, list] = {}
        for r in cdf.collect():  # bounded: M·K rows
            by_m.setdefault(r["m"], []).append((r["code"], list(r["cu"])))
        return pq_code_struct_array(by_m)

    def encode(bdf: DataFrame) -> DataFrame:
        mc = F.explode(codebook_expr()).alias("mc")
        return bdf.select("vec_id", mc, "label").select(
            "vec_id", F.col("mc.m").alias("m"), F.col("mc.code").alias("code"), "label"
        )

    def probe(anchors: DataFrame, grown: DataFrame) -> DataFrame:
        return adc_probe_topk(_pq_queries(anchors), cdf, grown)

    return Bound(encode, probe, codes_path)


def _bind_ivf_pq(spark: SparkSession, sf_dir: str) -> Bound:
    """Raw PQ served IVF-style (q_ann_ivf_pq_persisted): _bind_pq's
    encode, a probe that coarse-prunes against the persisted cell
    centroids and turns the probed labels (a bounded collect, ≤ Q·nprobe
    values) into a literal IN PARTITION filter on the code scan before
    ADC."""
    cb_path, _, cells_path = pq_index_path(spark, sf_dir)
    cdf = spark.read.parquet(cb_path)
    cells = spark.read.parquet(cells_path)

    def probe(anchors: DataFrame, grown: DataFrame) -> DataFrame:
        probes, qd = pq_probe_tables(_pq_queries(anchors), cdf, cells)
        probed = sorted(
            {r["label"] for r in probes.select("label").distinct().collect()}
        )
        return pq_adc_rank(grown.where(F.col("label").isin(probed)), probes, qd)

    return _bind_pq(spark, sf_dir)._replace(probe=probe)


def _bind_pq_residual(spark: SparkSession, sf_dir: str) -> Bound:
    """Frozen residual codebooks + INT cell centroids."""
    cb_path, codes_path, cells_path = pq_residual_index_path(spark, sf_dir)
    rcdf = spark.read.parquet(cb_path)
    cells = spark.read.parquet(cells_path)

    def encode(bdf: DataFrame) -> DataFrame:
        return pq_residual_encode(bdf, cells, rcdf)

    def probe(anchors: DataFrame, grown: DataFrame) -> DataFrame:
        return residual_probe_topk(_pq_queries(anchors), rcdf, cells, grown)

    return Bound(encode, probe, codes_path)


def _bind_sq8(spark: SparkSession, sf_dir: str, residual: bool) -> Bound:
    """The frozen one-row [mn, rng] grid + INT cell centroids; the
    encode is the one-shot build's exact expressions."""
    index_path = sq8_residual_index_path if residual else sq8_index_path
    grid_path, codes_path, cells_path = index_path(spark, sf_dir)
    [grid] = spark.read.parquet(grid_path).collect()  # bounded: 1 row
    mn, rng = list(grid["mn"]), list(grid["rng"])
    cells_df = spark.read.parquet(cells_path)
    cells = sorted(
        (int(r["label"]), [int(v) for v in r["cq"]])
        for r in cells_df.collect()  # bounded: |cells| rows
    )

    def encode(bdf: DataFrame) -> DataFrame:
        if residual:
            return sq8_encode_ints(_sq8_residuals(bdf, cells_df), "rv", mn, rng)
        return sq8_encode(bdf, mn, rng)

    def probe(anchors: DataFrame, grown: DataFrame) -> DataFrame:
        return ivf_sq8_scan(
            grown, _collect_query_eq(anchors), cells, mn, rng, residual=residual
        )

    return Bound(encode, probe, codes_path)


def _bind_bq(spark: SparkSession, sf_dir: str) -> Bound:
    """The frozen per-dim sign cutoffs: the whole trained state is one
    64-integer row."""
    th_path, codes_path = bq_index_path(spark, sf_dir)
    [row] = spark.read.parquet(th_path).collect()  # bounded: 1 row
    cutoffs = [int(v) for v in row["t"]]

    def encode(bdf: DataFrame) -> DataFrame:
        return bq_pack(bdf.select("vec_id", "embedding"), cutoffs)

    def probe(anchors: DataFrame, grown: DataFrame) -> DataFrame:
        qdf = encode(anchors).select(
            F.col("vec_id").alias("qid"),
            F.col("b0").alias("qb0"),
            F.col("b1").alias("qb1"),
        )
        return bq_serve(grown, qdf)

    return Bound(encode, probe, codes_path)


def _first_anchors(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id").isin(_first_ids(emb, PQ_QUERIES, "vec_id")))


def _low_anchors(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") < N_QUERIES)


# --------------------------------------------------------------------------
# Health oracles (one per layout; the grow/compact queries share their
# persisted twin's serving oracle)
# --------------------------------------------------------------------------


def _pq_health_oracle() -> str:
    """Sampled exact recall of the ADC probe + occupancy, over the
    raw-PQ build chain."""
    hs = PQ_HEALTH_SAMPLE
    msum = _sql_pq_msum()
    return (
        _pq_oracle_chain()
        + f""",
    anch AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM sv)
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {hs}),
    qd AS MATERIALIZED (
      SELECT q.vec_id AS qid, c.m, c.code,
             {_SQL_PQ_L2.format(a="q.sv", b="c.cu", n=PQ_SUBDIM)} AS dd
      FROM sv q JOIN c{PQ_ITERS} c ON q.m = c.m
      WHERE q.vec_id IN (SELECT vec_id FROM anch)
    ),
    adcd AS (
      SELECT qd.qid, a.vec_id, qd.m AS m, qd.dd AS dd
      FROM afinal a JOIN qd ON a.m = qd.m AND a.code = qd.code
      WHERE a.vec_id <> qd.qid
    ),
    adc AS (SELECT qid, vec_id, {msum} AS dist FROM adcd GROUP BY qid, vec_id),
    adct AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, vec_id) AS rk
      FROM adc) WHERE rk <= {PQ_TOPK}),
    exd AS (
      SELECT q.vec_id AS qid, v.vec_id, q.m AS m,
             {_SQL_PQ_L2.format(a="q.sv", b="v.sv", n=PQ_SUBDIM)} AS dd
      FROM sv q JOIN sv v ON q.m = v.m AND v.vec_id <> q.vec_id
      WHERE q.vec_id IN (SELECT vec_id FROM anch)
    ),
    ex AS (SELECT qid, vec_id, {msum} AS dist FROM exd GROUP BY qid, vec_id),
    ext AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, vec_id) AS rk
      FROM ex) WHERE rk <= {PQ_TOPK}),
    rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS recall_hits
            FROM ext e JOIN adct a ON e.qid = a.qid AND e.vec_id = a.vec_id),
    occ AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM embeddings GROUP BY label),
    occs AS (SELECT MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS tot,
                    CAST(COUNT(*) AS BIGINT) AS ncells FROM occ),
    hot AS (SELECT label AS hottest_cell FROM occ
            ORDER BY n DESC, label LIMIT 1)
    SELECT CAST({hs} AS INT) AS n_sampled,
           r.recall_hits,
           CAST({hs * PQ_TOPK} AS BIGINT) AS recall_possible,
           CAST(h.hottest_cell AS INT) AS hottest_cell,
           CAST(o.ncells AS INT) AS n_cells,
           CAST(floor(o.mx * 1048576.0 / o.tot + 0.5) AS BIGINT)
             AS hottest_share_q20,
           CAST(floor(o.mx * o.ncells * 1048576.0 / o.tot + 0.5) AS BIGINT)
             AS cell_max_over_avg_q20
    FROM rec r, occs o, hot h
    """
    )


def _pq_residual_health_oracle() -> str:
    """Sampled exact recall of the residual serving path + occupancy;
    the monitor samples its anchors pseudo-randomly (md5 order), not by
    vec_id like the serving queries."""
    hs = PQ_HEALTH_SAMPLE
    msum = _sql_pq_msum()
    raw = _pq_train_ctes()
    ctes = [raw[0], raw[1]]  # ev + sv (the Q20 subvector build)
    ctes += _pq_train_ctes(pfx="r", base=_ivfpq_residual_base_ctes())
    probe_ctes = _ivfpq_residual_probe_ctes()
    # the monitor samples its anchors pseudo-randomly (md5 order), NOT by
    # vec_id like the serving queries — swap the anch CTE, keep the rest
    probe_ctes[0] = (
        f"anch AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM sv) "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {hs})"
    )
    ctes += probe_ctes
    ctes += [
        f"""radct AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, vec_id) AS rk
      FROM radc) WHERE rk <= {PQ_TOPK})""",
        f"""exd AS (
      SELECT q.vec_id AS qid, v.vec_id, q.m AS m,
             {_SQL_PQ_L2.format(a="q.sv", b="v.sv", n=PQ_SUBDIM)} AS dd
      FROM sv q JOIN sv v ON q.m = v.m AND v.vec_id <> q.vec_id
      WHERE q.vec_id IN (SELECT vec_id FROM anch)
    )""",
        f"""ex AS (SELECT qid, vec_id, {msum} AS dist FROM exd GROUP BY qid, vec_id)""",
        f"""ext AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, vec_id) AS rk
      FROM ex) WHERE rk <= {PQ_TOPK})""",
        """rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS recall_hits
            FROM ext e JOIN radct a ON e.qid = a.qid AND e.vec_id = a.vec_id)""",
        """occ AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM embeddings GROUP BY label)""",
        """occs AS (SELECT MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS tot,
                    CAST(COUNT(*) AS BIGINT) AS ncells FROM occ)""",
        """hot AS (SELECT label AS hottest_cell FROM occ
            ORDER BY n DESC, label LIMIT 1)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT CAST({hs} AS INT) AS n_sampled,
           r.recall_hits,
           CAST({hs * PQ_TOPK} AS BIGINT) AS recall_possible,
           CAST(h.hottest_cell AS INT) AS hottest_cell,
           CAST(o.ncells AS INT) AS n_cells,
           CAST(floor(o.mx * 1048576.0 / o.tot + 0.5) AS BIGINT)
             AS hottest_share_q20,
           CAST(floor(o.mx * o.ncells * 1048576.0 / o.tot + 0.5) AS BIGINT)
             AS cell_max_over_avg_q20
    FROM rec r, occs o, hot h
    """
    )


def _sq8_health_oracle(residual: bool) -> str:
    """ONE health-oracle builder for both families: the shared head
    (integer grid, cells) + the family's reconstruction CTE `rr` + the
    shared serving/exact-recall/occupancy tail."""
    hs = PQ_HEALTH_SAMPLE
    if residual:
        recon = f"""
    rv AS (SELECT e.vec_id, e.d, e.e - c.cq AS r, c.cq AS cq
           FROM ev e JOIN lbl l ON e.vec_id = l.vec_id
           JOIN cc c ON c.label = l.label AND c.d = e.d),
    str AS (SELECT d, MIN(r) AS mn, GREATEST(MAX(r) - MIN(r), 1) AS rng
            FROM rv GROUP BY d),
    rr AS (SELECT v.vec_id, v.d,
                  v.cq * {SQ8_LEVELS} + s.mn * {SQ8_LEVELS}
                    + ((v.r - s.mn) * {SQ8_LEVELS}) // s.rng * s.rng AS ra
           FROM rv v JOIN str s ON v.d = s.d)"""
    else:
        recon = f"""
    st AS (SELECT d, MIN(e) AS mn, GREATEST(MAX(e) - MIN(e), 1) AS rng
           FROM ev GROUP BY d),
    rr AS (SELECT v.vec_id, v.d,
                  s.mn * {SQ8_LEVELS}
                    + ((v.e - s.mn) * {SQ8_LEVELS}) // s.rng * s.rng AS ra
           FROM ev v JOIN st s ON v.d = s.d)"""
    return f"""
    WITH eq AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS eqv
           FROM embeddings),
    ev AS (SELECT vec_id, d, eqv[d] AS e
           FROM eq, generate_series(1, {SQ8_DIM}) g(d)),
    lbl AS (SELECT vec_id, label FROM embeddings),
    cc AS (SELECT l.label, v.d,
                  CAST(floor(CAST(SUM(v.e) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS cq
           FROM ev v JOIN lbl l ON v.vec_id = l.vec_id
           GROUP BY l.label, v.d),{recon},
    anch AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM eq)
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {hs}),
    qv AS (SELECT vec_id AS qid, d, e FROM ev
           WHERE vec_id IN (SELECT vec_id FROM anch)),
    qc AS (SELECT q.qid, c.label, SUM((q.e - c.cq) * (q.e - c.cq)) AS cdist
           FROM qv q JOIN cc c ON q.d = c.d GROUP BY q.qid, c.label),
    probes AS (SELECT qid, label FROM (
      SELECT qid, label,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cdist ASC, label) AS prk
      FROM qc) WHERE prk <= {IVF_NPROBE}),
    cand AS (SELECT p.qid, r.vec_id, r.d, r.ra
             FROM rr r JOIN lbl l ON r.vec_id = l.vec_id
             JOIN probes p ON l.label = p.label
             WHERE r.vec_id <> p.qid),
    qs AS (SELECT qid, d, e * {SQ8_LEVELS} AS qs FROM qv),
    dd AS (SELECT c.qid, c.vec_id, SUM((q.qs - c.ra) * (q.qs - c.ra)) AS dist
           FROM cand c JOIN qs q ON q.qid = c.qid AND q.d = c.d
           GROUP BY c.qid, c.vec_id),
    srvt AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, vec_id) AS rk
      FROM dd) WHERE rk <= {TOPK}),
    exd AS (SELECT q.qid, r.vec_id, SUM((q.e - r.e) * (q.e - r.e)) AS dist
            FROM qv q JOIN ev r ON q.d = r.d AND r.vec_id <> q.qid
            GROUP BY 1, 2),
    ext AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, vec_id) AS rk
      FROM exd) WHERE rk <= {TOPK}),
    rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS recall_hits
            FROM ext e JOIN srvt a ON e.qid = a.qid AND e.vec_id = a.vec_id),
    occ AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
            FROM embeddings GROUP BY label),
    occs AS (SELECT MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS tot,
                    CAST(COUNT(*) AS BIGINT) AS ncells FROM occ),
    hot AS (SELECT label AS hottest_cell FROM occ
            ORDER BY n DESC, label LIMIT 1)
    SELECT CAST({hs} AS INT) AS n_sampled,
           r.recall_hits,
           CAST({hs * TOPK} AS BIGINT) AS recall_possible,
           CAST(h.hottest_cell AS INT) AS hottest_cell,
           CAST(o.ncells AS INT) AS n_cells,
           CAST(floor(o.mx * 1048576.0 / o.tot + 0.5) AS BIGINT)
             AS hottest_share_q20,
           CAST(floor(o.mx * o.ncells * 1048576.0 / o.tot + 0.5) AS BIGINT)
             AS cell_max_over_avg_q20
    FROM rec r, occs o, hot h
    """


def _bq_health_oracle() -> str:
    """Sampled exact recall + bit balance over the trained state; the
    grown index covers the whole corpus, so the oracle ranks off the
    embeddings table directly (the _sq8_health_oracle shape)."""
    hs = PQ_HEALTH_SAMPLE
    return f"""
    WITH {_SQL_BQ_BASE_CTES},
    anch AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM eq)
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {hs}),
    qb AS (SELECT vec_id AS qid, d, b FROM bv
           WHERE vec_id IN (SELECT vec_id FROM anch)),
    hd AS (SELECT q.qid, r.vec_id,
                  CAST(SUM(CASE WHEN q.b <> r.b THEN 1 ELSE 0 END) AS BIGINT)
                    AS hamming
           FROM qb q JOIN bv r ON q.d = r.d AND r.vec_id <> q.qid
           GROUP BY 1, 2),
    bqt AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY hamming ASC, vec_id) AS rk
      FROM hd) WHERE rk <= {TOPK}),
    qv AS (SELECT vec_id AS qid, d, e FROM ev
           WHERE vec_id IN (SELECT vec_id FROM anch)),
    exd AS (SELECT q.qid, r.vec_id, SUM((q.e - r.e) * (q.e - r.e)) AS dist
            FROM qv q JOIN ev r ON q.d = r.d AND r.vec_id <> q.qid
            GROUP BY 1, 2),
    ext AS (SELECT qid, vec_id FROM (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist ASC, vec_id) AS rk
      FROM exd) WHERE rk <= {TOPK}),
    rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS recall_hits
            FROM ext e JOIN bqt a ON e.qid = a.qid AND e.vec_id = a.vec_id),
    pop AS (SELECT CAST(SUM(b) AS BIGINT) AS sb,
                   CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM bv)
    SELECT CAST({hs} AS INT) AS n_sampled,
           r.recall_hits,
           CAST({hs * TOPK} AS BIGINT) AS recall_possible,
           CAST(floor(p.sb * 1048576.0 / p.n + 0.5) AS BIGINT)
             AS mean_popcount_q20
    FROM rec r, pop p
    """


PQ = Layout(
    key="pq",
    name="PQ",
    partition_by="label",
    bind=_bind_pq,
    serving_anchors=_first_anchors,
    exact_hits=_pq_exact_hits,
    topk=PQ_TOPK,
    drift=_occupancy,
    serve_oracle=_PQ_PROBE_ORACLE,
    candidate_clause="WHERE a.vec_id <> qd.qid",
    health_oracle=_pq_health_oracle(),
    twin="q_pq_persisted_probe",
    encode_doc="frozen-codebook expression encode (argmin via "
    "struct-ordered array_min, codebooks as plan literals)",
    health_doc="scored against the exact subvector-space top-k, plus "
    "per-cell occupancy skew off the code table's m=0 rows — recall "
    "decay alarms the codebooks, occupancy skew the coarse quantizer "
    "(thresholds in SCALING.md).",
)
PQ_RESIDUAL = Layout(
    key="pq_residual",
    name="residual PQ",
    partition_by="label",
    bind=_bind_pq_residual,
    serving_anchors=_first_anchors,
    exact_hits=_pq_exact_hits,
    topk=PQ_TOPK,
    drift=_occupancy,
    serve_oracle=_ivfpq_residual_serve_oracle(),
    candidate_clause="WHERE a.vec_id <> p.qid",
    health_oracle=_pq_residual_health_oracle(),
    twin="q_ann_ivf_pq_residual_persisted",
    encode_doc="residualize against the frozen INT cell centroids, "
    "argmin on the frozen residual codebooks",
    health_doc=f"(coarse prune nprobe={IVFPQ_NPROBE} + residual ADC) "
    "scored against the exact subvector-space top-k, plus per-cell "
    "occupancy skew off the code table's m=0 rows — recall decay "
    "alarms the residual codebooks, occupancy skew the coarse "
    "quantizer (the q_pq_coarse_refresh APPLY step; thresholds in "
    "SCALING.md).",
)
SQ8 = Layout(
    key="sq8",
    name="SQ8",
    partition_by="label",
    bind=lambda spark, sf_dir: _bind_sq8(spark, sf_dir, residual=False),
    serving_anchors=_low_anchors,
    exact_hits=_grid_exact_hits,
    topk=TOPK,
    drift=_occupancy,
    serve_oracle=_SQL_IVF_SQ8,
    candidate_clause="WHERE r.vec_id <> p.qid",
    health_oracle=_sq8_health_oracle(residual=False),
    twin="q_ann_sq8_persisted",
    encode_doc="frozen-grid sq8_encode",
    health_doc=f"(coarse prune nprobe={IVF_NPROBE} + SQ8 asymmetric "
    "distance) scored against the exact integer-grid top-k, plus "
    "per-cell occupancy skew off the code table — recall decay alarms "
    "the [mn,rng] grid (the q_sq8_grid_refresh APPLY step), occupancy "
    "skew the coarse quantizer. All-integer, full value oracle.",
)
SQ8_RESIDUAL = Layout(
    key="sq8_residual",
    name="residual SQ8",
    partition_by="label",
    bind=lambda spark, sf_dir: _bind_sq8(spark, sf_dir, residual=True),
    serving_anchors=_low_anchors,
    exact_hits=_grid_exact_hits,
    topk=TOPK,
    drift=_occupancy,
    serve_oracle=_SQL_IVF_SQ8_RESIDUAL,
    candidate_clause="WHERE r.vec_id <> p.qid",
    health_oracle=_sq8_health_oracle(residual=True),
    twin="q_ann_sq8_residual_persisted",
    encode_doc="residualize against the frozen INT cells, "
    "integer-encode on the frozen residual grid",
    health_doc=f"(coarse prune nprobe={IVF_NPROBE} + absolute-space "
    "SQ8 distance) scored against the exact integer-grid top-k, plus "
    "per-cell occupancy skew off the code table — recall decay alarms "
    "the residual grid (the q_sq8_residual_grid_refresh APPLY step), "
    "occupancy skew the coarse quantizer (the q_sq8_coarse_refresh APPLY "
    "step). All-integer, full value oracle.",
)
BQ = Layout(
    key="bq",
    name="BQ",
    partition_by=None,  # no coarse quantizer: the 32x scan is the prune
    bind=_bind_bq,
    serving_anchors=_low_anchors,
    exact_hits=_grid_exact_hits,
    topk=TOPK,
    drift=_bit_balance,
    serve_oracle=_SQL_BQ_TOPK,
    candidate_clause="ON q.d = r.d AND r.vec_id <> q.qid",
    health_oracle=_bq_health_oracle(),
    twin="q_ann_bq_persisted",
    encode_doc="the frozen-threshold bq_pack projection",
    health_doc="(Hamming top-k) scored against the exact integer-grid "
    "top-k, plus the mean per-vector popcount (Q20) straight off the "
    "packed codes — recall decay or popcount drifting away from dim/2 "
    "alarms the sign thresholds (stale cutoffs collapse Hamming "
    "contrast; the refresh is q_bq_threshold_refresh). All-integer, "
    "full value oracle.",
)
LAYOUTS = (PQ, PQ_RESIDUAL, SQ8, SQ8_RESIDUAL, BQ)


def _query(name: str, body, layout: Layout):
    """``body`` bound to ``layout``, named after the query it registers
    (tests/test_registry_prefix.py pins fn.__name__ == query name)."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return body(spark, sf_dir, layout)

    query.__name__ = query.__qualname__ = name
    return query


def _fixture_deletes(verb):
    """A delete verb over the fixture's tombstone keys table."""

    def body(spark: SparkSession, sf_dir: str, layout: Layout) -> DataFrame:
        dels = _sq8_tombstones(tp(spark, sf_dir, "embeddings"))
        return verb(spark, sf_dir, layout, dels)

    return body


def _register(layout: Layout, deletes: Layout) -> None:
    """Register ``layout``'s five queries; the delete pair serves through
    ``deletes`` (raw PQ's serves IVF-PQ, not the flat ADC probe)."""
    subdirs = "label-partitioned" if layout.partition_by else "flat"
    name, twin = layout.name, layout.twin
    scan = (
        "partition-pruned label-partitioned"
        if layout.partition_by
        else "flat (no coarse prune: the bit scan is the prune)"
    )
    delete_oracle = _tombstone_oracle(deletes.serve_oracle, deletes.candidate_clause)
    mor = f"q_ann_{layout.key}_delete_mor"
    for qname, body, bound_to, oracle, doc in (
        (
            f"q_stream_{layout.key}_index_grow",
            grow,
            layout,
            layout.serve_oracle,
            f"STREAMING growth of the {name} index: a base index (even "
            "vec_ids, encoded batch-side against the frozen artifacts) "
            "grows by foreachBatch appends of the streamed remainder — "
            f"{layout.encode_doc}, batch-keyed OVERWRITE into {subdirs} "
            "subdirs (redelivery-idempotent, exercised inline) — then the "
            "serving probe over base ∪ deltas must equal the one-shot "
            f"persisted serving (shared oracle with {twin}).",
        ),
        (
            f"q_{layout.key}_index_compact",
            compact,
            layout,
            layout.serve_oracle,
            f"atomic small-file compaction of the incrementally-grown {name} "
            f"code table: base + {GROW_SLICES} batch-keyed delta subdirs (the "
            "grow fold's layout, built batch-side) rewritten into ONE "
            f"committed {subdirs} subdir keeping the max batch id "
            "(compact_batch_root's staged swap); the query raises unless the "
            "serving probe is bit-identical across the swap and the parquet "
            "file count shrank; the probe is value-checked by the oracle "
            f"shared with {twin}.",
        ),
        (
            f"q_{layout.key}_index_health",
            health,
            layout,
            layout.health_oracle,
            f"{name} index HEALTH MONITOR over the grown index (base + delta "
            "subdirs): sampled exact recall of the serving path on a fixed-"
            f"{PQ_HEALTH_SAMPLE} md5-ordered anchor draw {layout.health_doc}",
        ),
        (
            mor,
            _fixture_deletes(delete_mor),
            deletes,
            delete_oracle,
            f"MERGE-ON-READ deletes for the persisted {name} index: serving "
            "anti-joins the tombstone keys table (fixture: the deterministic "
            f"vec_id % {_SQ8_DELETE_MOD} == {_SQ8_DELETE_RESIDUE} instance of "
            f"the erasure-feed contract) against the {scan} code scan — an "
            "unhinted vec_id equi-join — with the frozen artifacts untouched "
            "(deletes remove candidates; retraining is the drift monitors' "
            "job); RAISES unless the probe is bit-identical to serving over "
            "an index encoded from only the survivors; full value oracle "
            f"(the {deletes.twin} ranking minus tombstoned candidates).",
        ),
        (
            f"q_{layout.key}_delete_compact",
            _fixture_deletes(delete_apply),
            deletes,
            delete_oracle,
            f"delete APPLICATION for the {name} index (the maintenance pass "
            "that turns merge-on-read tombstones into compacted files): the "
            f"code table is rewritten without the tombstoned rows — {subdirs} "
            "rewrite behind the pinned staged swap (live files stat-pinned "
            "until the swap) — after which serving reads the compacted index "
            "DIRECTLY (no anti-join) and must be bit-identical to the "
            "merge-on-read probe before the apply (RAISES otherwise); the row "
            "delta must equal the tombstoned row count; shared oracle with "
            f"{mor}.",
        ),
    ):
        register(qname, oracle, doc=doc)(_query(qname, body, bound_to))


# raw PQ's delete pair serves IVF-PQ: the coarse prune as a partition filter
IVF_PQ = replace(
    PQ,
    bind=_bind_ivf_pq,
    serve_oracle=_IVFPQ_SERVE_ORACLE,
    candidate_clause="WHERE a.vec_id <> p.qid",
    twin="q_ann_ivf_pq_persisted",
)
for _layout in LAYOUTS:
    _register(_layout, IVF_PQ if _layout is PQ else _layout)
