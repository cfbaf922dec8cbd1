"""Phase-level timing for the two heaviest battery-tail queries
(VERDICT r17 "Next round" items 3-4): q_sq8_dim_columnar_serve and
q_ann_pq_delete_mor. Reproduces each query's body phase by phase with
wall timers and job counts so the optimization targets the real cost.

Usage (repo root):
    python tools/profile_battery_tail.py [sf_dir] [dimcol|pqmor ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(sc, label, fn, out):
    group = f"tail-{label}-{len(out)}"
    sc.setJobGroup(group, label)
    t0 = time.perf_counter()
    r = fn()
    el = round(time.perf_counter() - t0, 3)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(None, None)
    out.append({"phase": label, "sec": el, "jobs": jobs})
    return r


def profile_dimcol(spark, sf_dir):
    import os as _os

    from pyspark.sql import functions as F

    from spark_sql_custom_mq_datasource_spark.operators.similarity import (
        N_QUERIES,
        SQ8_DIM,
        SQ8_DIMCOL_BUCKETS,
        TOPK,
        _collect_query_eq,
        sq8_dim_columnar_write,
        sq8_dim_columnar_zipper,
        sq8_encode,
        sq8_stats,
        sq8_topk,
    )
    from spark_sql_custom_mq_datasource_spark.plans.util import tp, work_dir

    sc = spark.sparkContext
    out = []
    emb = tp(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mn, rng = timed(sc, "sq8_stats", lambda: sq8_stats(emb), out)
    root = _os.path.join(work_dir("sq8_dimcol_serve_index"), "codes")
    timed(
        sc,
        "dim_columnar_write",
        lambda: sq8_dim_columnar_write(
            sq8_encode(emb, mn, rng), root, SQ8_DIMCOL_BUCKETS
        ),
        out,
    )
    codes_arr = sq8_dim_columnar_zipper(spark, root, SQ8_DIM, SQ8_DIMCOL_BUCKETS)
    queries = timed(
        sc,
        "collect_queries",
        lambda: _collect_query_eq(emb.where(F.col("vec_id") < N_QUERIES)),
        out,
    )
    probe_rows = timed(
        sc,
        "zipper_probe_collect",
        lambda: sq8_topk(codes_arr, queries, mn, rng, TOPK).collect(),
        out,
    )
    full = timed(
        sc,
        "proof_arrayrow_collect",
        lambda: sq8_topk(
            sq8_encode(emb, mn, rng), queries, mn, rng, TOPK
        ).collect(),
        out,
    )
    assert sorted(map(tuple, probe_rows)) == sorted(map(tuple, full))
    return out


def profile_pqmor(spark, sf_dir):
    from spark_sql_custom_mq_datasource_spark.operators.index_lifecycle import (
        IVF_PQ,
        delete_mor,
    )
    from spark_sql_custom_mq_datasource_spark.operators.similarity import (
        _sq8_tombstones,
        pq_index_path,
    )
    from spark_sql_custom_mq_datasource_spark.plans.util import tp

    sc = spark.sparkContext
    out = []
    timed(sc, "pq_index_path", lambda: pq_index_path(spark, sf_dir), out)
    timed(sc, "ivf_pq_bind", lambda: IVF_PQ.bind(spark, sf_dir), out)
    emb = tp(spark, sf_dir, "embeddings")
    timed(
        sc,
        "mor_body",
        lambda: delete_mor(
            spark, sf_dir, IVF_PQ, _sq8_tombstones(emb)
        ).collect(),
        out,
    )
    return out


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.001"
    which = args or ["dimcol", "pqmor"]

    from spark_sql_custom_mq_datasource_spark.plans.registry import (
        QUERIES,
        get_queries,
    )
    from spark_sql_custom_mq_datasource_spark.session import get_spark

    get_queries()
    spark = get_spark("profile-battery-tail")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/python workers so phase timings are not startup
    QUERIES["q1_pricing_summary"].fn(spark, sf_dir).collect()

    for w in which:
        for draw in range(2):
            phases = (
                profile_dimcol(spark, sf_dir)
                if w == "dimcol"
                else profile_pqmor(spark, sf_dir)
            )
            print(
                json.dumps(
                    {
                        "target": w,
                        "draw": draw,
                        "total": round(sum(p["sec"] for p in phases), 3),
                        "phases": phases,
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
