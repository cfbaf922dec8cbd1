"""The IVF-SQ8 scan kernel's per-batch body (operators/similarity.py:
sq8_recon_base + sq8_scan_batch) against a plain Python brute force.
Spark-free."""

from __future__ import annotations

import numpy as np
import pytest

from spark_sql_custom_mq_datasource_spark.operators.similarity import (
    SQ8_LEVELS,
    sq8_recon_base,
    sq8_scan_batch,
)

K = 3
MN = [-40, 7, 0]
RNG = [3, 1, 5]
CELLS = [(0, [10, -2, 4]), (1, [0, 0, 0]), (2, [-6, 9, 1])]
# (vec_id, label, codes): vec_ids 4/5 and 8/9 carry identical codes in
# the same cell, so their distances tie and only vec_id orders them
ROWS = [
    (5, 0, [1, 2, 3]),
    (4, 0, [1, 2, 3]),
    (0, 0, [0, 0, 0]),
    (1, 1, [9, 9, 9]),
    (9, 1, [2, 1, 0]),
    (8, 1, [2, 1, 0]),
    (2, 1, [4, 0, 7]),
    (3, 2, [3, 3, 3]),
    (6, 2, [0, 5, 1]),
    (7, 2, [8, 8, 8]),
    (10, 2, [0, 5, 1]),
]
QUERIES = {0: [-30, 20, 5], 8: [-35, 12, 9], 3: [-60, 30, 0]}


def _batch():
    ids = np.asarray([r[0] for r in ROWS], dtype=np.int64)
    labs = np.asarray([r[1] for r in ROWS], dtype=np.int64)
    codes = np.asarray([r[2] for r in ROWS], dtype=np.int64)
    return ids, labs, codes


def _queries(buckets):
    return [
        (qid, np.asarray(q, dtype=np.int64) * SQ8_LEVELS, buckets)
        for qid, q in QUERIES.items()
    ]


def _scan(residual, buckets):
    ids, labs, codes = _batch()
    out = sq8_scan_batch(
        ids,
        labs,
        codes,
        sq8_recon_base(MN, CELLS, residual),
        np.asarray(RNG, dtype=np.int64),
        _queries(buckets),
        K,
    )
    return sorted(map(tuple, out[["qid", "prk", "neighbor_id", "dist"]].values))


def _brute(residual, buckets):
    """Plain-int reconstruction (cq·255 + mn·255 + code·rng) and top-k."""
    cq = dict(CELLS)
    out = []
    for qid, q in QUERIES.items():
        for prk, labels in buckets:
            cand = []
            for vid, label, code in ROWS:
                if label not in labels or vid == qid:
                    continue
                dist = 0
                for d in range(len(MN)):
                    recon = MN[d] * SQ8_LEVELS + code[d] * RNG[d]
                    if residual:
                        recon += cq[label][d] * SQ8_LEVELS
                    dist += (q[d] * SQ8_LEVELS - recon) ** 2
                cand.append((dist, vid))
            out += [(qid, prk, vid, dist) for dist, vid in sorted(cand)[:K]]
    return sorted(out)


@pytest.mark.parametrize("residual", [False, True], ids=["plain", "residual"])
def test_scan_batch_matches_brute_force(residual):
    one = [(0, [0, 1, 2])]
    per_cell = [(1, [2]), (2, [0]), (3, [1])]
    for buckets in (one, per_cell):
        got = _scan(residual, buckets)
        assert got == _brute(residual, buckets)
        assert all(qid != nid for qid, _, nid, _ in got)  # never itself
    # in cell 1, vec_ids 8 and 9 tie for query 0's last slot: 8 wins on
    # vec_id; query 8 never ranks itself and takes 9 instead
    got = _scan(residual, [(0, [1])])
    assert [nid for qid, _, nid, _ in got if qid == 0] == [1, 2, 8]
    assert [nid for qid, _, nid, _ in got if qid == 8] == [1, 2, 9]


@pytest.mark.parametrize("residual", [False, True], ids=["plain", "residual"])
def test_per_cell_partials_rerank_to_single_bucket(residual):
    """The nprobe sweep's argument: for every nprobe n, the top-k of the
    per-cell partials of the first n probed cells equals the top-k of one
    bucket holding those n cells (top-k of a union lies inside the union
    of per-bucket top-ks)."""
    ranked = [2, 0, 1]  # probe-rank order
    partials = _scan(residual, [(i + 1, [lb]) for i, lb in enumerate(ranked)])
    for n in range(1, len(ranked) + 1):
        single = _scan(residual, [(0, ranked[:n])])
        for qid in QUERIES:
            reranked = sorted(
                (dist, nid)
                for q, prk, nid, dist in partials
                if q == qid and prk <= n
            )[:K]
            expect = sorted((dist, nid) for q, _, nid, dist in single if q == qid)
            assert reranked == expect
