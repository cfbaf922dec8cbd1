"""Unit tests of the benchmark's Spark-free helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import helpers  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = list(range(1, 101))  # 1..100
    assert helpers.percentile(xs, 50) == pytest.approx(50.5)
    assert helpers.percentile(xs, 90) == pytest.approx(90.1)
    assert helpers.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        helpers.percentile([], 50)


def test_percentile_needs_ten_samples_beyond_it():
    assert not helpers.supports(99, 90)
    assert helpers.supports(100, 90)
    assert helpers.supports(20, 50)
    assert not helpers.supports(19, 50)
    s = helpers.summarize(list(range(50)), (50, 90))
    assert s["n"] == 50
    assert s["p50"] == pytest.approx(24.5)
    assert s["p90"] is None  # 5 samples beyond p90: not reported
    assert helpers.summarize([], (50,)) == {"n": 0, "p50": None}


def test_event_latency_from_batch_range_and_visible_time():
    # intervalMs=10: batch [1000, 1040) holds records 100..103 at
    # 1000, 1010, 1020, 1030 ms; visible at 1100 ms
    lat = helpers.event_latencies_ms(1000, 1040, 10, 1100.0)
    assert lat == [100.0, 90.0, 80.0, 70.0]
    # an unaligned start rounds up to the next record; the end is exclusive
    assert helpers.event_latencies_ms(1001, 1030, 10, 1030.0) == [20.0, 10.0]
    assert helpers.event_latencies_ms(500, 500, 10, 600.0) == []


def test_mq_indices_match_the_source_range_rule():
    from_source = pytest.importorskip("spark_sql_custom_mq_datasource_spark.sources.mq")
    for start, end, step in [(0, 5000, 10), (3, 97, 7), (1001, 1030, 10), (5, 5, 1)]:
        assert helpers.mq_indices(start, end, step) == from_source._indices_in_range(start, end, step)
        for i in helpers.mq_indices(start, end, step)[:5]:
            assert helpers.mq_payload(42, 1, i) == from_source._payload(42, 1, i)


def test_tailer_skips_a_partial_trailing_line(tmp_path):
    path = tmp_path / "_commits.jsonl"
    t = helpers.LineTailer(str(path))
    assert t.poll() == []  # not created yet
    with open(path, "w") as fh:
        fh.write(json.dumps({"commit": 0}) + "\n" + '{"commit": 1, "fi')
    assert t.poll() == [{"commit": 0}]
    assert t.poll() == []  # the half-written line is still pending
    with open(path, "a") as fh:
        fh.write('les": []}\n' + json.dumps({"commit": 2}) + "\n")
    assert t.poll() == [{"commit": 1, "files": []}, {"commit": 2}]
    assert t.poll() == []


def test_parse_offset_accepts_python_repr_json_and_none():
    assert helpers.parse_offset("{'ts': 1792190213722}") == {"ts": 1792190213722}
    assert helpers.parse_offset('{"ts": 5}') == {"ts": 5}
    assert helpers.parse_offset({"ts": 5}) == {"ts": 5}
    assert helpers.parse_offset(None) is None
    assert helpers.parse_offset("None") is None
    with pytest.raises(ValueError):
        helpers.parse_offset("[1, 2]")


def _fake_proc(root, pid, ppid, comm, pss_kib, ticks=(0, 0, 0, 0)):
    d = root / str(pid)
    d.mkdir()
    # fields 3-13, then utime stime cutime cstime, then the rest
    (d / "stat").write_text(
        f"{pid} ({comm}) S {ppid} 1 1 0 -1 4194560 10 0 0 0 " + " ".join(map(str, ticks)) + " 20 0 1 0\n"
    )
    if pss_kib is not None:  # kernel threads have no smaps_rollup
        (d / "smaps_rollup").write_text(
            f"00400000-7fff00000000 ---p 00000000 00:00 0 [rollup]\nRss:\t{2 * pss_kib} kB\nPss:\t{pss_kib} kB\n"
        )


def test_tree_memory_sums_pss_of_the_process_and_its_descendants(tmp_path):
    _fake_proc(tmp_path, 10, 1, "python3", 100)
    _fake_proc(tmp_path, 11, 10, "java", 2000)
    _fake_proc(tmp_path, 12, 11, "python worker", 30)  # comm with a space
    _fake_proc(tmp_path, 13, 12, "kthread", None)
    _fake_proc(tmp_path, 20, 1, "other", 5000)  # not a descendant
    (tmp_path / "self").mkdir()  # non-numeric entries are ignored
    assert helpers.tree_pss_kib(10, str(tmp_path)) == 2130
    assert helpers.tree_pss_kib(11, str(tmp_path)) == 2030
    assert helpers.tree_pss_kib(99, str(tmp_path)) == 0


def test_benchmark_json_lists_what_run_reports():
    import run

    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(__import__("workloads").WORKLOADS)


def test_tree_cpu_sums_own_and_reaped_children_time(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, 10, 1, "python3", 1, ticks=(1, 2, 3, 4))
    _fake_proc(tmp_path, 11, 10, "java", 1, ticks=(100, 50, 0, 0))
    _fake_proc(tmp_path, 12, 11, "python daemon", 1, ticks=(5, 5, 40, 0))
    _fake_proc(tmp_path, 20, 1, "other", 1, ticks=(1000, 0, 0, 0))
    assert helpers.tree_cpu_s(10, str(tmp_path)) == pytest.approx(210 / tick)
    assert helpers.tree_cpu_s(12, str(tmp_path)) == pytest.approx(50 / tick)


def test_topic_check_fails_each_bad_batch_once(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    workloads = pytest.importorskip("workloads")
    seed, parts, step = 7, 2, workloads.ETL_INTERVAL_MS
    (tmp_path / "segments").mkdir()

    def batch(batch_id, name, start, end, extra=()):
        keys = [f"{p}:{i}" for p in range(parts) for i in helpers.mq_indices(start, end, step)]
        keys += list(extra)
        values = [helpers.mq_payload(seed, *map(int, k.split(":"))) for k in keys]
        pq.write_table(pa.table({"key": keys, "value": values}), tmp_path / "segments" / name)
        return {"batch_id": batch_id, "files": [name], "rows": len(keys)}, 0.0

    seen = [
        batch(0, "a.parquet", 0, 4 * step),
        batch(1, "b.parquet", 4 * step, 8 * step),
        # repeats batch 1's id and a key of batch 0, and holds a row
        # outside its range: one failed batch, not three
        batch(1, "c.parquet", 8 * step, 12 * step, extra=("0:0",)),
    ]
    offsets = {0: (0, 4 * step), 1: (4 * step, 8 * step)}
    assert workloads._check_topic(str(tmp_path), seed, parts, seen[:2], offsets) == (2, 0)
    assert workloads._check_topic(str(tmp_path), seed, parts, seen, offsets) == (3, 1)
