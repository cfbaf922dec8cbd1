"""replace_dir and pinned_replace (sources/manifest.py): the one directory
swap every index compaction, refresh and delete-apply goes through, and
the live-file pin in front of it. Spark-free."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from spark_sql_custom_mq_datasource_spark.sources.manifest import (
    pinned_replace,
    replace_dir,
)


def _write(d, name: str, text: str) -> None:
    d.mkdir(parents=True, exist_ok=True)
    (d / name).write_text(text)


def _files(d) -> dict[str, str]:
    return {p.name: p.read_text() for p in sorted(d.iterdir())}


def test_failed_second_rename_keeps_old_files_live(tmp_path, monkeypatch):
    live, staged = tmp_path / "codes", tmp_path / "codes_new"
    _write(live, "part-0.parquet", "old")
    _write(staged, "part-0.parquet", "new")

    real_replace = os.replace
    calls = []

    def flaky_replace(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:
            raise OSError("injected: rename staged -> live failed")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", flaky_replace)
    with pytest.raises(OSError, match="injected"):
        replace_dir(str(staged), str(live))
    monkeypatch.setattr(os, "replace", real_replace)

    assert _files(live) == {"part-0.parquet": "old"}
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("_")] == []

    # the staged copy survives the failure, so the swap can be retried
    replace_dir(str(staged), str(live))
    assert _files(live) == {"part-0.parquet": "new"}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["codes"]


def test_crash_between_renames_is_restored_on_next_swap(tmp_path):
    live = tmp_path / "d=3"
    _write(live, "part-0.parquet", "old")
    # a crash after the first rename: live is gone, the retired copy
    # (underscore-hidden from partition discovery) holds the old files
    os.replace(live, tmp_path / "_d=3.retired")

    # the next swap restores the retired copy before anything else, so
    # even a swap that itself fails leaves the old files live
    with pytest.raises(FileNotFoundError):
        replace_dir(str(tmp_path / "never_written"), str(live))
    assert _files(live) == {"part-0.parquet": "old"}

    _write(tmp_path / "staged_d3", "part-0.parquet", "new")
    replace_dir(str(tmp_path / "staged_d3"), str(live))
    assert _files(live) == {"part-0.parquet": "new"}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["d=3"]


def test_pinned_replace_raises_when_live_changes_before_swap(tmp_path):
    live = tmp_path / "codes"
    _write(live, "part-0.parquet", "old")
    st = os.stat(live / "part-0.parquet")

    def touching_write(staged: str) -> None:
        _write(Path(staged), "part-0.parquet", "new")
        # a writer that also touches a live file: same bytes, new mtime
        os.utime(live / "part-0.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))

    with pytest.raises(AssertionError, match="live index files changed"):
        pinned_replace(str(live), touching_write)
    assert _files(live) == {"part-0.parquet": "old"}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["codes"]

    # a writer that leaves live alone gets its staged dir swapped in
    pinned_replace(
        str(live), lambda staged: _write(Path(staged), "part-0.parquet", "new")
    )
    assert _files(live) == {"part-0.parquet": "new"}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["codes"]
