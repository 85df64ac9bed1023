"""The append_batch commit protocol in the default run: stage, claim the
batch's ``_commits/{id}`` record with one put-if-absent write, then roll
the recorded manifest forward into the table.

- a same-batch thread race has exactly one winner and no errors;
- a crash after the record (mid-publish) is finished by the replay or by
  ``vacuum()`` — rolled forward, never deleted;
- a crash before the record leaves the table untouched; the replay
  publishes exactly once without waiting, and ``vacuum()`` reclaims the
  staging.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from incremental_dagster_delta_spark import tableio
from incremental_dagster_delta_spark.tableio import PartitionedTable

SCHEMA = "id long, word string, day string"
DAYS = ("2024-05-01", "2024-05-02", "2024-05-03")


def _df(spark, n: int, base: int):
    """``n`` rows over up to three day leaves, one staged file per leaf."""
    return spark.createDataFrame(
        [(base + i, f"w{base + i}", DAYS[i % len(DAYS)]) for i in range(n)], SCHEMA
    ).coalesce(1)


def _ids(table) -> list[int]:
    return sorted(r["id"] for r in table.read().collect())


def _data_files(path: str) -> list[str]:
    out: list[str] = []
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in names if not f.startswith(("_", "."))]
    return sorted(out)


def _staging_children(path: str) -> list[str]:
    staging = os.path.join(path, "_staging")
    return os.listdir(staging) if os.path.isdir(staging) else []


class _Crash(Exception):
    pass


class _RenameBudget:
    """Hadoop FileSystem proxy that dies on the (k+1)-th rename — a
    writer killed after k of its n publish renames."""

    def __init__(self, fs, k: int) -> None:
        self._fs, self._left = fs, k

    def rename(self, src, dst):
        if self._left == 0:
            raise _Crash()
        self._left -= 1
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _crash_mid_publish(spark, path: str, monkeypatch, k: int = 1):
    """Commit batch 1 and die after ``k`` of its renames; returns the
    table and batch 1's ids."""
    table = PartitionedTable(spark, path, ["day"])
    real = PartitionedTable._roll_forward

    def dying(self, fs, Path, batch_id, record):
        return real(self, _RenameBudget(fs, k), Path, batch_id, record)

    monkeypatch.setattr(PartitionedTable, "_roll_forward", dying)
    with pytest.raises(_Crash):
        table.append_batch(_df(spark, 9, 100), 1)
    monkeypatch.setattr(PartitionedTable, "_roll_forward", real)
    record = table.batch_metrics()[1]
    assert record["rows"] == 9
    assert len(record["files"]) > k  # the crash really left files unpublished
    staged = os.path.join(path, record["staging"])
    assert any(names for _, _, names in os.walk(staged))
    return table, list(range(100, 109))


def test_eight_threads_same_batch_exactly_one_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    tables = [PartitionedTable(spark, path, ["day"]) for _ in range(8)]
    results: dict[int, object] = {}

    def run(i):
        try:
            results[i] = tables[i].append_batch(_df(spark, 2 + i, 100 * i), 5)
        except Exception as e:  # surfaced by the assert below
            results[i] = e

    threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the writers' Python steps finely
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert sorted(map(repr, results.values())) == ["False"] * 7 + ["True"], results
    winner = next(i for i, v in results.items() if v is True)
    assert _ids(tables[0]) == [100 * winner + j for j in range(2 + winner)]
    assert tables[0].batch_metrics()[5]["rows"] == 2 + winner
    assert _staging_children(path) == []


def test_crash_after_record_replay_rolls_forward(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    table, ids = _crash_mid_publish(spark, path, monkeypatch)
    # the replay carries different rows: the recorded manifest wins
    assert table.append_batch(_df(spark, 4, 500), 1) is False
    assert _ids(table) == ids
    assert _staging_children(path) == []


def test_crash_after_record_vacuum_rolls_forward(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    table, ids = _crash_mid_publish(spark, path, monkeypatch)
    table.vacuum()
    assert _staging_children(path) == []
    assert table.append_batch(_df(spark, 9, 100), 1) is False
    assert _ids(table) == ids


def test_crash_before_record_replays_once_and_vacuums(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    table = PartitionedTable(spark, path, ["day"])

    def dying(path, data):
        raise _Crash()

    monkeypatch.setattr(tableio, "_put_if_absent", dying)
    with pytest.raises(_Crash):
        table.append_batch(_df(spark, 6, 100), 1)
    monkeypatch.undo()
    leftover = _staging_children(path)
    assert len(leftover) == 1 and leftover[0].startswith("b1-")
    assert table.committed_batches() == []
    assert not [d for d in os.listdir(path) if not d.startswith(("_", "."))]
    t0 = time.monotonic()
    assert table.append_batch(_df(spark, 6, 100), 1) is True
    assert time.monotonic() - t0 < 60  # no lease or TTL to wait out
    # the crashed writer's staging is still there, and reads skip it
    assert _staging_children(path) == leftover
    assert _ids(table) == list(range(100, 106))
    published = _data_files(path)
    assert table.vacuum() >= 1
    assert _staging_children(path) == []
    assert _data_files(path) == published
