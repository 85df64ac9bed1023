"""Concurrent-writer behavior of PartitionedTable.append_batch — the
documented guarantee matrix for the commit-before-publish protocol
(tableio.py), pinning the remaining semantic distance to the reference's
delta-rs transactions (delta_io.py:112-116):

- distinct batch ids, disjoint OR overlapping partitions: concurrent
  appends commute (per-batch staging dirs, per-batch file prefixes,
  per-batch commit records — no shared mutable state);
- same batch id, serialized writers: the second finds the commit record
  and no-ops (returns False) — the foreachBatch replay contract;
- same batch id, truly concurrent writers: exactly one put-if-absent
  record wins and returns True; every other writer rolls the winner's
  manifest forward and returns False. Nobody waits, nobody raises.
"""

from __future__ import annotations

import threading

from incremental_dagster_delta_spark.tableio import PartitionedTable

import pytest

# Excluded from the default run so `pytest tests/` fits the driver's
# verify budget (pyproject addopts); scripts/partest.py runs it.
pytestmark = pytest.mark.slow


def _df(spark, day: str, n: int, base: int):
    return spark.createDataFrame(
        [(base + i, f"w{base + i}", day) for i in range(n)],
        "id long, word string, day string",
    )


def _run_threads(fns):
    errs = []

    def wrap(fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    threads = [threading.Thread(target=wrap, args=(fn,)) for fn in fns]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not any(th.is_alive() for th in threads)
    assert not errs, errs


def test_concurrent_appends_disjoint_partitions(spark, tmp_path):
    table = PartitionedTable(spark, str(tmp_path / "t1"), ["day"])
    _run_threads(
        [
            lambda: table.append_batch(_df(spark, "2024-01-01", 7, 0), 1),
            lambda: table.append_batch(_df(spark, "2024-01-02", 9, 100), 2),
        ]
    )
    out = table.read()
    assert out.count() == 16
    assert out.where("day = '2024-01-01'").count() == 7
    assert out.where("day = '2024-01-02'").count() == 9
    metrics = table.batch_metrics()
    assert metrics[1]["rows"] == 7 and metrics[2]["rows"] == 9


def test_concurrent_appends_same_partition(spark, tmp_path):
    """Two writers landing in the SAME leaf partition directory must both
    commit: published file names carry the b{batch_id}- prefix, so the
    renames can never collide."""
    table = PartitionedTable(spark, str(tmp_path / "t2"), ["day"])
    _run_threads(
        [
            lambda: table.append_batch(_df(spark, "2024-01-03", 5, 0), 1),
            lambda: table.append_batch(_df(spark, "2024-01-03", 6, 100), 2),
        ]
    )
    out = table.read().where("day = '2024-01-03'")
    assert out.count() == 11
    # every row exactly once — no clobbered or doubled files
    assert out.select("id").distinct().count() == 11


def test_same_batch_id_second_writer_noops(spark, tmp_path):
    """A second writer handle (fresh PartitionedTable over the same path
    — e.g. a restarted pipeline replaying its last micro-batch) must
    observe the commit marker and skip, leaving the table unchanged."""
    path = str(tmp_path / "t3")
    first = PartitionedTable(spark, path, ["day"])
    assert first.append_batch(_df(spark, "2024-01-04", 4, 0), 7) is True
    second = PartitionedTable(spark, path, ["day"])
    assert second.append_batch(_df(spark, "2024-01-04", 4, 50), 7) is False
    out = first.read()
    assert out.count() == 4
    assert {r["id"] for r in out.collect()} == {0, 1, 2, 3}


def test_same_batch_id_truly_concurrent_exactly_one_publishes(spark, tmp_path):
    """Two writers racing the SAME batch id: exactly one returns True,
    the other returns False without raising, and the surviving batch is
    internally consistent (record rows == visible rows)."""
    path = str(tmp_path / "t4")
    a = PartitionedTable(spark, path, ["day"])
    b = PartitionedTable(spark, path, ["day"])
    results: dict[str, object] = {}

    def run(name, table, n, base):
        results[name] = table.append_batch(_df(spark, "2024-01-05", n, base), 9)

    _run_threads(
        [lambda: run("a", a, 5, 0), lambda: run("b", b, 6, 100)]
    )
    assert sorted(results.values()) == [False, True], results
    expected = 5 if results["a"] is True else 6
    out = a.read().where("day = '2024-01-05'")
    assert out.count() == expected
    assert out.select("id").distinct().count() == expected
    assert a.batch_metrics()[9]["rows"] == expected
    assert not any((tmp_path / "t4" / "_staging").iterdir())


def test_slow_live_holder_is_not_usurped(spark, tmp_path):
    """A writer that won the record but is slow to publish cannot be
    usurped: a same-batch writer arriving mid-publish rolls the HOLDER's
    manifest forward and returns False — its own rows never land, and
    by the time it returns every holder row is visible."""
    path = str(tmp_path / "hb2")
    slow = PartitionedTable(spark, path, ["day"])
    fast = PartitionedTable(spark, path, ["day"])
    committed, fast_done = threading.Event(), threading.Event()
    real = PartitionedTable._roll_forward

    def stalled(fs, Path, batch_id, record):  # holder: record won, not published
        committed.set()
        fast_done.wait(timeout=60)
        return real(slow, fs, Path, batch_id, record)

    slow._roll_forward = stalled
    results: dict[str, object] = {}

    def run_slow():
        results["slow"] = slow.append_batch(_df(spark, "2024-02-01", 4, 0), 11)

    def run_fast():
        try:
            assert committed.wait(timeout=60)
            results["fast"] = fast.append_batch(_df(spark, "2024-02-01", 9, 100), 11)
            results["seen"] = sorted(r["id"] for r in fast.read().collect())
        finally:
            fast_done.set()

    _run_threads([run_slow, run_fast])
    assert results["slow"] is True and results["fast"] is False, results
    assert results["seen"] == [0, 1, 2, 3]
    out = slow.read().where("day = '2024-02-01'")
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3]
    assert slow.batch_metrics()[11]["rows"] == 4


def test_four_concurrent_writers_same_batch_exactly_once(spark, tmp_path):
    """Four truly-concurrent same-batch writers: exactly one returns
    True, three return False, none raises, and the surviving rows are
    internally consistent — the guarantee matrix's raced row at higher
    contention than the pairwise test."""
    path = str(tmp_path / "t8")
    tables = [PartitionedTable(spark, path, ["day"]) for _ in range(4)]
    results: dict[int, object] = {}

    def run(i):
        results[i] = tables[i].append_batch(
            _df(spark, "2024-03-01", 3 + i, i * 100), 21
        )

    _run_threads([lambda i=i: run(i) for i in range(4)])
    assert sorted(results.values()) == [False, False, False, True], results
    winner = next(i for i, v in results.items() if v is True)
    out = tables[0].read().where("day = '2024-03-01'")
    expected = 3 + winner
    assert out.count() == expected
    assert sorted(r["id"] for r in out.collect()) == [winner * 100 + j for j in range(expected)]
    assert tables[0].batch_metrics()[21]["rows"] == expected


def test_roll_forward_tolerates_a_racing_rename(spark, tmp_path, monkeypatch):
    """A staged file that a racing roll-forward moved between our
    existence check and our rename reads as published: the rename
    reports failure once the source is gone, and that must not fail the
    append."""

    class RacedFs:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            assert self._fs.rename(src, dst)  # the other side wins this file
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = PartitionedTable._roll_forward

    def raced(self, fs, Path, batch_id, record):
        return real(self, RacedFs(fs), Path, batch_id, record)

    monkeypatch.setattr(PartitionedTable, "_roll_forward", raced)
    table = PartitionedTable(spark, str(tmp_path / "race"), ["day"])
    assert table.append_batch(_df(spark, "2024-04-01", 5, 0), 3) is True
    monkeypatch.undo()
    assert sorted(r["id"] for r in table.read().collect()) == [0, 1, 2, 3, 4]
