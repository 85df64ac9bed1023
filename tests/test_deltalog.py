"""Delta transaction-log export: spec-structure pins and replay
round-trips (PROTOCOL.md of delta-io/delta). No Delta reader ships in
this environment (docs/SCALE.md probes), so correctness is pinned the
way a reader would consume the bytes: replay add/remove by path and
load exactly that file set."""

from __future__ import annotations

import json
import os
import posixpath

import pytest

from incremental_dagster_delta_spark import deltalog
from incremental_dagster_delta_spark.deltalog import (
    DeltaLogExporter,
    read_delta_log,
    replay_file_set,
)
from incremental_dagster_delta_spark.tableio import PartitionedTable

SCHEMA = "k long, payload string, day string"


def _mk(spark, path):
    t = PartitionedTable(spark, str(path), ["day"])
    t.append_batch(
        spark.createDataFrame(
            [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (3, "c", "2024-01-01")],
            SCHEMA,
        ),
        0,
    )
    return t


def _log_lines(path, version):
    with open(os.path.join(str(path), "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def test_version0_structure_matches_protocol_spec(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    assert DeltaLogExporter(t).export() == 0

    lines = _log_lines(tmp_path / "t", 0)
    kinds = [next(iter(ln)) for ln in lines]
    assert kinds[0] == "commitInfo"
    assert kinds[1] == "protocol" and kinds[2] == "metaData"
    assert set(kinds[3:]) == {"add"}

    proto = lines[1]["protocol"]
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}

    meta = lines[2]["metaData"]
    assert set(meta) == {
        "id", "format", "schemaString", "partitionColumns", "configuration", "createdTime",
    }
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["partitionColumns"] == ["day"]
    schema = json.loads(meta["schemaString"])  # Spark struct JSON per spec
    assert schema["type"] == "struct"
    assert {f["name"] for f in schema["fields"]} == {"k", "payload", "day"}

    for ln in lines[3:]:
        add = ln["add"]
        assert set(add) >= {"path", "partitionValues", "size", "modificationTime", "dataChange"}
        assert add["dataChange"] is True
        assert add["partitionValues"] == {"day": add["path"].split("/")[0].split("=", 1)[1]}
        assert isinstance(add["partitionValues"]["day"], str)  # string map per spec
        assert json.loads(add["stats"])["numRecords"] >= 1


def test_export_is_idempotent_and_replay_matches_live(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    assert ex.export() == -1  # no change → no version

    replay = replay_file_set(str(tmp_path / "t" / "_delta_log"))
    import glob

    live = {
        os.path.relpath(p, str(tmp_path / "t"))
        for p in glob.glob(str(tmp_path / "t" / "day=*" / "b*"))
    }
    assert set(replay) == live

    total = sum(json.loads(a["stats"])["numRecords"] for a in replay.values())
    assert total == t.read().count() == 3


def test_append_then_export_appends_one_add_version(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    ex.export()
    t.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], SCHEMA), 1)
    assert ex.export() == 1

    lines = _log_lines(tmp_path / "t", 1)
    kinds = [next(iter(ln)) for ln in lines]
    assert kinds.count("protocol") == 0 and kinds.count("metaData") == 0
    adds = [ln["add"] for ln in lines if "add" in ln]
    assert len(adds) == 1 and adds[0]["path"].startswith("day=2024-01-03/b1-")
    assert not any("remove" in ln for ln in lines)


def test_export_refuses_to_replace_a_committed_version(spark, tmp_path, monkeypatch):
    """Two exporters that computed the same version: the later one must
    fail loudly, and the committed version stays byte-identical."""
    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    ex.export()
    t.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], SCHEMA), 1)
    assert ex.export() == 1
    committed = os.path.join(ex.log_dir, f"{1:020d}.json")
    before = open(committed, "rb").read()
    t.append_batch(spark.createDataFrame([(5, "e", "2024-01-04")], SCHEMA), 2)
    real = deltalog._existing_versions
    # an exporter that has not seen version 1 yet computes v=1 again
    monkeypatch.setattr(deltalog, "_existing_versions", lambda d: real(d)[:-1])
    with pytest.raises(FileExistsError):
        ex.export()
    assert open(committed, "rb").read() == before
    assert sorted(os.listdir(ex.log_dir)) == [f"{0:020d}.json", f"{1:020d}.json"]


def test_partition_delete_then_export_emits_removes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    ex.export()
    t.delete_partitions(day="2024-01-02")
    assert ex.export(operation="DELETE") == 1
    lines = _log_lines(tmp_path / "t", 1)
    removes = [ln["remove"] for ln in lines if "remove" in ln]
    assert len(removes) == 1 and removes[0]["path"].startswith("day=2024-01-02/")
    assert removes[0]["dataChange"] is True and "deletionTimestamp" in removes[0]
    assert set(replay_file_set(str(tmp_path / "t" / "_delta_log"))) == {
        os.path.relpath(p, str(tmp_path / "t"))
        for p in __import__("glob").glob(str(tmp_path / "t" / "day=*" / "b*"))
    }


def test_compaction_rewrite_exports_removes_plus_adds(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.append_batch(spark.createDataFrame([(4, "d", "2024-01-01")], SCHEMA), 1)
    ex = DeltaLogExporter(t)
    ex.export()
    before = set(replay_file_set(str(tmp_path / "t" / "_delta_log")))
    t.compact()
    v = ex.export(operation="OPTIMIZE")
    assert v == 1
    lines = _log_lines(tmp_path / "t", 1)
    assert any("remove" in ln for ln in lines) and any("add" in ln for ln in lines)
    # the rewritten files fully replace the prefixed originals, and the
    # snapshot a reader replays still serves every row
    replay = replay_file_set(str(tmp_path / "t" / "_delta_log"))
    assert set(replay).isdisjoint(before)
    via_log = read_delta_log(t)
    assert sorted(r["k"] for r in via_log.collect()) == [1, 2, 3, 4]


def test_read_through_log_matches_table_read(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], SCHEMA), 1)
    DeltaLogExporter(t).export()
    via_log = read_delta_log(t)
    assert sorted(r["k"] for r in via_log.collect()) == [1, 2, 3, 4]
    assert set(via_log.columns) == set(t.read().columns)


def test_log_survives_table_maintenance(spark, tmp_path):
    """_delta_log is a hidden root entry: vacuum must not touch it and
    the overwrite/compact salvage must carry it across swaps."""
    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    ex.export()
    assert t.vacuum() == 0
    t.overwrite_partitions(
        spark.createDataFrame([(9, "z", "2024-01-01")], SCHEMA), day="2024-01-01"
    )
    assert os.path.isdir(str(tmp_path / "t" / "_delta_log"))
    v = ex.export(operation="WRITE")
    assert v == 1
    # the rewritten partition's unprefixed files are live table state:
    # the exported snapshot must keep serving BOTH partitions
    replay = replay_file_set(str(tmp_path / "t" / "_delta_log"))
    assert {p.split("/")[0] for p in replay} == {"day=2024-01-01", "day=2024-01-02"}
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [2, 9]


def test_uncommitted_partial_publish_never_exported(spark, tmp_path):
    """A b{id}- file whose batch has no commit marker (crashed writer)
    is not table state: vacuum reclaims it and the export must not
    describe it to a foreign reader."""
    import glob

    t = _mk(spark, tmp_path / "t")
    src = glob.glob(str(tmp_path / "t" / "day=*" / "b0-*.parquet"))[0]
    orphan = os.path.join(os.path.dirname(src), "b9-" + os.path.basename(src).split("-", 1)[1])
    open(orphan, "wb").write(open(src, "rb").read())
    assert DeltaLogExporter(t).export() == 0
    replay = replay_file_set(str(tmp_path / "t" / "_delta_log"))
    assert not any(posixpath.basename(p).startswith("b9-") for p in replay)
    total = sum(json.loads(a["stats"])["numRecords"] for a in replay.values())
    assert total == 3  # committed rows only


def test_pipeline_exports_log_per_microbatch(spark, tmp_path):
    """export_delta_log=True keeps a foreign-readable snapshot current
    across waves, and a no-new-files run appends no version."""
    from incremental_dagster_delta_spark.deltalog import _existing_versions
    from incremental_dagster_delta_spark.sources.fixture import generate_ingest_fixture
    from incremental_dagster_delta_spark.streaming.pipeline import IngestPipeline

    ingest, tables = str(tmp_path / "ingest"), str(tmp_path / "tables")
    generate_ingest_fixture(ingest, days=["2024-03-26"], files_per_day_per_wave=6, wave=0)
    pipe = IngestPipeline(spark, ingest, tables, export_delta_log=True)
    pipe.run_incremental()

    log_dir = os.path.join(tables, "processed", "v1", "_delta_log")
    v0 = _existing_versions(log_dir)
    assert v0 == [0]
    assert sorted(
        r["word"] for r in read_delta_log(pipe.processed).collect()
    ) == sorted(r["word"] for r in pipe.processed.read().collect())

    # second wave → one more version; replayed snapshot keeps pace
    generate_ingest_fixture(ingest, days=["2024-03-27"], files_per_day_per_wave=4, wave=1)
    pipe.run_incremental()
    assert _existing_versions(log_dir) == [0, 1]
    assert read_delta_log(pipe.processed).count() == pipe.processed.read().count() == 10

    # no new files → no new version anywhere
    pipe.run_incremental()
    assert _existing_versions(log_dir) == [0, 1]
    back_log = os.path.join(tables, "backwards", "v1", "_delta_log")
    assert len(_existing_versions(back_log)) == 2


def test_typed_stats_export_iso8601_and_decimal_strings(spark, tmp_path):
    """Date/timestamp/decimal footer stats must serialize per spec
    (ISO-8601 strings, decimal string form) instead of crashing
    json.dumps — the r12 exporter raised TypeError for any such table."""
    import datetime

    t = PartitionedTable(spark, str(tmp_path / "t"), [])
    t.append_batch(
        spark.createDataFrame(
            [
                (
                    1,
                    datetime.date(2024, 3, 1),
                    datetime.datetime(2024, 3, 1, 12, 30, 45, 123999),
                ),
                (
                    2,
                    datetime.date(2024, 3, 9),
                    datetime.datetime(2024, 3, 9, 1, 2, 3, 4000),
                ),
            ],
            "k long, d date, ts timestamp",
        ).selectExpr("k", "d", "ts", "CAST(k AS DECIMAL(10,2)) * 1.5 AS amt"),
        0,
    )
    assert DeltaLogExporter(t).export() == 0
    stats = [
        json.loads(a["stats"])
        for a in replay_file_set(str(tmp_path / "t" / "_delta_log")).values()
        if "stats" in a
    ]
    assert stats
    def fold(which, col, agg):  # stats fold across one-task files
        return agg(s[which][col] for s in stats if col in s.get(which, {}))

    mins = lambda c: fold("minValues", c, min)  # noqa: E731
    maxs = lambda c: fold("maxValues", c, max)  # noqa: E731
    assert mins("d") == "2024-03-01" and maxs("d") == "2024-03-09"
    # timestamps: millisecond precision, min truncated, max rounded UP
    assert mins("ts") == "2024-03-01T12:30:45.123Z"
    assert maxs("ts") == "2024-03-09T01:02:03.004Z"
    # decimals export as JSON NUMBERS (Delta writer convention; strings
    # would sort lexicographically in files_in_range): exact doubles here
    assert mins("amt") == 1.5 and maxs("amt") == 3.0
    assert isinstance(mins("amt"), float) and isinstance(maxs("amt"), float)


def test_file_scheme_path_writes_log_inside_table(spark, tmp_path):
    """table.path='file:/x/t' must place the log at /x/t/_delta_log —
    the r12 os.makedirs treated 'file:' as a relative cwd directory."""
    t = _mk(spark, tmp_path / "plain")  # layout via plain path
    uri_t = PartitionedTable(spark, "file://" + str(tmp_path / "plain"), ["day"])
    assert DeltaLogExporter(uri_t).export() == 0
    assert os.path.isdir(str(tmp_path / "plain" / "_delta_log"))
    assert not os.path.exists(os.path.join(os.getcwd(), "file:"))
    assert sorted(r["k"] for r in read_delta_log(uri_t).collect()) == [1, 2, 3]
    # plain-path view of the same table replays the same snapshot
    assert set(replay_file_set(str(tmp_path / "plain" / "_delta_log"))) == {
        os.path.relpath(p, str(tmp_path / "plain"))
        for p in __import__("glob").glob(str(tmp_path / "plain" / "day=*" / "b*"))
    }


def test_non_local_scheme_raises_value_error(spark, tmp_path):
    import pytest

    t = PartitionedTable(spark, "s3://bucket/t", ["day"])
    with pytest.raises(ValueError, match="local IO"):
        DeltaLogExporter(t)


def test_files_in_range_type_mismatch_keeps_files(spark, tmp_path):
    """String bounds against numeric stats (or vice versa) must KEEP the
    file, not crash — skipping is only ever allowed to be a no-op."""
    from incremental_dagster_delta_spark.deltalog import files_in_range

    t = _mk(spark, tmp_path / "t")
    DeltaLogExporter(t).export()
    log_dir = str(tmp_path / "t" / "_delta_log")
    all_files = set(replay_file_set(log_dir))
    assert set(files_in_range(log_dir, "k", "a", "z")) == all_files
    assert set(files_in_range(log_dir, "payload", 0, 9)) == all_files


def test_stats_carry_min_max_null_counts(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    DeltaLogExporter(t).export()
    replay = replay_file_set(str(tmp_path / "t" / "_delta_log"))
    jan1 = [
        json.loads(a["stats"]) for p, a in replay.items() if p.startswith("day=2024-01-01/")
    ]
    assert jan1 and all("minValues" in s for s in jan1)
    # the leaf may hold several one-task files; stats fold across them
    assert sum(s["numRecords"] for s in jan1) == 2
    assert min(s["minValues"]["k"] for s in jan1) == 1
    assert max(s["maxValues"]["k"] for s in jan1) == 3
    assert min(s["minValues"]["payload"] for s in jan1) == "a"
    assert max(s["maxValues"]["payload"] for s in jan1) == "c"
    assert all(s["nullCount"]["k"] == 0 for s in jan1)


def test_stats_based_file_skipping_prunes_and_stays_exact(spark, tmp_path):
    """files_in_range must drop every file whose [min,max] misses the
    range, keep stats-less files, and the pruned read must return
    exactly the rows a full filtered read returns."""
    from incremental_dagster_delta_spark.deltalog import files_in_range

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    for b, (ks, day) in enumerate(
        [((1, 5), "2024-01-01"), ((100, 200), "2024-01-02"), ((1000, 1001), "2024-01-03")]
    ):
        t.append_batch(
            spark.createDataFrame([(k, f"p{k}", day) for k in ks], SCHEMA), b
        )
    DeltaLogExporter(t).export()
    log_dir = str(tmp_path / "t" / "_delta_log")

    kept = files_in_range(log_dir, "k", 50, 500)
    assert {p.split("/")[0] for p in kept} == {"day=2024-01-02"}
    pruned = read_delta_log(t, column_range=("k", 50, 500))
    full = t.read().where("k BETWEEN 50 AND 500")
    assert sorted(r["k"] for r in pruned.collect()) == sorted(
        r["k"] for r in full.collect()
    ) == [100, 200]

    # a file with no stats for the column must always be KEPT
    import json as _json

    v0 = os.path.join(log_dir, f"{0:020d}.json")
    lines = [ _json.loads(ln) for ln in open(v0) if ln.strip() ]
    for ln in lines:
        if "add" in ln and ln["add"]["path"].startswith("day=2024-01-03/"):
            st = _json.loads(ln["add"]["stats"])
            del st["minValues"], st["maxValues"], st["nullCount"]
            ln["add"]["stats"] = _json.dumps(st)
    with open(v0, "w") as fh:
        for ln in lines:
            fh.write(_json.dumps(ln, separators=(",", ":")) + "\n")
    kept2 = files_in_range(log_dir, "k", 50, 500)
    assert {p.split("/")[0] for p in kept2} == {"day=2024-01-02", "day=2024-01-03"}
    assert sorted(
        r["k"] for r in read_delta_log(t, column_range=("k", 50, 500)).collect()
    ) == [100, 200]


def test_checkpoint_replay_equals_json_replay_and_survives_cleanup(spark, tmp_path):
    """PROTOCOL.md checkpoints: every checkpoint_interval versions the
    exporter writes {v:020d}.checkpoint.parquet + _last_checkpoint; a
    reader starting from the checkpoint sees the same snapshot as a full
    JSON replay, clean_metadata deletes the subsumed JSON without
    changing the snapshot, and export keeps numbering correctly on a
    cleaned log."""
    from incremental_dagster_delta_spark.deltalog import (
        _existing_versions,
        _last_checkpoint_info,
        _replay,
    )

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    ex = DeltaLogExporter(t, checkpoint_interval=3)
    for b in range(5):
        t.append_batch(
            spark.createDataFrame([(b, f"p{b}", f"2024-02-0{b + 1}")], SCHEMA), b
        )
        ex.export()
    log_dir = str(tmp_path / "t" / "_delta_log")
    assert _existing_versions(log_dir) == [0, 1, 2, 3, 4]
    cp = _last_checkpoint_info(log_dir)
    assert cp is not None and cp["version"] == 3  # 3 % 3 == 0
    assert os.path.exists(os.path.join(log_dir, f"{3:020d}.checkpoint.parquet"))

    full = replay_file_set(log_dir)

    # (a) checkpoint+tail replay == pure-JSON replay (force JSON-only by
    # hiding _last_checkpoint)
    os.rename(
        os.path.join(log_dir, "_last_checkpoint"),
        os.path.join(log_dir, "_lc_hidden"),
    )
    json_only = replay_file_set(log_dir)
    os.rename(
        os.path.join(log_dir, "_lc_hidden"),
        os.path.join(log_dir, "_last_checkpoint"),
    )
    assert set(full) == set(json_only) and len(full) == 5
    # checkpoint-sourced adds restate data (dataChange=false per spec)
    # while the tail JSON adds keep dataChange=true
    assert {a["dataChange"] for a in full.values()} == {True, False}

    # checkpoint carries protocol + metaData
    state, protocol, metadata, _tomb = _replay(log_dir)
    assert protocol == {"minReaderVersion": 1, "minWriterVersion": 2}
    assert metadata is not None and metadata["partitionColumns"] == ["day"]

    # (b) metadata cleanup: versions 0..3 go, snapshot unchanged
    removed = DeltaLogExporter(t).clean_metadata()
    assert removed == 4
    assert _existing_versions(log_dir) == [4]
    assert set(replay_file_set(log_dir)) == set(full)
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [0, 1, 2, 3, 4]

    # (c) export on the cleaned log continues the version chain
    t.append_batch(spark.createDataFrame([(9, "z", "2024-02-09")], SCHEMA), 9)
    assert ex.export() == 5
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [0, 1, 2, 3, 4, 9]
    # and a full cleanup down to checkpoint-only still replays (protocol/
    # metaData come from the checkpoint, not v0 JSON)
    assert ex.write_checkpoint() == 5
    assert DeltaLogExporter(t).clean_metadata() >= 2
    state2, protocol2, metadata2, _tomb2 = _replay(log_dir)
    assert protocol2 == protocol and metadata2["id"] == metadata["id"]
    assert len(state2) == 6


def test_checkpoint_idempotent_reexport_stays_noop(spark, tmp_path):
    """A checkpointed, cleaned log must still treat an unchanged table
    as a no-op export (the idempotence contract, now across cleanup)."""
    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t, checkpoint_interval=1)
    assert ex.export() == 0
    assert ex.write_checkpoint() == 0
    assert ex.clean_metadata() == 1
    assert ex.export() == -1  # unchanged table, checkpoint-only log
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [1, 2, 3]


def test_version_as_of_replay(spark, tmp_path):
    """VERSION AS OF through the exported log: a pinned replay serves
    exactly the snapshot that version described (valid while its data
    files survive table maintenance — append-only here), and versions
    cleaned below the checkpoint are unreachable with a clear error."""
    import pytest

    from incremental_dagster_delta_spark.deltalog import replay_file_set as rfs

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    ex = DeltaLogExporter(t, checkpoint_interval=0)  # manual checkpoints only
    for b in range(3):
        t.append_batch(
            spark.createDataFrame([(b, f"p{b}", f"2024-03-0{b + 1}")], SCHEMA), b
        )
        assert ex.export() == b
    log_dir = str(tmp_path / "t" / "_delta_log")

    for v in range(3):
        assert len(rfs(log_dir, version=v)) == v + 1
        assert sorted(
            r["k"] for r in read_delta_log(t, version=v).collect()
        ) == list(range(v + 1))
    # stats skipping composes with the pinned version
    assert sorted(
        r["k"] for r in read_delta_log(t, column_range=("k", 1, 9), version=1).collect()
    ) == [1]

    with pytest.raises(ValueError, match="not reachable"):
        rfs(log_dir, version=7)

    # cleanup at a checkpoint makes older versions unreachable (the
    # documented retention trade), latest still pinned-readable
    assert ex.write_checkpoint() == 2
    assert ex.clean_metadata() == 3
    with pytest.raises(ValueError, match="not reachable"):
        rfs(log_dir, version=0)
    assert len(rfs(log_dir, version=2)) == 3


def test_clustered_compaction_enables_file_skipping(spark, tmp_path):
    """compact(cluster_by=...) — the OPTIMIZE/ZORDER analogue: after a
    range-clustered rewrite each file covers a narrow key interval, so
    the exported log's stats prune most files for a point-ish range;
    before clustering every file spans the whole key range and skipping
    keeps them all. Row content must be unchanged by the rewrite."""
    from incremental_dagster_delta_spark.deltalog import files_in_range

    import hashlib

    t = PartitionedTable(spark, str(tmp_path / "t"), [])
    # 4 batches, each spanning the WHOLE key range 0..399; rows shuffled
    # (md5 order) so every write task's file also spans the range —
    # createDataFrame slices an ordered list contiguously otherwise,
    # which would hand the "before" state accidental clustering
    for b in range(4):
        ks = sorted(
            range(b, 400, 4), key=lambda k: hashlib.md5(str(k).encode()).hexdigest()
        )
        t.append_batch(
            spark.createDataFrame([(k, f"p{k}", "2024-01-01") for k in ks], SCHEMA),
            b,
        )
    ex = DeltaLogExporter(t)
    ex.export()
    log_dir = str(tmp_path / "t" / "_delta_log")
    n_before = len(replay_file_set(log_dir))
    kept_before = files_in_range(log_dir, "k", 100, 119)
    assert len(kept_before) == n_before  # every file spans the range

    n_files = t.compact(target_files_per_partition=4, cluster_by=["k"])
    assert n_files == 4
    ex.export(operation="OPTIMIZE")
    kept_after = files_in_range(log_dir, "k", 100, 119)
    assert len(kept_after) == 1, f"clustered table should prune to 1 file, kept {len(kept_after)}"
    # pruned read stays exact, full content unchanged
    assert sorted(
        r["k"] for r in read_delta_log(t, column_range=("k", 100, 119)).collect()
    ) == list(range(100, 120))
    assert t.read().count() == 400


def test_export_refuses_live_soft_deletes_until_purged(spark, tmp_path):
    """Exporting a table with unpurged deletion-vector batches would
    hand a foreign Delta reader the soft-deleted rows, so export()
    refuses until purge() bakes them in (escape hatch:
    allow_soft_deletes=True publishes the raw base explicitly)."""
    import pytest

    from incremental_dagster_delta_spark.tableio import DeletionVectors

    t = _mk(spark, tmp_path / "t")
    dv = DeletionVectors(t, "k")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0  # no DV state yet → exports fine

    dv.mark_deleted(spark.createDataFrame([(2,)], "k long"), 0)
    t.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], SCHEMA), 1)
    with pytest.raises(ValueError, match="unpurged deletion-vector"):
        ex.export()
    # escape hatch: raw base, deliberately
    assert ex.export(allow_soft_deletes=True) == 1
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [1, 2, 3, 4]

    # purge bakes the delete in; the next export diffs to the rewritten
    # files and the foreign-readable snapshot now equals the DV read
    dv.purge()
    assert ex.export(operation="DELETE") == 2
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [1, 3, 4]
    assert sorted(r["k"] for r in dv.read().collect()) == [1, 3, 4]


def test_zorder_compaction_prunes_on_both_dimensions(spark, tmp_path):
    """compact(cluster_by=[a, b], zorder=True): Morton-interleaved
    quantile ranks give every file a compact rectangle in BOTH
    dimensions, so log-stats skipping prunes on either column alone —
    lexicographic clustering by [a, b] only ever prunes on a."""
    from incremental_dagster_delta_spark.deltalog import files_in_range

    rows = [
        (x, (x * 131) % 400, f"v{x}", "2024-01-01") for x in range(400)
    ]  # y decorrelated from x
    t = PartitionedTable(spark, str(tmp_path / "t"), [])
    t.append_batch(
        spark.createDataFrame(rows, "x long, y long, payload string, day string"), 0
    )
    ex = DeltaLogExporter(t)

    # lexicographic baseline: prune on x works, on y it keeps everything
    t.compact(target_files_per_partition=16, cluster_by=["x", "y"])
    ex.export(operation="OPTIMIZE")
    log_dir = str(tmp_path / "t" / "_delta_log")
    n = len(replay_file_set(log_dir))
    lex_x = len(files_in_range(log_dir, "x", 100, 124))
    lex_y = len(files_in_range(log_dir, "y", 100, 124))
    assert lex_x <= n // 4 and lex_y == n

    t.compact(target_files_per_partition=16, cluster_by=["x", "y"], zorder=True)
    ex.export(operation="OPTIMIZE")
    z_x = len(files_in_range(log_dir, "x", 100, 124))
    z_y = len(files_in_range(log_dir, "y", 100, 124))
    n2 = len(replay_file_set(log_dir))
    assert z_x < n2 and z_y < n2, (z_x, z_y, n2)  # prunes on BOTH
    assert z_y <= n2 // 2  # and meaningfully on the second dimension
    # content untouched, pruned read exact
    assert t.read().count() == 400
    assert sorted(
        r["y"] for r in read_delta_log(t, column_range=("y", 100, 124)).collect()
    ) == sorted(y for _, y, _, _ in rows if 100 <= y <= 124)


def test_log_history_lists_operations_newest_first(spark, tmp_path):
    from incremental_dagster_delta_spark.deltalog import log_history

    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t, checkpoint_interval=0)
    ex.export()
    t.append_batch(spark.createDataFrame([(4, "d", "2024-01-03")], SCHEMA), 1)
    ex.export()
    t.delete_partitions(day="2024-01-02")
    ex.export(operation="DELETE")
    log_dir = str(tmp_path / "t" / "_delta_log")

    h = log_history(log_dir)
    assert [r["version"] for r in h] == [2, 1, 0]
    assert [r["operation"] for r in h] == ["DELETE", "WRITE", "WRITE"]
    assert h[0]["operationMetrics"]["numRemovedFiles"] == "1"
    assert all(isinstance(r["timestamp"], int) for r in h)

    # cleanup truncates history to post-checkpoint versions
    ex.write_checkpoint()
    ex.clean_metadata()
    assert log_history(log_dir) == []
    t.append_batch(spark.createDataFrame([(7, "g", "2024-01-04")], SCHEMA), 2)
    assert ex.export() == 3
    assert [r["version"] for r in log_history(log_dir)] == [3]


def test_files_in_partition_prunes_by_partition_values(spark, tmp_path):
    from incremental_dagster_delta_spark.deltalog import files_in_partition

    t = _mk(spark, tmp_path / "t")  # day=2024-01-01 (2 rows), day=2024-01-02 (1)
    ex = DeltaLogExporter(t, checkpoint_interval=0)
    ex.export()
    log_dir = str(tmp_path / "t" / "_delta_log")

    jan1 = files_in_partition(log_dir, {"day": "2024-01-01"})
    assert jan1 and all(p.startswith("day=2024-01-01/") for p in jan1)
    assert files_in_partition(log_dir, {"day": "2024-09-09"}) == {}
    # no keys → everything; unknown key → nothing matches
    assert set(files_in_partition(log_dir, {})) == set(replay_file_set(log_dir))
    assert files_in_partition(log_dir, {"nope": "x"}) == {}
    # a partition column named like a parameter stays queryable
    assert files_in_partition(log_dir, {"version": "v1"}) == {}
    # survives the checkpoint + cleanup path (partitionValues round-trip
    # through the checkpoint parquet's string map)
    ex.write_checkpoint()
    ex.clean_metadata()
    assert set(files_in_partition(log_dir, {"day": "2024-01-01"})) == set(jan1)
    # and composes with a version pin
    assert set(files_in_partition(log_dir, {"day": "2024-01-02"}, version=0)) == {
        p for p in replay_file_set(log_dir) if p.startswith("day=2024-01-02/")
    }


def test_zorder_three_columns_prunes_on_each(spark, tmp_path):
    """N-dim Morton clustering: with three decorrelated columns, a
    range on ANY one of them prunes files (coarser per-dimension than
    2-D, but never worse than keep-everything), and zorder_key_n's
    2-column layout matches the original zorder_key bit for bit."""
    from pyspark.sql import functions as F

    from incremental_dagster_delta_spark.deltalog import files_in_range
    from incremental_dagster_delta_spark.functions import zorder_key, zorder_key_n

    # bit-for-bit parity of the n-dim form with the 2-dim original
    pairs = spark.range(500).select(
        (F.col("id") % 23).alias("a"), (F.col("id") % 17).alias("b")
    )
    mismatch = pairs.where(
        zorder_key(F.col("a"), F.col("b"), bits=8)
        != zorder_key_n([F.col("a"), F.col("b")], bits=8)
    ).count()
    assert mismatch == 0

    rows = [
        (x, (x * 131) % 512, (x * 277) % 512, "2024-01-01") for x in range(512)
    ]
    t = PartitionedTable(spark, str(tmp_path / "t"), [])
    t.append_batch(
        spark.createDataFrame(rows, "x long, y long, z long, day string"), 0
    )
    t.compact(target_files_per_partition=16, cluster_by=["x", "y", "z"], zorder=True)
    ex = DeltaLogExporter(t)
    ex.export(operation="OPTIMIZE")
    log_dir = str(tmp_path / "t" / "_delta_log")
    n = len(replay_file_set(log_dir))
    for col in ("x", "y", "z"):
        kept = len(files_in_range(log_dir, col, 100, 131))
        assert kept < n, f"no pruning on {col}: {kept}/{n}"
    assert t.read().count() == 512


import pytest


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_randomized_maintenance_history_replay_equals_read(spark, tmp_path, seed):
    """Export invariant under arbitrary maintenance histories: after ANY
    seeded sequence of append / partition-delete / compact (plain,
    clustered, z-ordered) / vacuum / checkpoint / cleanup, an export's
    replayed snapshot serves exactly table.read() — rows, not just file
    sets. This is the property a foreign Delta reader relies on; the
    directed tests pin each transition, this pins their compositions."""
    import random

    from incremental_dagster_delta_spark.deltalog import _existing_versions

    rng = random.Random(seed)
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    ex = DeltaLogExporter(t, checkpoint_interval=0)
    days = [f"2024-05-0{i}" for i in range(1, 4)]
    next_batch = 0
    next_key = 0

    def do_append():
        nonlocal next_batch, next_key
        rows = [
            (next_key + i, (next_key + i) % 7, f"p{next_key + i}", rng.choice(days))
            for i in range(rng.randint(1, 8))
        ]
        next_key += len(rows)
        t.append_batch(
            spark.createDataFrame(rows, "k long, y long, payload string, day string"),
            next_batch,
        )
        next_batch += 1

    def do_delete():
        t.delete_partitions(day=rng.choice(days))

    def do_compact():
        style = rng.randint(0, 2)
        if style == 0:
            t.compact()
        elif style == 1:
            t.compact(target_files_per_partition=2, cluster_by=["k"])
        else:
            t.compact(target_files_per_partition=2, cluster_by=["k", "y"], zorder=True)

    def do_vacuum():
        t.vacuum()

    def do_checkpoint():
        if _existing_versions(str(tmp_path / "t" / "_delta_log")):
            ex.write_checkpoint()
            if rng.random() < 0.5:
                ex.clean_metadata()

    do_append()  # histories start non-empty
    ops = [do_append, do_delete, do_compact, do_vacuum, do_checkpoint]
    weights = [5, 2, 2, 1, 2]
    for _ in range(10):
        rng.choices(ops, weights=weights)[0]()
        ex.export()
        expected = sorted(r["k"] for r in t.read().collect()) if next_key else []
        try:
            got = sorted(r["k"] for r in read_delta_log(t).collect())
        except ValueError:
            # an all-partitions-deleted table has no snapshot to serve;
            # read() must agree it is empty
            assert expected == []
            continue
        assert got == expected, f"seed={seed}: replay diverged from read()"


def test_leaf_partitions_from_file_index(spark, tmp_path):
    """PartitionedTable.leaf_partitions: scopes from the file index
    alone — matches the data, unescapes hive-encoded values, ignores
    sidecars, and returns [] for unpartitioned/missing tables."""
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    assert t.leaf_partitions() == []
    t.append_batch(
        spark.createDataFrame(
            [(1, "a", "2024-01-01"), (2, "b", "with space"), (3, "c", "2024-01-01")],
            SCHEMA,
        ),
        0,
    )
    DeltaLogExporter(t).export()  # plants a _delta_log sidecar to ignore
    assert t.leaf_partitions() == [{"day": "2024-01-01"}, {"day": "with space"}]
    flat = PartitionedTable(spark, str(tmp_path / "flat"), [])
    flat.append_batch(spark.createDataFrame([(1, "a", "x")], SCHEMA), 0)
    assert flat.leaf_partitions() == []


def test_compact_partitions_rewrites_only_offenders(spark, tmp_path):
    """Incremental OPTIMIZE: only leaves at/over min_files rewrite (each
    via the crash-atomic per-partition swap), cold leaves keep their
    exact files, content is unchanged, and the export diffs to the
    rewritten files only."""
    from incremental_dagster_delta_spark.deltalog import files_in_range

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    # hot leaf: 5 one-row appends; cold leaf: a single append
    for b in range(5):
        t.append_batch(
            spark.createDataFrame([(b * 7 % 50, f"p{b}", "2024-01-01")], SCHEMA), b
        )
    t.append_batch(spark.createDataFrame([(99, "cold", "2024-01-02")], SCHEMA), 5)
    ex = DeltaLogExporter(t)
    ex.export()
    before = replay_file_set(str(tmp_path / "t" / "_delta_log"))
    cold_before = {p for p in before if p.startswith("day=2024-01-02/")}

    n = t.compact_partitions(min_files=3, cluster_by=["k"])
    assert n == 1  # only the hot leaf
    ex.export(operation="OPTIMIZE")
    after = replay_file_set(str(tmp_path / "t" / "_delta_log"))
    assert {p for p in after if p.startswith("day=2024-01-02/")} == cold_before
    hot_after = [p for p in after if p.startswith("day=2024-01-01/")]
    assert len(hot_after) == 1 and hot_after[0] not in before
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == sorted(
        r["k"] for r in t.read().collect()
    )
    # clustered rewrite → stats prune within the hot leaf's key range
    assert len(files_in_range(str(tmp_path / "t" / "_delta_log"), "k", 99, 99)) < len(after)

    # second pass: nothing left over threshold → no-op, export no-ops too
    assert t.compact_partitions(min_files=3) == 0
    assert ex.export() == -1

    import pytest

    with pytest.raises(ValueError, match="partitioned"):
        PartitionedTable(spark, str(tmp_path / "flat"), []).compact_partitions()


def test_compact_partitions_interrupted_midway_converges(spark, tmp_path, monkeypatch):
    """Each leaf swap is independent and crash-atomic, so dying between
    leaves leaves a fully readable table (some leaves optimized, some
    not) and a re-run finishes the job — the incremental-OPTIMIZE
    counterpart of the compact()/overwrite crash matrices."""
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    for b in range(4):
        for d in ("2024-01-01", "2024-01-02"):
            t.append_batch(
                spark.createDataFrame([(b * 10 + int(d[-1]), f"p{b}", d)], SCHEMA),
                b * 2 + int(d[-1]) - 1,
            )
    n_rows = t.read().count()

    real = PartitionedTable.overwrite_partitions
    calls = {"n": 0}

    def dying(self, df, **scope):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash between leaf swaps")
        return real(self, df, **scope)

    monkeypatch.setattr(PartitionedTable, "overwrite_partitions", dying)
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        t.compact_partitions(min_files=2)
    monkeypatch.setattr(PartitionedTable, "overwrite_partitions", real)

    # table fully readable mid-way: one leaf optimized, one untouched
    assert t.read().count() == n_rows
    counts = {dict(sc)["day"]: v for sc, v in t._leaf_scopes_counts().values()}
    assert sorted(counts.values()) == [1, 4]
    # re-run converges: only the unfinished leaf rewrites
    assert t.compact_partitions(min_files=2) == 1
    assert t.read().count() == n_rows
    assert sorted(v for _, v in t._leaf_scopes_counts().values()) == [1, 1]


def test_null_partition_leaves_survive_maintenance(spark, tmp_path):
    """Null partition values (hive's __HIVE_DEFAULT_PARTITION__ leaf):
    read_partition must translate the sentinel to IS NULL, purge must
    rewrite (not DROP) the null leaf, and compact_partitions must
    compact it — a string-equality scope matched nothing and the empty
    overwrite then deleted every live null-keyed row."""
    from incremental_dagster_delta_spark.tableio import (
        HIVE_NULL_PARTITION,
        DeletionVectors,
    )

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    for b in range(2):
        t.append_batch(
            spark.createDataFrame(
                [(b * 10 + 1, "n", None), (b * 10 + 2, "d", "2024-01-01")],
                SCHEMA,
            ),
            b,
        )
    assert {"day": HIVE_NULL_PARTITION} in t.leaf_partitions()
    assert sorted(
        r["k"] for r in t.read_partition(day=HIVE_NULL_PARTITION).collect()
    ) == [1, 11]

    # purge: delete one null-day row; the OTHER null-day row must survive
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,)], "k long"), 0)
    assert dv.purge() == 2
    assert sorted(r["k"] for r in t.read().collect()) == [2, 11, 12]
    assert t.read().where("day IS NULL").count() == 1

    # incremental OPTIMIZE on the (still 1-file) leaves: force with
    # min_files=1; null leaf compacts, never drops
    assert t.compact_partitions(min_files=1) == 2
    assert sorted(r["k"] for r in t.read().collect()) == [2, 11, 12]


def test_escaped_partition_value_fully_deleted_leaf_is_dropped(spark, tmp_path):
    """A partition value hive-escapes on disk (day='a:b' → day=a%3Ab);
    when a purge empties that whole partition, the drop-enumeration must
    match the UNESCAPED scope — the raw comparison skipped the drop
    while the watermark still advanced, resurrecting the rows."""
    from incremental_dagster_delta_spark.tableio import DeletionVectors

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame(
            [(1, "x", "a:b"), (2, "y", "a:b"), (3, "z", "plain")], SCHEMA
        ),
        0,
    )
    assert {"day": "a:b"} in t.leaf_partitions()
    dv = DeletionVectors(t, "k")
    dv.mark_deleted(spark.createDataFrame([(1,), (2,)], "k long"), 0)
    dv.purge()
    assert sorted(r["k"] for r in t.read().collect()) == [3]
    assert sorted(r["k"] for r in dv.read().collect()) == [3]  # no resurrection
    assert {"day": "a:b"} not in t.leaf_partitions()


def test_compact_partitions_min_files_one_reclusters(spark, tmp_path):
    """min_files=1 must rewrite every leaf — the re-clustering pass on
    an already-compacted table (the old threshold silently skipped
    at/under-target leaves, making re-layout unreachable)."""
    from incremental_dagster_delta_spark.deltalog import files_in_range

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    ks = sorted(range(200), key=lambda k: (k * 37) % 200)
    t.append_batch(
        spark.createDataFrame([(k, f"p{k}", "2024-01-01") for k in ks], SCHEMA), 0
    )
    t.compact(target_files_per_partition=4)  # compacted but unclustered
    assert t.compact_partitions(min_files=1, target_files_per_partition=4, cluster_by=["k"]) == 1
    DeltaLogExporter(t).export()
    log_dir = str(tmp_path / "t" / "_delta_log")
    n = len(replay_file_set(log_dir))
    assert len(files_in_range(log_dir, "k", 10, 40)) < n  # clustered now
    assert t.read().count() == 200


def test_null_partition_value_exports_as_json_null(spark, tmp_path):
    """PROTOCOL.md: a null partition value is JSON null in the add
    action's string map — not hive's on-disk sentinel directory name.
    files_in_partition selects those leaves with None, the snapshot
    round-trips the null rows, and the checkpoint's map preserves it."""
    from incremental_dagster_delta_spark.deltalog import files_in_partition

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame(
            [(1, "n", None), (2, "d", "2024-01-01")], SCHEMA
        ),
        0,
    )
    ex = DeltaLogExporter(t)
    ex.export()
    log_dir = str(tmp_path / "t" / "_delta_log")
    null_adds = [
        a
        for a in replay_file_set(log_dir).values()
        if "__HIVE_DEFAULT_PARTITION__" in a["path"]
    ]
    assert null_adds and all(
        a["partitionValues"] == {"day": None} for a in null_adds
    )
    kept = files_in_partition(log_dir, {"day": None})
    assert set(kept) == {_decode(a["path"]) for a in null_adds}
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [1, 2]
    # survives the checkpoint parquet's string map
    ex.write_checkpoint()
    ex.clean_metadata()
    assert set(files_in_partition(log_dir, {"day": None})) == set(kept)


def _decode(p):
    import urllib.parse

    return urllib.parse.unquote(p)


def test_checkpoint_carries_unexpired_remove_tombstones(spark, tmp_path):
    """Spec parity (ADVICE r13): checkpoints must carry remove tombstones
    within the retention window so a foreign reader/vacuum can coordinate
    file deletion; expired tombstones are dropped
    (delta.deletedFileRetentionDuration semantics); a re-added path
    retires its tombstone."""
    from incremental_dagster_delta_spark.deltalog import _read_checkpoint, _replay

    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    pre_compact = set(replay_file_set(ex.log_dir))
    t.compact()  # rewrites every file: the next export emits removes
    assert ex.export() == 1
    removes = [ln["remove"] for ln in _log_lines(tmp_path / "t", 1) if "remove" in ln]
    assert {os.path.basename(r["path"]) for r in removes} == {
        os.path.basename(p) for p in pre_compact
    }

    cp_v = ex.write_checkpoint()
    cp_path = os.path.join(ex.log_dir, f"{cp_v:020d}.checkpoint.parquet")
    state, _proto, _meta, tombstones = _read_checkpoint(cp_path)
    # fresh removes ride into the checkpoint; live state excludes them
    assert set(tombstones) == set(pre_compact)
    assert all(r["dataChange"] is False for r in tombstones.values())
    assert set(state).isdisjoint(tombstones)
    # a reader starting from the checkpoint still reconstructs the table
    assert ex.clean_metadata() >= 1
    assert sorted(r["k"] for r in read_delta_log(t).collect()) == [1, 2, 3]
    # and checkpoint-sourced tombstones survive replay into the NEXT one
    _s, _p, _m, replayed = _replay(ex.log_dir)
    assert set(replayed) == set(pre_compact)

    # expired tombstones drop: age one below the retention cutoff
    victim = sorted(tombstones)[0]
    aged = DeltaLogExporter(t, tombstone_retention_ms=3600 * 1000)
    t.append_batch(
        spark.createDataFrame([(9, "z", "2024-01-03")], SCHEMA), 9
    )
    assert aged.export() == 2
    # rewrite the replayed tombstone's timestamp via a hand-aged remove
    # in a fresh JSON version (simulates week-old history)
    old_ts = 1000  # epoch ms, far past any retention window
    v3 = os.path.join(ex.log_dir, f"{3:020d}.json")
    with open(v3, "w") as fh:
        fh.write(
            json.dumps(
                {"commitInfo": {"timestamp": old_ts, "operation": "DELETE"}}
            )
            + "\n"
        )
        fh.write(
            json.dumps(
                {
                    "remove": {
                        "path": "day=2024-01-03/ghost.parquet",
                        "deletionTimestamp": old_ts,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    cp_v2 = aged.write_checkpoint()
    _s2, _p2, _m2, tomb2 = _read_checkpoint(
        os.path.join(ex.log_dir, f"{cp_v2:020d}.checkpoint.parquet")
    )
    assert "day=2024-01-03/ghost.parquet" not in tomb2  # expired: dropped
    assert victim in tomb2  # fresh ones kept


def test_replay_retires_tombstone_on_readd(spark, tmp_path):
    """An add after a remove of the same path retires the tombstone —
    the file is live again and must not be double-reported."""
    from incremental_dagster_delta_spark.deltalog import _replay

    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    state0 = replay_file_set(ex.log_dir)
    rel = sorted(state0)[0]
    a0 = state0[rel]
    now = 1700000000000
    v1 = os.path.join(ex.log_dir, f"{1:020d}.json")
    with open(v1, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": now, "operation": "DELETE"}}) + "\n")
        fh.write(
            json.dumps(
                {"remove": {"path": a0["path"], "deletionTimestamp": now, "dataChange": True}}
            )
            + "\n"
        )
    _s, _p, _m, tomb = _replay(ex.log_dir)
    assert rel in tomb and rel not in _s
    v2 = os.path.join(ex.log_dir, f"{2:020d}.json")
    with open(v2, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": now, "operation": "WRITE"}}) + "\n")
        fh.write(json.dumps({"add": a0}) + "\n")
    _s2, _p2, _m2, tomb2 = _replay(ex.log_dir)
    assert rel in _s2 and rel not in tomb2


def test_nonfinite_float_stats_stay_valid_json(spark, tmp_path):
    """inf/NaN footer stats must not reach json.dumps (it emits
    Infinity — not legal JSON, and a strict foreign parser dies on the
    whole add action): the column drops from the maps instead."""
    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame(
            [(1, float("inf"), "2024-01-01"), (2, 3.5, "2024-01-01")],
            "k long, x double, day string",
        ),
        0,
    )
    assert DeltaLogExporter(t).export() == 0
    raw = open(
        os.path.join(str(tmp_path / "t"), "_delta_log", f"{0:020d}.json")
    ).read()
    assert "Infinity" not in raw  # the invalid-JSON token never serializes
    dropped_x = 0
    for ln in _log_lines(tmp_path / "t", 0):
        if "add" not in ln:
            continue
        stats = json.loads(ln["add"]["stats"])  # must parse as strict JSON
        assert "k" in stats.get("minValues", {})  # finite columns keep stats
        if "x" not in stats.get("minValues", {}):
            dropped_x += 1
        else:
            assert stats["maxValues"]["x"] == 3.5
    assert dropped_x >= 1  # the file holding inf dropped the column


def test_schema_evolution_reemits_metadata(spark, tmp_path):
    """A widened table must re-emit metaData (foreign readers take
    schemaString as THE schema — stale metadata silently drops the new
    column), preserving the original createdTime."""
    from incremental_dagster_delta_spark.deltalog import _replay

    t = PartitionedTable(spark, str(tmp_path / "t"), ["day"])
    t.append_batch(
        spark.createDataFrame([(1, "a", "2024-01-01")], SCHEMA), 0
    )
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    _s0, _p0, meta0, _t0 = _replay(ex.log_dir)
    assert "extra" not in meta0["schemaString"]
    t.append_batch(
        spark.createDataFrame(
            [(2, "b", 7, "2024-01-02")], "k long, payload string, extra long, day string"
        ),
        1,
    )
    v = ex.export()
    assert v == 1
    _s1, _p1, meta1, _t1 = _replay(ex.log_dir)
    assert "extra" in meta1["schemaString"]
    assert meta1["createdTime"] == meta0["createdTime"]  # creation time sticks
    assert meta1["id"] == meta0["id"]
    # schema-stable exports stay no-ops
    assert ex.export() == -1


def test_read_delta_log_empty_selection_returns_empty_frame(spark, tmp_path):
    """Stats pruning that eliminates every file — or a snapshot whose
    live set is empty after removes — is a valid EMPTY result typed from
    metaData.schemaString, not a 'no exported snapshot' error."""
    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    pruned = read_delta_log(t, column_range=("k", 5000, 6000))
    assert pruned.count() == 0
    assert set(pruned.columns) == {"k", "payload", "day"}
    # remove-only final version: empty snapshot still served
    t.delete_partitions(day="2024-01-01")
    t.delete_partitions(day="2024-01-02")
    assert ex.export(operation="DELETE") == 1
    empty = read_delta_log(t)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "payload", "day"}
    # an actually-absent log still refuses
    t2 = _mk(spark, tmp_path / "t2")
    import pytest

    with pytest.raises(ValueError, match="no exported snapshot"):
        read_delta_log(t2)


def test_replay_refuses_noncontiguous_segment_chain(spark, tmp_path):
    """A crashed cleanup that deleted an arbitrary subset of segments
    must raise — replaying the survivors from 0 would serve a silently
    partial snapshot; with an intact checkpoint at/below the pin the
    replay still works."""
    import pytest

    from incremental_dagster_delta_spark.deltalog import _replay

    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    for b, day in ((1, "2024-02-01"), (2, "2024-02-02"), (3, "2024-02-03")):
        t.append_batch(
            spark.createDataFrame([(100 + b, f"p{b}", day)], SCHEMA), b
        )
        assert ex.export() == b
    os.remove(os.path.join(ex.log_dir, f"{0:020d}.json"))
    os.remove(os.path.join(ex.log_dir, f"{1:020d}.json"))
    with pytest.raises(ValueError, match="missing segments"):
        _replay(ex.log_dir, version=3)
    with pytest.raises(ValueError, match="no readable checkpoint"):
        _replay(ex.log_dir)


def test_foreign_null_stats_and_timestampless_tombstones(spark, tmp_path):
    """Foreign-writer shapes: an add action with "stats": null must not
    break data skipping (keep the file), and a remove without
    deletionTimestamp is RETAINED in checkpoints (stamped now), never
    expired as epoch 0."""
    from incremental_dagster_delta_spark.deltalog import (
        _read_checkpoint,
        files_in_range,
    )

    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    now = 1700000000000
    with open(os.path.join(ex.log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": now, "operation": "WRITE"}}) + "\n")
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": "day=2024-09-01/foreign.parquet",
                        "partitionValues": {"day": "2024-09-01"},
                        "size": 10,
                        "modificationTime": now,
                        "dataChange": True,
                        "stats": None,
                    }
                }
            )
            + "\n"
        )
        fh.write(
            json.dumps(
                {"remove": {"path": "day=2024-09-01/old.parquet", "dataChange": True}}
            )
            + "\n"
        )
    kept = files_in_range(ex.log_dir, "k", 0, 1)
    assert "day=2024-09-01/foreign.parquet" in kept  # null stats: keep
    cp_v = ex.write_checkpoint()
    _s, _p, _m, tomb = _read_checkpoint(
        os.path.join(ex.log_dir, f"{cp_v:020d}.checkpoint.parquet")
    )
    assert "day=2024-09-01/old.parquet" in tomb  # retained, not expired
    assert tomb["day=2024-09-01/old.parquet"]["deletionTimestamp"] > 0


def test_remove_tombstones_carry_extended_file_metadata(spark, tmp_path):
    """VERDICT r14 #6 / PROTOCOL.md "Remove File": this writer's remove
    actions carry extendedFileMetadata=true with partitionValues and
    size (copied from the retired add action) in both the JSON log and
    the checkpoint; a foreign minimal remove rides through minimal,
    its fields never fabricated."""
    import time as _time

    import pyarrow.parquet as pq

    from incremental_dagster_delta_spark.deltalog import _read_checkpoint

    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    adds = {
        ln["add"]["path"]: ln["add"]
        for ln in _log_lines(tmp_path / "t", 0)
        if "add" in ln
    }
    t.compact()  # rewrites every file: the next export emits removes
    assert ex.export() == 1
    removes = [ln["remove"] for ln in _log_lines(tmp_path / "t", 1) if "remove" in ln]
    assert removes
    for r in removes:
        assert r["extendedFileMetadata"] is True
        assert r["size"] == adds[r["path"]]["size"]
        assert r["partitionValues"] == adds[r["path"]]["partitionValues"]

    # a foreign MINIMAL remove (fresh timestamp, no extended fields)
    now_ms = int(_time.time() * 1000)
    v2 = os.path.join(ex.log_dir, f"{2:020d}.json")
    with open(v2, "w") as fh:
        fh.write(
            json.dumps({"commitInfo": {"timestamp": now_ms, "operation": "DELETE"}})
            + "\n"
        )
        fh.write(
            json.dumps(
                {
                    "remove": {
                        "path": "day=2024-01-09/foreign.parquet",
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )

    cp_v = ex.write_checkpoint()
    cp_path = os.path.join(ex.log_dir, f"{cp_v:020d}.checkpoint.parquet")
    # structural pin: the checkpoint's remove struct carries the spec's
    # optional columns
    rm_type = pq.read_schema(cp_path).field("remove").type
    names = {rm_type.field(i).name for i in range(rm_type.num_fields)}
    assert {
        "path",
        "deletionTimestamp",
        "dataChange",
        "extendedFileMetadata",
        "partitionValues",
        "size",
    } <= names
    _s, _p, _m, tombstones = _read_checkpoint(cp_path)
    foreign = tombstones.pop("day=2024-01-09/foreign.parquet")
    assert foreign.get("extendedFileMetadata") is False
    assert "size" not in foreign and "partitionValues" not in foreign
    assert tombstones  # this writer's tombstones propagate extended
    for r in tombstones.values():
        assert r["extendedFileMetadata"] is True
        assert r["size"] == adds[r["path"]]["size"]
        assert r["partitionValues"] == adds[r["path"]]["partitionValues"]


def test_export_degrades_tombstone_for_foreign_add_without_size(spark, tmp_path):
    """r15 review: a foreign add action missing `size` (the spec-gap
    class the exporter already tolerates for stats/timestamps) whose
    file later leaves the live set must yield a MINIMAL remove — not a
    KeyError aborting the export, not extendedFileMetadata=true with a
    null size."""
    import time as _time

    t = _mk(spark, tmp_path / "t")
    ex = DeltaLogExporter(t)
    assert ex.export() == 0
    now_ms = int(_time.time() * 1000)
    v1 = os.path.join(ex.log_dir, f"{1:020d}.json")
    with open(v1, "w") as fh:
        fh.write(
            json.dumps({"commitInfo": {"timestamp": now_ms, "operation": "WRITE"}})
            + "\n"
        )
        fh.write(
            json.dumps(
                {
                    "add": {
                        "path": "day=2024-01-09/foreign.parquet",
                        "partitionValues": {"day": "2024-01-09"},
                        "modificationTime": now_ms,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
        )
    # the ghost file is in the replayed set but not on disk → the next
    # export emits its remove
    v = ex.export()
    assert v == 2
    removes = [ln["remove"] for ln in _log_lines(tmp_path / "t", 2) if "remove" in ln]
    ghost = [r for r in removes if r["path"] == "day=2024-01-09/foreign.parquet"]
    assert len(ghost) == 1
    assert set(ghost[0]) == {"path", "deletionTimestamp", "dataChange"}
