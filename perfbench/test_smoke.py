"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload at minimal size (``--seconds 1``), untraced and
traced, and checks that the result line carries every metric the root
``BENCHMARK.json`` names, with its unit. Six benchmark processes; about
four minutes on 4 vCPUs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import E2E, PER_LAYER  # noqa: E402

WORKLOADS = ["ingest_trickle", "ingest_bulk", "analytic_headline"]
# ingest_bulk is run by hand and not listed in BENCHMARK.json (workloads.py)
LISTED = ["ingest_trickle", "analytic_headline"]


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_benchmark_json_lists_the_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == LISTED
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        (m.name, m.unit, m.better, m.bound) for m in E2E
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (m.name, m.unit, m.better) for m in PER_LAYER
    ]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m.name: m.unit for m in (PER_LAYER if trace else E2E)}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    tableio = [v for k, v in values.items() if k.startswith("tableio.")]
    deltalog = [v for k, v in values.items() if k.startswith("deltalog.")]
    if workload == "ingest_trickle":
        for k in ("tableio.append_batch_s", "tableio.read_s", "deltalog.export_s",
                  "streaming.start_stop_s", "sources.triggers"):
            assert values[k] > 0, k
    elif workload == "ingest_bulk":
        assert not any(deltalog), values
        for k in ("tableio.overwrite_partitions_s", "tableio.compact_s", "streaming.refresh_s"):
            assert values[k] > 0, k
    else:
        assert not any(tableio) and not any(deltalog), values
        for k in ("queries.build_s", "queries.execute_s", "queries.catalyst_s"):
            assert values[k] > 0, k


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "ingest_trickle", 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
