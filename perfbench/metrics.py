"""The benchmark's metrics: names, units, direction, and what each moves.

``E2E`` lists the end-to-end metrics every untraced run prints and
``PER_LAYER`` the per-layer metrics every traced run prints; the root
``BENCHMARK.json`` mirrors both lists (``test_smoke.py`` keeps them in
step). Every workload prints every metric, so an end-to-end metric has one
meaning per workload, given in ``E2E_MEANING``; the names the ingest and
analytic reports use for those meanings are printed beside the contract
line (see ``run.py``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None
    moves: str = ""


# Every bound is the contract's largest, 0.25: on a shared 4-vCPU host the
# run-to-run spread (first-to-third quartile over median, two sets of ten
# seeds) was 0.07-0.19 on ingest_trickle and 0.07-0.23 on
# analytic_headline, rising with the host load the capacity canary shows.
E2E = [
    Metric("setup_s", "s", "lower", 0.25),
    Metric("latency_p50_s", "s", "lower", 0.25),
    Metric("latency_tail_s", "s", "lower", 0.25),
    Metric("total_s", "s", "lower", 0.25),
]

E2E_MEANING = {
    "setup_s": {
        "*": "median of five set-ups: get_spark (the first boots the JVM), then "
        "on the ingest workloads writing the seeded input files and constructing the pipeline",
    },
    "latency_p50_s": {
        "ingest_trickle": "commit_latency_p50_s: last file of a wave written -> run_incremental returns",
        "ingest_bulk": "refresh_day_s: median refresh(day) over the days",
        "analytic_headline": "headline_geomean_s: geometric mean over qids of the per-qid median time",
    },
    "latency_tail_s": {
        "*": "highest percentile with at least 10 samples beyond it; the maximum "
        "when there are 10 samples or fewer",
        "ingest_trickle": "commit_latency_tail_s over the waves",
        "ingest_bulk": "over the refresh(day) calls",
        "analytic_headline": "over the per-qid medians",
    },
    "total_s": {
        "ingest_trickle": "summed commit latency of the waves",
        "ingest_bulk": "backfill + every refresh(day) + compact_s",
        "analytic_headline": "headline_total_s: sum of per-qid medians (bench.py's definition)",
    },
}

_T = "commit latency on ingest_trickle"
_B = "backfill_files_per_s on ingest_bulk"
_A = "headline_total_s and headline_geomean_s on analytic_headline"
_ALL = "setup_s on every workload"

PER_LAYER = [
    Metric("session.get_spark_s", "s", "lower", moves=_ALL),
    Metric("sources.generate_fixture_s", "s", "lower", moves="setup_s on both ingest workloads (benchmark-side input writes)"),
    Metric("sources.latest_offset_s", "s", "lower", moves=f"{_T}; {_B}"),
    Metric("sources.get_batch_s", "s", "lower", moves=f"{_T}; {_B}"),
    Metric("sources.input_rows", "count", "higher", moves="none: the input size, for normalising"),
    Metric("sources.triggers", "count", "lower", moves=f"{_T}; {_B}"),
    Metric("streaming.run_incremental_s", "s", "lower", moves=f"{_T}; {_B}"),
    Metric("streaming.add_batch_s", "s", "lower", moves=f"{_T}; {_B}"),
    Metric("streaming.start_stop_s", "s", "lower", moves=_T),
    Metric("streaming.checkpoint_s", "s", "lower", moves=_T),
    Metric("streaming.query_planning_s", "s", "lower", moves=_T),
    Metric("streaming.refresh_s", "s", "lower", moves="refresh_day_s on ingest_bulk"),
    Metric("streaming.unattributed_s", "s", "lower", moves=f"{_T} (trace completeness)"),
    Metric("tableio.append_batch_s", "s", "lower", moves=f"{_T}; {_B}"),
    Metric("tableio.append_batch_calls", "count", "lower", moves=f"{_T}; {_B}"),
    Metric("tableio.read_s", "s", "lower", moves=f"{_T}; {_B}"),
    Metric("tableio.read_calls", "count", "lower", moves=f"{_T}; {_B}"),
    Metric("tableio.overwrite_partitions_s", "s", "lower", moves="refresh_day_s on ingest_bulk"),
    Metric("tableio.compact_s", "s", "lower", moves="compact_s on ingest_bulk"),
    Metric("tableio.data_files", "count", "lower", moves=f"{_T} (small-file growth)"),
    Metric("tableio.sidecar_files", "count", "lower", moves=f"{_T} (commit-metadata growth)"),
    Metric("tableio.bytes_written", "bytes", "lower", moves=f"{_T}; {_B}"),
    Metric("deltalog.export_s", "s", "lower", moves=f"{_T}; zero on ingest_bulk"),
    Metric("deltalog.export_calls", "count", "lower", moves=f"{_T}; zero on ingest_bulk"),
    Metric("deltalog.versions", "count", "lower", moves=f"{_T}; zero on ingest_bulk"),
    Metric("deltalog.log_bytes", "bytes", "lower", moves=f"{_T}; zero on ingest_bulk"),
    Metric("queries.build_s", "s", "lower", moves=_A),
    Metric("queries.execute_s", "s", "lower", moves=_A),
    Metric("queries.catalyst_s", "s", "lower", moves=_A),
    Metric("queries.unattributed_s", "s", "lower", moves=f"{_A} (trace completeness)"),
]
LAYERS = ["session", "sources", "streaming", "tableio", "deltalog", "queries"]
PER_LAYER += [
    Metric(f"{layer}.self_s", "s", "lower", moves=f"self time of the {layer} layer")
    for layer in LAYERS
]

# Spark work per traced call, read from the status store before and after.
WORK_FIELDS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}
_WORK_CALLS = {
    "streaming.run_incremental": (list(WORK_FIELDS), f"{_T}; {_B}"),
    "streaming.refresh": (list(WORK_FIELDS), "refresh_day_s on ingest_bulk"),
    "tableio.append_batch": (list(WORK_FIELDS), f"{_T}; {_B}"),
    "tableio.overwrite_partitions": (list(WORK_FIELDS), "refresh_day_s on ingest_bulk"),
    "tableio.compact": (list(WORK_FIELDS), "compact_s on ingest_bulk"),
    "queries.execute": (list(WORK_FIELDS), _A),
    "tableio.read": (["jobs", "stages", "tasks", "executor_run_s"], f"{_T}; {_B}"),
    "deltalog.export": (["jobs", "stages", "tasks", "executor_run_s"], _T),
    "queries.build": (["jobs", "stages", "tasks", "executor_run_s"], _A),
}
PER_LAYER += [
    Metric(f"{call}.{field}", WORK_FIELDS[field], "lower", moves=moves)
    for call, (fields, moves) in _WORK_CALLS.items()
    for field in fields
]
PER_LAYER += [
    Metric("trace.ops", "count", "higher", moves="none: measured operations in the traced run"),
    Metric("trace.spans", "count", "lower", moves="none: spans recorded"),
    Metric("trace.total_s", "s", "lower", moves="total_s under tracing; its ratio to the untraced total_s is the tracing overhead"),
    Metric("trace.bookkeeping_s", "s", "lower", moves="the tracer's own status-store reads inside the measured operations"),
    Metric("trace.coverage_frac", "frac", "higher", moves="share of measured wall time the named layers account for (target >= 0.9)"),
]
WORK_CALLS = {call: fields for call, (fields, _) in _WORK_CALLS.items()}


def tail(values: list[float]) -> float:
    """The highest percentile that still has at least ten samples above
    it: the (n-10)-th smallest value. With ten samples or fewer no such
    percentile exists and the maximum is reported."""
    ordered = sorted(values)
    return ordered[-11] if len(ordered) > 10 else ordered[-1]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
