"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout of the repository and writes only under
``.bench_work/`` there. The run sets up five times (reporting the median
as ``setup_s``), measures the workload, checks its outputs, and prints two
lines: a detail record (the workload's own metric names, per-operation
samples, the host-capacity canary and the seed), then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

which carries every end-to-end metric with ``--trace 0`` and every
per-layer metric with ``--trace 1`` (see ``metrics.py``). A traced run also
writes its spans to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import hashlib
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
SETUPS = 5


def capacity_canary() -> dict[str, float]:
    """sha256 GB/s at 1, 2 and 4 threads (bench.py's probe, sized to this
    benchmark's 4 vCPUs): OpenSSL releases the GIL, so the curve shows how
    many cores the host really gives the run."""
    blob = b"\xab" * (8 << 20)

    def hash_n(n: int) -> None:
        for _ in range(n):
            hashlib.sha256(blob).digest()

    out = {}
    for threads in (1, 2, 4):
        with concurrent.futures.ThreadPoolExecutor(threads) as ex:
            t0 = time.perf_counter()
            list(ex.map(hash_n, [4] * threads))
            dt = time.perf_counter() - t0
        out[f"t{threads}"] = round(threads * 4 * len(blob) / dt / 1e9, 3)
    return out


def _isolate_scratch() -> None:
    """Point every temporary and Spark scratch path into ``WORK``; must run
    before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        # every JVM the run starts (the spark-submit launcher and the Spark
        # driver): no /tmp/hsperfdata, temporary files under WORK
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_scratch()
    sys.path.insert(0, ROOT)
    import metrics
    import spans as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    tracer = tracing.Tracer() if args.trace else tracing.NULL_TRACER
    bench = workloads.Bench(WORK, args.seed, args.seconds, tracer)
    wl = workloads.WORKLOADS[args.workload](bench)
    try:
        setups = []
        for _ in range(SETUPS):
            bench.stop_session()
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        if args.trace:
            tracer.patch(workloads.TRACED_CALLS)
        try:
            outcome = wl.run()
        finally:
            if args.trace:
                tracer.unpatch()
        layers = per_op = None
        if args.trace and outcome.e2e:
            tables = getattr(wl, "pipeline", None)
            layers, per_op = tracing.layer_metrics(
                tracer, outcome, tables.tables_root if tables else None
            )
    finally:
        bench.close()

    setup_s = statistics.median(setups)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "canary_sha256_gbps": capacity_canary(),
        "setup_samples_s": setups,
        "named": {"setup_s": setup_s, **outcome.named},
        "ops_failed_frac": outcome.failed / outcome.attempted,
        "samples": outcome.samples,
        "problems": outcome.problems,
    }
    if args.trace:
        detail["per_op"] = per_op
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"detail": detail, "op_records": outcome.op_records},
        )
    print(json.dumps(detail))
    if not outcome.e2e:
        print(f"{args.workload}: no metrics; see problems above", file=sys.stderr)
        return 1
    if args.trace:
        chosen = {m.name: (layers[m.name], m.unit) for m in metrics.PER_LAYER}
    else:
        values = {"setup_s": setup_s, **outcome.e2e}
        chosen = {m.name: (values[m.name], m.unit) for m in metrics.E2E}
    print(
        json.dumps(
            {
                "correct": not outcome.problems,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
