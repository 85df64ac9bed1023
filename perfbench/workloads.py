"""The three workloads, their output checks, and the session they share.

Every workload runs on ``local[4]`` in this process, as one closed-loop
client: it issues the next operation only after the previous one returned.
Work per run is sized from ``--seconds`` with a fixed nominal cost per
operation, so a run does the same work on every commit. The nominal costs
sit below the measured ones (a trickle wave takes about 7 s, an analytic
pass about 5 s on a 4-vCPU host), so a run measures more than
``--seconds``: more operations make its medians steadier.

- ``ingest_trickle``: small waves of files through
  ``IngestPipeline(export_delta_log=True).run_incremental()``; per-batch
  fixed costs dominate (stream start/stop, checkpoint WAL, the listing
  anti-join, the table commit protocol, the ``_delta_log`` export).
- ``ingest_bulk``: a large backlog backfilled through
  ``run_incremental(max_files_per_trigger=...)`` in bounded triggers, then
  ``refresh(day)`` for every day, then ``processed.compact()``; the
  overwrite and compaction paths run, which trickle never uses. No
  ``_delta_log`` is exported. Not listed in ``BENCHMARK.json``: its cold
  backfill makes a run last about a minute, too long to repeat beside the
  other two within the benchmark's time budget, so it is run by hand.
- ``analytic_headline``: headline qids on the fixed sf0.01 tables of
  ``TESTDATA.md`` (copies of the eight these qids read are kept in
  ``perfbench/data/``, since a run reads only inside its checkout), timed
  on a noop sink after a warm-up pass that checks each result against its
  DuckDB oracle and two untimed noop passes. The seed picks the qid order
  of each timed pass. No table IO, log export or streaming code runs.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from statistics import median

from metrics import geomean, tail

from incremental_dagster_delta_spark import deltalog, oracle
from incremental_dagster_delta_spark.deltalog import DeltaLogExporter
from incremental_dagster_delta_spark.session import get_spark
from incremental_dagster_delta_spark.sources.corpus import DAYS
from incremental_dagster_delta_spark.sources.fixture import generate_ingest_fixture
from incremental_dagster_delta_spark.streaming.pipeline import IngestPipeline
from incremental_dagster_delta_spark.tableio import PartitionedTable

CPUS = 4
DRIVER_MEMORY = "2g"
OP_TIMEOUT_S = 120

TRICKLE_FILES_PER_DAY = 8  # one wave = 3 days x 8 files
TRICKLE_NOMINAL_WAVE_S = 4.0
BULK_FILES_PER_DAY_PER_S = 7  # --seconds 15 -> 315 backlog files
BULK_TRIGGERS = 2
ANALYTIC_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
ANALYTIC_NOMINAL_PASS_S = 4.0
# Untimed noop passes after the oracle-checked one: per-qid times still
# fall over the first three passes as the JVM compiles the hot code.
ANALYTIC_WARM_PASSES = 2
# Six of bench.py's 36 headline qids, one per query family (aggregate,
# join, window, event time, dedup, sketch), whose warm pass takes about five
# seconds on 4 vCPUs; all 36 take about a minute warm at this size, more
# than one run's budget. q_cms_heavy_hitters runs eager driver jobs
# inside fn(), so queries.build_s sees Spark work too.
ANALYTIC_QIDS = [
    "q_pricing_summary",
    "q_region_revenue",
    "q_window_running",
    "q_tumbling_window",
    "q_dedup_exact",
    "q_cms_heavy_hitters",
]

TRACED_CALLS = [
    (PartitionedTable, "append_batch", "tableio"),
    (PartitionedTable, "overwrite_partitions", "tableio"),
    (PartitionedTable, "compact", "tableio"),
    (PartitionedTable, "read", "tableio"),
    (DeltaLogExporter, "export", "deltalog"),
]


@dataclass
class Outcome:
    """What one measured run produced. ``e2e`` holds the contract metrics,
    ``named`` the same numbers under the workload's own names."""

    e2e: dict[str, float]
    named: dict[str, float]
    attempted: int
    failed: int
    problems: list[str]
    samples: dict[str, list[float]] = field(default_factory=dict)
    # per measured operation: streaming progress or Catalyst phase records
    op_records: dict[str, list[dict]] = field(default_factory=dict)
    measured_ops: list[str] = field(default_factory=list)


def _report_error(what: str) -> str:
    traceback.print_exc(file=sys.stderr)
    return f"{what}: {sys.exc_info()[1]!r}"[:300]


class Bench:
    """The run's working directory, seed, size, tracer and Spark session."""

    def __init__(self, work: str, seed: int, seconds: int, tracer) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def stop_session(self) -> None:
        """Stop the current session, if any; the JVM stays up."""
        if self.spark is not None:
            self.tracer.detach()
            self.spark.stop()
            self.spark = None

    def session(self):
        """Start a session (the first one boots the JVM)."""
        with self.tracer.span("session", "get_spark", op="setup"):
            self.spark = get_spark(
                app_name="perfbench", cpus=CPUS, driver_memory=DRIVER_MEMORY,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM behind it, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -- ingest ---------------------------------------------------------------


def _files_on_disk(ingest_root: str) -> dict[tuple[str, str], str]:
    """{(filename, YYYY-MM-DD): word} for every input file."""
    out = {}
    for day_dir in sorted(os.listdir(ingest_root)):
        day = day_dir.split("=", 1)[1]
        for name in os.listdir(os.path.join(ingest_root, day_dir)):
            with open(os.path.join(ingest_root, day_dir, name)) as fh:
                out[(name, day)] = fh.read().strip()
    return out


def check_pipeline(pipeline: IngestPipeline) -> list[str]:
    """processed holds exactly one row per input file with that file's word;
    backwards is processed with each word reversed; listing names exactly
    the files on disk."""
    files = _files_on_disk(pipeline.ingest_root)
    problems = []
    rows = pipeline.processed.read().select("filename", "year", "month", "day", "word").collect()
    keyed = {(r.filename, f"{r.year}-{r.month}-{r.day}"): r.word for r in rows}
    if len(rows) != len(keyed):
        problems.append(f"processed: {len(rows) - len(keyed)} duplicate (filename, day) rows")
    if keyed != files:
        problems.append(
            f"processed: {len(keyed)} rows vs {len(files)} files, "
            f"{sum(keyed.get(k) != w for k, w in files.items())} missing or wrong"
        )
    back = pipeline.backwards.read().select("filename", "year", "month", "day", "word").collect()
    back_keyed = {(r.filename, f"{r.year}-{r.month}-{r.day}"): r.word for r in back}
    if len(back) != len(rows) or back_keyed != {k: w[::-1] for k, w in keyed.items()}:
        problems.append("backwards: not processed with each word reversed")
    listing = {(r.filename, r.day) for r in pipeline.listing.read().collect()}
    if listing != set(files):
        problems.append(f"listing: {len(listing)} entries vs {len(files)} files on disk")
    return problems


def check_delta_logs(pipeline: IngestPipeline) -> list[str]:
    """Replaying each exported ``_delta_log`` yields exactly the data files
    a read of the table scans."""
    problems = []
    for table in (pipeline.processed, pipeline.backwards, pipeline.listing):
        replayed = set(deltalog.replay_file_set(os.path.join(table.path, "_delta_log")))
        scanned = {
            os.path.relpath(f.split(":", 1)[1], table.path)
            for f in table.read().inputFiles()
        }
        if replayed != scanned:
            problems.append(
                f"{os.path.basename(os.path.dirname(table.path))}: log replays "
                f"{len(replayed)} files, the table reads {len(scanned)}"
            )
    return problems


def processed_hash(pipeline: IngestPipeline) -> str:
    return oracle.pandas_hash(pipeline.processed.read().toPandas())


def _progress_records(bench: Bench) -> list[dict]:
    if not bench.tracer.enabled:
        return []
    bench.tracer.drain()
    return bench.tracer.take_progress()


class IngestTrickle:
    name = "ingest_trickle"

    def __init__(self, bench: Bench) -> None:
        self.bench = bench

    def setup(self) -> None:
        b = self.bench
        root = b.fresh_dir(self.name)
        spark = b.session()
        self.ingest = os.path.join(root, "ingest")
        with b.tracer.span("sources", "generate_ingest_fixture", op="setup"):
            generate_ingest_fixture(
                self.ingest, files_per_day_per_wave=TRICKLE_FILES_PER_DAY, wave=0, seed=b.seed
            )
        self.pipeline = IngestPipeline(
            spark, self.ingest, os.path.join(root, "tables"), export_delta_log=True
        )

    def run(self) -> Outcome:
        b, tracer = self.bench, self.bench.tracer
        with tracer.op("warmup"):
            self.pipeline.run_incremental(timeout_sec=OP_TIMEOUT_S)  # the initial backlog
        _progress_records(b)
        waves = max(2, round(b.seconds / TRICKLE_NOMINAL_WAVE_S))
        latencies, problems, records, ops = [], [], {}, []
        files = 0
        for w in range(1, waves + 1):
            op = f"wave-{w}"
            with tracer.span("sources", "generate_ingest_fixture", op=f"write-{w}"):
                written = generate_ingest_fixture(
                    self.ingest, files_per_day_per_wave=TRICKLE_FILES_PER_DAY,
                    wave=w, seed=b.seed,
                )
            try:
                with tracer.span("streaming", "run_incremental", op=op):
                    t0 = time.perf_counter()
                    self.pipeline.run_incremental(timeout_sec=OP_TIMEOUT_S)
                    latencies.append(time.perf_counter() - t0)
                files += len(written)
                ops.append(op)
            except Exception:
                problems.append(_report_error(op))
            records[op] = _progress_records(b)
        failed = len(problems)
        try:
            checks = check_pipeline(self.pipeline) + check_delta_logs(self.pipeline)
        except Exception:
            checks = [_report_error("check")]
        if checks:  # a wrong end state condemns every wave that built it
            problems += checks
            failed = waves
        if not latencies:
            return Outcome({}, {}, waves, waves, problems)
        total = sum(latencies)
        p50, tl, rate = median(latencies), tail(latencies), files / total
        return Outcome(
            e2e={"latency_p50_s": p50, "latency_tail_s": tl, "total_s": total},
            named={
                "commit_latency_p50_s": p50,
                "commit_latency_tail_s": tl,
                "trickle_files_per_s": rate,
            },
            attempted=waves,
            failed=failed,
            problems=problems,
            samples={"commit_latency_s": latencies},
            op_records=records,
            measured_ops=ops,
        )


class IngestBulk:
    name = "ingest_bulk"

    def __init__(self, bench: Bench) -> None:
        self.bench = bench

    def setup(self) -> None:
        b = self.bench
        root = b.fresh_dir(self.name)
        spark = b.session()
        self.ingest = os.path.join(root, "ingest")
        per_day = max(4, BULK_FILES_PER_DAY_PER_S * b.seconds)
        with b.tracer.span("sources", "generate_ingest_fixture", op="setup"):
            self.files = len(generate_ingest_fixture(
                self.ingest, files_per_day_per_wave=per_day, wave=0, seed=b.seed
            ))
        self.pipeline = IngestPipeline(spark, self.ingest, os.path.join(root, "tables"))

    def _timed(self, op: str, call, span: tuple[str, str] | None = None) -> float:
        """Run ``call`` as operation ``op``, inside a span when given one;
        its wall time in seconds."""
        tracer = self.bench.tracer
        with tracer.op(op), tracer.span(*span, op=op) if span else contextlib.nullcontext():
            t0 = time.perf_counter()
            call()
            return time.perf_counter() - t0

    def run(self) -> Outcome:
        b, p = self.bench, self.pipeline
        problems, records, ops = [], {}, []
        attempted = 2 + len(DAYS)
        refresh: list[float] = []
        before = after = None
        try:
            backfill = self._timed(
                "backfill",
                lambda: p.run_incremental(
                    timeout_sec=OP_TIMEOUT_S,
                    max_files_per_trigger=-(-self.files // BULK_TRIGGERS),
                ),
                ("streaming", "run_incremental"),
            )
            ops.append("backfill")
            records["backfill"] = _progress_records(b)
            before = processed_hash(p)
            for day in DAYS:
                op = f"refresh-{day}"
                refresh.append(
                    self._timed(op, lambda d=day: p.refresh(d), ("streaming", "refresh"))
                )
                ops.append(op)
            compact = self._timed("compact", p.processed.compact)
            ops.append("compact")
            after = processed_hash(p)
        except Exception:
            problems.append(_report_error(f"op {len(ops) + 1}"))
        failed = attempted - len(ops)
        try:
            checks = check_pipeline(p)
        except Exception:
            checks = [_report_error("check")]
        if after is not None and after != before:
            checks.append("refresh or compact changed the content of processed")
        if checks:
            problems += checks
            failed = attempted
        if len(ops) < attempted:
            return Outcome({}, {}, attempted, failed, problems)
        rate = self.files / backfill
        return Outcome(
            e2e={
                "latency_p50_s": median(refresh),
                "latency_tail_s": tail(refresh),
                "total_s": backfill + sum(refresh) + compact,
            },
            named={
                "backfill_files_per_s": rate,
                "refresh_day_s": median(refresh),
                "compact_s": compact,
            },
            attempted=attempted,
            failed=failed,
            problems=problems,
            samples={"refresh_day_s": refresh, "backfill_s": [backfill], "compact_s": [compact]},
            op_records=records,
            measured_ops=ops,
        )


# -- analytic -------------------------------------------------------------


class AnalyticHeadline:
    name = "analytic_headline"

    def __init__(self, bench: Bench) -> None:
        self.bench = bench

    def setup(self) -> None:
        self.bench.session()
        self.data = ANALYTIC_DATA

    def run(self) -> Outcome:
        from incremental_dagster_delta_spark.queries import QUERIES

        b, spark, tracer = self.bench, self.bench.spark, self.bench.tracer
        problems, bad = [], set()
        con = oracle.duckdb_con(self.data)
        try:
            for qid in ANALYTIC_QIDS:  # warm-up pass, checked against the oracle
                try:
                    res = oracle.compare_query(spark, con, qid, QUERIES[qid], self.data)
                    if not res.ok:
                        bad.add(qid)
                        problems.append(f"{qid}: differs from its oracle {res.detail}")
                except Exception:
                    bad.add(qid)
                    problems.append(_report_error(qid))
                spark.catalog.clearCache()
        finally:
            con.close()
        for _ in range(ANALYTIC_WARM_PASSES):  # more warm-up, on the measured sink
            for qid in [q for q in ANALYTIC_QIDS if q not in bad]:
                try:
                    self._noop(qid)
                except Exception:
                    bad.add(qid)
                    problems.append(_report_error(f"{qid} warm-up"))
        if tracer.enabled:
            tracer.drain()
            tracer.take_plans()
        reps = max(1, round(b.seconds / ANALYTIC_NOMINAL_PASS_S))
        times: dict[str, list[float]] = {q: [] for q in ANALYTIC_QIDS}
        records, ops = {}, []
        order = random.Random(b.seed)  # the seed picks each pass's qid order
        for rep in range(reps):
            for qid in order.sample(ANALYTIC_QIDS, len(ANALYTIC_QIDS)):
                op = f"{qid}#{rep}"
                try:
                    with tracer.span("queries", "run", op=op):
                        t0 = time.perf_counter()
                        df = self._noop(qid)
                        times[qid].append(time.perf_counter() - t0)
                    ops.append(op)
                    if tracer.enabled:
                        records[op] = _catalyst_records(tracer, df)
                except Exception:
                    bad.add(qid)
                    problems.append(_report_error(op))
        attempted = reps * len(ANALYTIC_QIDS)
        failed = reps * len(bad)
        if bad:
            return Outcome({}, {}, attempted, failed, problems)
        per_qid = [median(v) for v in times.values()]
        total, gm = sum(per_qid), geomean(per_qid)
        return Outcome(
            e2e={"latency_p50_s": gm, "latency_tail_s": tail(per_qid), "total_s": total},
            named={"headline_total_s": total, "headline_geomean_s": gm},
            attempted=attempted,
            failed=failed,
            problems=problems,
            samples={f"{q}_s": v for q, v in times.items()},
            op_records=records,
            measured_ops=ops,
        )

    def _noop(self, qid: str):
        """Build ``qid`` and write it to the noop sink; the built DataFrame."""
        from incremental_dagster_delta_spark.queries import QUERIES

        spark, tracer = self.bench.spark, self.bench.tracer
        with tracer.span("queries", "build"):
            df = QUERIES[qid].fn(spark, self.data)
        with tracer.span("queries", "execute"):
            df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        return df


def _catalyst_records(tracer, df) -> list[dict]:
    """Catalyst phases of the plans a qid executed (the listener sees each
    action's plan) plus the analysis of the returned DataFrame, which ran
    when it was built."""
    cc = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    phases = cc.asJava(df._jdf.queryExecution().tracker().phases())
    own = {"func": "build", "ms": {k: phases[k].durationMs() for k in phases}}
    return tracer.take_plans() + [own]


WORKLOADS = {w.name: w for w in (IngestTrickle, IngestBulk, AnalyticHeadline)}
