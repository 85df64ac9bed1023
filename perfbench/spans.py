"""Spans and Spark work counters for the traced run (``--trace 1``).

All timing is taken around calls into the engine's public functions; no
engine file is instrumented. The calls the benchmark makes itself
(``get_spark``, the fixture writer, ``run_incremental``/``refresh``, the
query builders and their noop writes) are wrapped where they are called.
The calls the pipeline makes internally (``PartitionedTable.append_batch``
/ ``overwrite_partitions`` / ``compact`` / ``read`` and
``DeltaLogExporter.export``) are wrapped by replacing the class
attributes for the duration of the run.

Each span records the Spark work it launched: the status store's jobs
newer than the newest job at span entry, after the listener bus has
drained. A ``StreamingQueryListener`` collects per-trigger progress (the
``durationMs`` phases), and a ``QueryExecutionListener`` collects Catalyst
phase times of every executed plan.

The untraced run uses ``NULL_TRACER``, whose spans record nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

from metrics import PER_LAYER, WORK_CALLS, WORK_FIELDS


@dataclass
class Span:
    id: int
    layer: str
    call: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    work: dict = field(default_factory=dict)
    overhead: float = 0.0  # the tracer's own status-store reads around the span

    @property
    def name(self) -> str:
        return f"{self.layer}.{self.call}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class _NullTracer:
    enabled = False

    def attach(self, spark) -> None:
        pass

    def detach(self) -> None:
        pass

    @contextlib.contextmanager
    def span(self, layer: str, call: str, op: str | None = None):
        yield None

    @contextlib.contextmanager
    def op(self, name: str):
        yield


NULL_TRACER = _NullTracer()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.progress: list[dict] = []  # StreamingQueryProgress, in arrival order
        self.plans: list[dict] = []  # executed plans' Catalyst phases
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._spark = None
        self._op: str | None = None
        self._undo: list = []

    # -- Spark hooks -------------------------------------------------------

    def attach(self, spark) -> None:
        """Register the listeners on a fresh session."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self._spark = spark
        self._cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        class Plans:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = tracer._cc.asJava(qe.tracker().phases())
                with tracer._lock:
                    tracer.plans.append(
                        {"func": func_name, "ms": {k: phases[k].durationMs() for k in phases}}
                    )

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark.streams.addListener(Progress())
        spark._jsparkSession.listenerManager().register(Plans())

    def detach(self) -> None:
        """Stop counting work; call before the attached session stops."""
        self._spark = None

    def drain(self) -> None:
        """Wait until every posted listener event has been delivered."""
        if self._spark is not None:
            self._bus.waitUntilEmpty()

    def _jobs(self):
        return self._cc.asJava(self._store.jobsList(None))  # newest first

    def _newest_job(self) -> int:
        jobs = self._jobs()
        return jobs[0].jobId() if len(jobs) else -1

    def _work_since(self, newest: int) -> dict:
        work = dict.fromkeys(WORK_FIELDS, 0)
        stage_ids: set[int] = set()
        for job in self._jobs():
            if job.jobId() <= newest:
                break
            work["jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            work["stages"] += 1
            work["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            work["executor_run_s"] += st.executorRunTime() / 1e3
            work["executor_cpu_s"] += st.executorCpuTime() / 1e9
            work["shuffle_write_bytes"] += st.shuffleWriteBytes()
            work["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return work

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, name: str):
        """Tag spans opened without a parent with the operation ``name``."""
        self._op = name
        try:
            yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, layer: str, call: str, op: str | None = None):
        """Time one call. A span belongs to ``op``, else to its parent's
        operation, else to the enclosing :meth:`op`. Work counters are read
        once a session is attached (``get_spark`` spans run before one
        exists)."""
        entered = time.perf_counter()
        counting = self._spark is not None
        if counting:
            self.drain()
            newest = self._newest_job()
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(
                next(self._ids), layer, call, 0.0,
                parent=parent.id if parent else None,
                op=op or (parent.op if parent else self._op),
            )
            self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                self._stack.remove(s)
                self.spans.append(s)
            if counting:
                self.drain()
                s.work = self._work_since(newest)
            s.overhead = (s.start - entered) + (time.perf_counter() - s.end)

    def patch(self, targets: list[tuple[type, str, str]]) -> None:
        """Wrap ``cls.method`` in a span of ``layer`` for each target."""
        for cls, method, layer in targets:
            orig = cls.__dict__[method]

            @functools.wraps(orig)
            def wrapper(*args, _orig=orig, _layer=layer, _call=method, **kwargs):
                with self.span(_layer, _call):
                    return _orig(*args, **kwargs)

            setattr(cls, method, wrapper)
            self._undo.append((cls, method, orig))

    def unpatch(self) -> None:
        for cls, method, orig in reversed(self._undo):
            setattr(cls, method, orig)
        self._undo.clear()

    def take_progress(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out

    def take_plans(self) -> list[dict]:
        with self._lock:
            out, self.plans = self.plans, []
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": [asdict(s) | {"name": s.name} for s in self.spans], **extra},
                fh,
            )


# -- per-layer metrics ------------------------------------------------------

_SOURCE_PHASES = ("latestOffset", "getBatch")
_STREAM_PHASES = ("queryPlanning", "walCommit", "commitOffsets")


def disk_counts(tables_root: str | None) -> dict[str, float]:
    """On-disk state of the tables after the run: data files, commit
    sidecars (markers, leases, intents and other ``_``-prefixed metadata
    outside ``_delta_log``), their bytes, and the exported log."""
    out = dict.fromkeys(
        ("tableio.data_files", "tableio.sidecar_files", "tableio.bytes_written",
         "deltalog.versions", "deltalog.log_bytes"), 0
    )
    if tables_root is None or not os.path.isdir(tables_root):
        return out
    for dirpath, _, names in os.walk(tables_root):
        parts = os.path.relpath(dirpath, tables_root).split(os.sep)
        if parts[0] == "_checkpoints":  # the stream's own checkpoint
            continue
        for name in names:
            if name.endswith(".crc"):  # local-FS checksums
                continue
            size = os.path.getsize(os.path.join(dirpath, name))
            if "_delta_log" in parts:
                out["deltalog.log_bytes"] += size
                out["deltalog.versions"] += name.endswith(".json") and name[:-5].isdigit()
            elif any(p.startswith(("_", ".")) for p in parts) or name.startswith(("_", ".")):
                out["tableio.sidecar_files"] += 1
                out["tableio.bytes_written"] += size
            else:
                out["tableio.data_files"] += 1
                out["tableio.bytes_written"] += size
    return out


def layer_metrics(
    tracer: Tracer, outcome, tables_root: str | None
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Every per-layer metric, summed over the measured operations, and
    the non-zero ones per operation (how each wave or qid run splits)."""
    names = [metric.name for metric in PER_LAYER]
    spans = [s for s in tracer.spans if s.op in outcome.measured_ops]
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    per_op = {op: dict.fromkeys(names, 0) for op in outcome.measured_ops}

    for s in spans:
        m = per_op[s.op]
        # a child's bookkeeping runs inside its parent: tracing overhead,
        # not the parent's own time
        kids = sum(c.duration + c.overhead for c in children.get(s.id, []))
        self_s = s.duration - kids
        if f"{s.name}_s" in m:
            m[f"{s.name}_s"] += s.duration
        if f"{s.name}_calls" in m:
            m[f"{s.name}_calls"] += 1
        for f in WORK_CALLS.get(s.name, ()):
            m[f"{s.name}.{f}"] += s.work.get(f, 0)
        if s.name == "streaming.run_incremental":
            progress = outcome.op_records.get(s.op, [])

            def ms(*phases: str) -> float:
                return sum(p["ms"].get(k, 0) for p in progress for k in phases) / 1e3

            src = ms(*_SOURCE_PHASES)
            start_stop = s.duration - ms("triggerExecution")
            m["sources.latest_offset_s"] += ms("latestOffset")
            m["sources.get_batch_s"] += ms("getBatch")
            m["sources.input_rows"] += sum(p["rows"] for p in progress)
            m["sources.triggers"] += len(progress)
            m["sources.self_s"] += src
            m["streaming.add_batch_s"] += ms("addBatch")
            m["streaming.start_stop_s"] += start_stop
            m["streaming.checkpoint_s"] += ms("walCommit", "commitOffsets")
            m["streaming.query_planning_s"] += ms("queryPlanning")
            m["streaming.unattributed_s"] += (
                s.duration - start_stop - src - ms(*_STREAM_PHASES) - kids
            )
            self_s -= src
        elif s.name == "queries.run":
            m["queries.unattributed_s"] += self_s
            m["queries.catalyst_s"] = sum(
                v for rec in outcome.op_records.get(s.op, []) for v in rec["ms"].values()
            ) / 1e3
        m[f"{s.layer}.self_s"] += self_s

    total = {k: sum(m[k] for m in per_op.values()) for k in names}
    setups = [s.duration for s in tracer.spans if s.name == "session.get_spark"]
    total["session.get_spark_s"] = total["session.self_s"] = statistics.median(setups)
    total["sources.generate_fixture_s"] = sum(
        s.duration for s in tracer.spans if s.name == "sources.generate_ingest_fixture"
    )
    total.update(disk_counts(tables_root))
    bookkeeping = sum(s.overhead for s in spans if s.parent is not None)
    wall = sum(s.duration for s in spans if s.parent is None) - bookkeeping
    unattributed = total["streaming.unattributed_s"] + total["queries.unattributed_s"]
    total["trace.bookkeeping_s"] = bookkeeping
    total["trace.ops"] = len(outcome.measured_ops)
    total["trace.spans"] = len(tracer.spans)
    total["trace.total_s"] = outcome.e2e["total_s"]
    total["trace.coverage_frac"] = 1 - unattributed / wall
    return total, {op: {k: v for k, v in m.items() if v} for op, m in per_op.items()}
