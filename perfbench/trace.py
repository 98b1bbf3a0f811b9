"""Spans and counters for the traced run.

Every op is a root span with children ``build`` (the registry ``fn()`` or
``report.report(...)`` call) and ``exec`` (the noop write).  Calls into
``io`` and ``sources.bucketed`` made during the build are spans under
``build``.  Spans timed by the JVM are attached afterwards, by their time
stamps, under the innermost span they started in:

- ``catalyst.analysis``, ``catalyst.optimization`` and ``catalyst.planning``
  of every query execution the op ran, read from its
  ``QueryPlanningTracker`` by a ``QueryExecutionListener``.  The noop write
  plans its own command, so its optimization and planning land under
  ``exec``; the built DataFrame's analysis, done while building, lands
  under ``build``.  Nothing is planned only for the trace.
- ``stream.batch``: the micro-batches an ``st*`` row drains inside its
  ``fn()``, from a ``StreamingQueryListener``.

Spark job, stage and task figures are read per op from the status store by
job group.  All of it is installed from outside the program: counting
wrappers replace the public layer functions only while a traced pass runs.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from perfbench.stats import self_time

PKG = "google_analytics_dataframes_spark"

#: Bucketed-index entry points; a call that writes a catalog table is a
#: build, any other call is a hit.
BUCKETED_FNS = ("gram_index_table", "mask_index_tables", "ivf_index_tables",
                "dedup_cross_stats", "simjoin_token_stats")

#: Per-layer metrics, with the end-to-end metric and workload each should
#: move.  ``run.py`` prints them with ``--trace 1``.
LAYER_METRICS = {
    "session.get_spark_ms": ("ms", "setup_s on all workloads"),
    "registry.import_ms": ("ms", "setup_s on all workloads"),
    "op.self_ms": ("ms", "op_p50_ms on ga_reports (glue between layers)"),
    "build.ms": ("ms", "op_p50_ms on ga_reports"),
    "build.jobs": ("count", "op_p50_ms on ga_reports"),
    "io.load_table.calls": ("count", "op_p50_ms on ga_reports"),
    "io.load_table.ms": ("ms", "op_p50_ms on ga_reports; pass_s on dedup_stream"),
    "io.staged_dir.builds": ("count", "pass_s on dedup_stream"),
    "io.staged_dir.ms": ("ms", "pass_s on dedup_stream"),
    "catalyst.ms": ("ms", "op_p50_ms on ga_reports; pass_s on dedup_stream"),
    "catalyst.analysis_ms": ("ms", "op_p50_ms on ga_reports"),
    "catalyst.optimization_ms": ("ms", "op_p50_ms on ga_reports"),
    "catalyst.planning_ms": ("ms", "op_p50_ms on ga_reports"),
    "exec.ms": ("ms", "pass_s and items_per_s on dedup_stream; op_p50_ms on ga_reports"),
    "exec.jobs": ("count", "op_p50_ms on ga_reports"),
    "exec.stages": ("count", "op_p50_ms on ga_reports"),
    "exec.tasks": ("count", "pass_s on dedup_stream"),
    "exec.failed_tasks": ("count", "pass_s on all workloads"),
    "exec.executor_run_ms": ("ms", "pass_s and items_per_s on dedup_stream"),
    "exec.gc_ms": ("ms", "pass_s on ga_reports"),
    "exec.shuffle_read_bytes": ("bytes", "pass_s on dedup_stream"),
    "exec.shuffle_write_bytes": ("bytes", "pass_s on dedup_stream"),
    "exec.input_bytes": ("bytes", "pass_s on dedup_stream"),
    "exec.core_busy_ratio": ("ratio", "items_per_s on dedup_stream"),
    "bucketed.builds": ("count", "pass_s on dedup_stream; none on ga_reports"),
    "bucketed.build_ms": ("ms", "pass_s on dedup_stream; none on ga_reports"),
    "bucketed.hits": ("count", "pass_s on dedup_stream; none on ga_reports"),
    "stream.batches": ("count", "pass_s and items_per_s on dedup_stream"),
    "stream.batch_ms": ("ms", "pass_s and items_per_s on dedup_stream"),
    "stream.query_planning_ms": ("ms", "pass_s on dedup_stream"),
    "stream.add_batch_ms": ("ms", "pass_s on dedup_stream"),
    "stream.wal_commit_ms": ("ms", "pass_s on dedup_stream"),
    "stream.state_commit_ms": ("ms", "pass_s on dedup_stream"),
    "stream.state_rows": ("count", "retained_heap_mb on dedup_stream"),
    "stream.state_memory_bytes": ("bytes", "retained_heap_mb on dedup_stream"),
    "stream.input_rows": ("count", "items_per_s on dedup_stream"),
    "trace.overhead_ms": ("ms", "none: traced pass minus the untraced pass after it"),
    "trace.unaccounted_pct": ("%", "none: worst op's gap between its spans and its latency"),
}

#: Largest allowed gap, per op, between the sum of the self times of its
#: span tree and its latency as the runner measures it, as a share of that
#: latency.  A larger gap fails the run.
SELF_TIME_TOLERANCE_PCT = 1.0

CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    detail: str = ""  # op tag, or the layer function called

    def self_s(self) -> float:
        return self_time(self.start, self.end, [(c.start, c.end) for c in self.children])

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """Collects spans and counts of the traced passes of one run.  Spans
    are timed with ``time.perf_counter``, the clock the runner times ops
    with; JVM time stamps (Unix milliseconds) are converted to it."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.counts: Counter = Counter()
        self.ops: list[Span] = []
        #: (op tag, latency as the runner measured it, span tree total), s
        self.accounting: list[tuple[str, float, float]] = []
        self._stack: list[Span] = []
        self._groups: list[tuple[str, str]] = []  # (job group, layer)
        self._seq = 0
        self._built: list[object] = []  # DataFrames built by the ops
        self._jvm_spans: list[Span] = []
        self._phases_seen: set[tuple[int, str, int]] = set()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._listeners: tuple = ()
        self._unix_offset = time.time() - time.perf_counter()

    def _from_unix(self, seconds: float) -> float:
        return seconds - self._unix_offset

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, detail: str = ""):
        s = Span(name, time.perf_counter(), detail=detail)
        if self._stack:
            self._stack[-1].children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if not self._stack:
                self.ops.append(s)

    def job_group(self, op_tag: str, layer: str) -> None:
        group = f"perfbench:{self._seq}:{op_tag}:{layer}"
        self.sc.setJobGroup(group, group)
        self._groups.append((group, layer))

    def run_op(self, op_tag: str, build, sink) -> object:
        """Run one op (``build()`` then ``sink(df)``) under root span
        ``op``; returns the built DataFrame."""
        self._seq += 1
        with self.span("op", op_tag):
            self.job_group(op_tag, "build")
            with self.span("build"):
                df = build()
            self.job_group(op_tag, "exec")
            with self.span("exec"):
                sink(df)
            self.sc.setJobGroup("perfbench:idle", "perfbench:idle")
        self._built.append(df)
        return df

    def _attach(self, ev: Span) -> None:
        """Put a JVM-timed span under the innermost span it started in,
        clipped to it; spans outside every op, and empty ones (phases
        under a millisecond), are dropped."""
        if ev.end <= ev.start:
            return
        parent, level = None, self.ops
        while True:
            inner = next((s for s in level if s.start <= ev.start < s.end), None)
            if inner is None:
                break
            parent, level = inner, inner.children
        if parent is not None:
            ev.end = min(ev.end, parent.end)
            parent.children.append(ev)

    def _record_phases(self, qe) -> None:
        """Catalyst phase spans of one query execution, once each."""
        qe_id = qe.hashCode()
        phases = qe.tracker().phases()
        for name in CATALYST_PHASES:
            if not phases.contains(name):
                continue
            p = phases.apply(name)
            key = (qe_id, name, p.startTimeMs())
            with self._lock:
                if key in self._phases_seen:
                    continue
                self._phases_seen.add(key)
            span = Span(f"catalyst.{name}", self._from_unix(p.startTimeMs() / 1000.0),
                        self._from_unix(p.endTimeMs() / 1000.0))
            with self._lock:
                self._jvm_spans.append(span)

    # -- layer wrappers --------------------------------------------------
    def _timed_wrapper(self, fn, layer: str, on_call=None):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(layer, fn.__name__) as s:
                writes0 = tracer.counts["_catalog_writes"]
                if on_call is not None:
                    args, kwargs = on_call(args, kwargs)
                out = fn(*args, **kwargs)
            tracer.counts[f"{layer}.calls"] += 1
            if layer == "bucketed":
                built = tracer.counts["_catalog_writes"] > writes0
                tracer.counts["bucketed.builds" if built else "bucketed.hits"] += 1
                if built:
                    tracer.counts["bucketed.build_ms"] += (s.end - s.start) * 1000.0
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _count_staged_builds(self, args, kwargs):
        def counted(build_fn):
            def inner(path):
                self.counts["io.staged_dir.builds"] += 1
                return build_fn(path)
            return inner

        if "build_fn" in kwargs:
            kwargs = dict(kwargs, build_fn=counted(kwargs["build_fn"]))
        else:
            args = (*args[:3], counted(args[3]), *args[4:])
        return args, kwargs

    def _replace_everywhere(self, original, replacement) -> None:
        """Point every module of the package that holds ``original`` (the
        defining module and every ``from ... import`` of it) at
        ``replacement``."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._saved.append((mod, attr, original))
                    setattr(mod, attr, replacement)

    def install(self) -> None:
        import google_analytics_dataframes_spark.io as io_mod
        import google_analytics_dataframes_spark.sources.bucketed as bucketed
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming import StreamingQueryListener

        self._replace_everywhere(io_mod.load_table,
                                 self._timed_wrapper(io_mod.load_table, "io.load_table"))
        self._replace_everywhere(io_mod.staged_dir,
                                 self._timed_wrapper(io_mod.staged_dir, "io.staged_dir",
                                                     self._count_staged_builds))
        for fn_name in BUCKETED_FNS:
            original = getattr(bucketed, fn_name)
            self._replace_everywhere(original, self._timed_wrapper(original, "bucketed"))

        save_as_table = DataFrameWriter.saveAsTable
        tracer = self

        def counting_save_as_table(writer, *args, **kwargs):
            tracer.counts["_catalog_writes"] += 1
            return save_as_table(writer, *args, **kwargs)

        DataFrameWriter.saveAsTable = counting_save_as_table
        self._saved.append((DataFrameWriter, "saveAsTable", save_as_table))

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer._stream_progress(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        class PlanPhases:
            """A ``QueryExecutionListener``, called back from the JVM when
            a query execution has run."""

            def onSuccess(self, func_name, qe, duration_ns):
                tracer._record_phases(qe)

            def onFailure(self, func_name, qe, exception):
                tracer._record_phases(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        ensure_callback_server_started(self.sc._gateway)
        progress, phases = Progress(), PlanPhases()
        self.spark.streams.addListener(progress)
        self.spark._jsparkSession.listenerManager().register(phases)
        self._listeners = (progress, phases)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._saved):
            setattr(mod, attr, original)
        self._saved.clear()
        if self._listeners:
            progress, phases = self._listeners
            self.spark.streams.removeListener(progress)
            self.spark._jsparkSession.listenerManager().unregister(phases)
            self._listeners = ()

    # -- collection ------------------------------------------------------
    def _stream_progress(self, p: dict) -> None:
        d = p.get("durationMs") or {}
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        with self._lock:
            self.counts["stream.batches"] += 1
            self.counts["stream.input_rows"] += p.get("numInputRows") or 0
            self.counts["stream.query_planning_ms"] += d.get("queryPlanning", 0)
            self.counts["stream.add_batch_ms"] += d.get("addBatch", 0)
            self.counts["stream.wal_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for so in p.get("stateOperators") or []:
                self.counts["stream.state_commit_ms"] += so.get("commitTimeMs") or 0
                self.counts["stream.state_rows"] += so.get("numRowsTotal") or 0
                self.counts["stream.state_memory_bytes"] += so.get("memoryUsedBytes") or 0
            self._jvm_spans.append(Span(
                "stream.batch", self._from_unix(start),
                self._from_unix(start + d.get("triggerExecution", 0) / 1000.0)))

    def settle(self) -> None:
        """Wait until Spark's listener bus has delivered the events of the
        ops run so far, so the status store and the JVM-timed spans are
        complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        seen, quiet_since = -1, time.time()
        while time.time() - quiet_since < 0.3:
            with self._lock:
                n = len(self._jvm_spans)
            if n != seen:
                seen, quiet_since = n, time.time()
            time.sleep(0.05)

    def collect(self) -> None:
        """Fold job-group stage data into the counts, and attach the
        JVM-timed spans to the ops they ran in."""
        for df in self._built:
            self._record_phases(df._jdf.queryExecution())
        self._built.clear()
        self.settle()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for group, layer in self._groups:
            stages: set[int] = set()
            jobs = tracker.getJobIdsForGroup(group)
            self.counts[f"{layer}.jobs"] += len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(info.stageIds)
            if layer != "exec":
                continue
            self.counts["exec.stages"] += len(stages)
            for sid in stages:
                attempts = store.stageData(sid, False, None, False, None)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    self.counts["exec.tasks"] += sd.numCompleteTasks()
                    self.counts["exec.failed_tasks"] += sd.numFailedTasks()
                    self.counts["exec.executor_run_ms"] += sd.executorRunTime()
                    self.counts["exec.gc_ms"] += sd.jvmGcTime()
                    self.counts["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                    self.counts["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    self.counts["exec.input_bytes"] += sd.inputBytes()
        self._groups.clear()

        with self._lock:
            events, self._jvm_spans = self._jvm_spans, []
        # a micro-batch goes in before the planning phases it contains
        for ev in sorted(events, key=lambda s: (s.start, s.start - s.end)):
            self._attach(ev)

    def account(self, latencies: list[tuple[str, float]]) -> list[str]:
        """Compare each op of the pass just collected with its latency as
        the runner measured it (``latencies``, in op order).  Returns the
        ops whose span tree misses it by more than the tolerance."""
        ops = self.ops[len(self.accounting):]
        if len(ops) != len(latencies):
            return [f"{len(ops)} op spans for {len(latencies)} ops"]
        bad = []
        for op, (tag, wall) in zip(ops, latencies):
            total = sum(s.self_s() for s in op.walk())
            self.accounting.append((tag, wall, total))
            if abs(wall - total) > wall * SELF_TIME_TOLERANCE_PCT / 100.0:
                bad.append(f"{tag}: spans add up to {total * 1e3:.3f} ms "
                           f"of {wall * 1e3:.3f} ms")
        return bad

    def layer_metrics(self, n_passes: int) -> dict[str, float]:
        """Per-pass layer metrics: span self times and counts over the
        traced passes, divided by their number."""
        totals: Counter = Counter()
        for op in self.ops:
            for s in op.walk():
                key = "op" if s is op else s.name
                totals[key] += s.self_s() * 1000.0
        out = {
            "op.self_ms": totals["op"],
            "build.ms": totals["build"],
            "exec.ms": totals["exec"],
            "stream.batch_ms": totals["stream.batch"],
            "io.load_table.ms": totals["io.load_table"],
            "io.staged_dir.ms": totals["io.staged_dir"],
            "catalyst.ms": sum(totals[f"catalyst.{p}"] for p in CATALYST_PHASES),
        }
        for p in CATALYST_PHASES:
            out[f"catalyst.{p}_ms"] = totals[f"catalyst.{p}"]
        for name in LAYER_METRICS:
            if name not in out and name in self.counts:
                out[name] = float(self.counts[name])
        exec_ms = out["exec.ms"]
        busy = self.counts["exec.executor_run_ms"]
        per_pass = {k: v / max(n_passes, 1) for k, v in out.items()}
        per_pass["exec.core_busy_ratio"] = busy / (exec_ms * self.cores) if exec_ms else 0.0
        per_pass["trace.unaccounted_pct"] = max(
            (abs(wall - total) / wall * 100.0 for _tag, wall, total in self.accounting if wall),
            default=0.0)
        return per_pass

    def spans_json(self) -> list[dict]:
        def dump(s: Span) -> dict:
            return {"name": s.name, "detail": s.detail, "start": s.start, "end": s.end,
                    "self_ms": s.self_s() * 1000.0,
                    "children": [dump(c) for c in s.children]}

        return [dump(op) for op in self.ops]
