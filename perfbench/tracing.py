"""Per-layer tracing for the benchmark, measured from outside the engine.

``Tracer(spark)`` wraps each benchmark op in its own Spark job group and
reads, after the op and outside its timed region:

* jobs, stages and tasks through the public ``StatusTracker`` and the
  app status store (both work with the UI off);
* Catalyst phase times from ``queryExecution().tracker()``;
* whole-stage codegen compiles from ``CodegenMetrics`` and
  ``CodeGenerator.compileTime`` (deltas across the op);
* the Python-worker SQL metrics of the op's SQL executions;
* txlog log IO, by wrapping ``PosixLogStore`` methods in place (a
  counting subclass would change ``TxTable._local_store``'s exact-type
  check and with it the commit path);
* stream progress through a ``StreamingQueryListener``: streams run
  their jobs on the stream thread, outside the caller's job group.

``NullTracer`` is what untraced runs use: it touches nothing.
"""

from __future__ import annotations

import contextlib
import math
import re
import threading
import time
from collections import defaultdict


def quantile(xs, q):
    """Nearest-rank quantile of a non-empty sample."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


class Span:
    seconds = 0.0
    df = None


class NullTracer:
    @contextlib.contextmanager
    def op(self, name, kind):
        yield Span()

    @contextlib.contextmanager
    def build(self):
        yield

    def stream_done(self, query_id) -> None:
        pass


_UNITS = {
    "ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric (``"1.9 s"``, ``"135.2 KiB"``,
    ``"1,234"``; multi-task metrics put the total on their last line
    ahead of the ``(min, med, max ...)`` summary). Times come back in
    ms, sizes in bytes."""
    line = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = re.fullmatch(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


PYTHON_METRICS = {
    "time to run Python workers": "operators.python_total_ms",
    "time to start Python workers": "operators.python_boot_ms",
    "data sent to Python workers": "operators.python_bytes_sent",
}
PHASES = {
    "analysis": "catalyst.analysis_ms",
    "optimization": "catalyst.optimization_ms",
    "planning": "catalyst.planning_ms",
}
LOG_IO = {
    "read_json": "txlog.log_reads",
    "list_log": "txlog.log_lists",
    "publish_exclusive": "txlog.log_writes",
    "put_json": "txlog.log_writes",
    "delete_json": "txlog.log_writes",
}


class Tracer:
    def __init__(self, spark):
        from data_analyse_marche_emploi_spark import catalog, tables
        from data_analyse_marche_emploi_spark.sources import txlog

        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen_time = (
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        )
        self._codegen_count = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.counts: dict[str, float] = defaultdict(float)  # running totals
        self._group = None
        self._n = 0
        self._lock = threading.Lock()
        self._streams_done: set[str] = set()
        self._wrap_log_store(txlog)
        self._wrap_loads(catalog, tables)
        self._wrap_commit(txlog)
        self._listen()

    # -- in-place wrappers ------------------------------------------------
    def _count(self, key, n=1.0):
        with self._lock:
            self.counts[key] += n

    def _counted(self, fn, key):
        def wrapped(*a, **kw):
            self._count(key)
            return fn(*a, **kw)

        return wrapped

    def _wrap_log_store(self, txlog):
        cls = txlog.PosixLogStore
        for meth, key in LOG_IO.items():
            setattr(cls, meth, self._counted(cls.__dict__[meth], key))

    def _wrap_commit(self, txlog):
        orig = txlog.TxTable._commit

        def commit(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self._count("txlog.commit_s", time.perf_counter() - t0)

        txlog.TxTable._commit = commit

    def _wrap_loads(self, catalog, tables):
        orig = tables.load_table

        def load_table(*a, **kw):
            jobs0 = self._jobs()
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self._count("tables.load_s", time.perf_counter() - t0)
                self._count("tables.load_calls")
                self._count("tables.load_jobs", len(self._jobs() - jobs0))

        tables.load_table = load_table
        catalog.load_table = load_table

    def _listen(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                tracer._count("streaming.batches")
                tracer._count("streaming.input_rows", p.numInputRows or 0)
                for src, key in (
                    ("triggerExecution", "streaming.trigger_ms"),
                    ("addBatch", "streaming.add_batch_ms"),
                    ("queryPlanning", "streaming.query_planning_ms"),
                    ("latestOffset", "streaming.latest_offset_ms"),
                    ("walCommit", "streaming.wal_commit_ms"),
                ):
                    tracer._count(key, d.get(src, 0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    tracer._streams_done.add(str(event.id))

        self.spark.streams.addListener(Listener())

    def stream_done(self, query_id, timeout=30.0) -> None:
        """Wait until the listener has seen the stream end, so its last
        progress event is counted (listener events arrive async)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if str(query_id) in self._streams_done:
                    return
            time.sleep(0.005)

    # -- per-op reads -------------------------------------------------------
    def _jobs(self) -> set:
        if self._group is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(self._group))

    def _codegen(self):
        return (
            self._codegen_count.getCount(),
            self._codegen_time.compileTime() / 1e6,
        )

    @contextlib.contextmanager
    def build(self):
        """Times the catalog callable (DataFrame construction)."""
        jobs0 = self._jobs()
        t0 = time.perf_counter()
        yield
        self._count("catalog.build_s", time.perf_counter() - t0)
        self._count("catalog.build_jobs", len(self._jobs() - jobs0))

    @contextlib.contextmanager
    def op(self, name, kind):
        self._n += 1
        self._group = f"perfbench-{self._n}"
        self.sc.setJobGroup(self._group, name)
        cg0 = self._codegen()
        sql0 = self._sql.executionsCount()
        build0 = self.counts["catalog.build_s"]
        span = Span()
        try:
            yield span
        finally:
            c0 = time.perf_counter()
            jobs = self._jobs()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._group = None
            cg1 = self._codegen()
            self._count("codegen.compiles", cg1[0] - cg0[0])
            self._count("codegen.compile_ms", cg1[1] - cg0[1])
            if span.df is not None:
                exec_s = span.seconds - (self.counts["catalog.build_s"] - build0)
                self._count("exec.s", exec_s)
                self._phases(span.df)
            self._stages(jobs)
            self._python(sql0)
            self._count("trace.collect_s", time.perf_counter() - c0)

    def _phases(self, df):
        phases = df._jdf.queryExecution().tracker().phases()
        for name, key in PHASES.items():
            opt = phases.get(name)
            if opt.isDefined():
                self._count(key, opt.get().durationMs())

    def _stages(self, jobs):
        st = self.sc.statusTracker()
        self._count("exec.jobs", len(jobs))
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                try:
                    s = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never ran
                    continue
                self._count("exec.stages")
                self._count("exec.tasks", s.numTasks())
                self._count("exec.failed_tasks", s.numFailedTasks())
                self._count("exec.run_ms", s.executorRunTime())
                self._count("exec.cpu_ms", s.executorCpuTime() / 1e6)
                self._count("exec.shuffle_read_bytes", s.shuffleReadBytes())
                self._count("exec.shuffle_write_bytes", s.shuffleWriteBytes())
                self._count(
                    "exec.spill_bytes",
                    s.memoryBytesSpilled() + s.diskBytesSpilled(),
                )

    def _python(self, sql0):
        n = self._sql.executionsCount()
        if n <= sql0:
            return
        execs = self._sql.executionsList(sql0, n - sql0)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                found = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        found[m.name()] = parse_metric(v.get())
                if "time to run Python workers" not in found:
                    continue
                for name, key in PYTHON_METRICS.items():
                    self._count(key, found.get(name, 0.0))
                self._count(
                    "operators.python_rows", found.get("number of output rows", 0)
                )


# name -> unit of every per-layer metric, in report order
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.load_jobs": "count",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "codegen.cold_compiles": "count",
    "codegen.cold_compile_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "operators.python_total_ms": "ms",
    "operators.python_boot_ms": "ms",
    "operators.python_rows": "count",
    "operators.python_bytes_sent": "bytes",
    "txlog.commit_s": "s",
    "txlog.log_reads": "count",
    "txlog.log_writes": "count",
    "txlog.log_lists": "count",
    "txlog.files_added": "count",
    "txlog.files_removed": "count",
    "txlog.bytes_written": "bytes",
    "txlog.rewrite_ratio": "ratio",
    "txlog.checkpoint_s": "s",
    "txlog.optimize_s": "s",
    "txlog.bytes_per_live_byte": "ratio",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.input_rows": "count",
    "ops.write_p50_s": "s",
    "ops.read_p50_s": "s",
    "ops.drain_p50_s": "s",
    "ops.op_p90_s": "s",
    "ops.failed_op_ratio": "ratio",
    "trace.warm_pass_s": "s",
    "trace.collect_s": "s",
}


def per_layer(tracer, cold: dict, ops: list, passes: list, setup_s: float,
              wl) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run. Counters are per warm pass
    (the cold pass is excluded) unless the name says ``cold``."""
    import statistics

    n_warm = len(passes) - 1
    counts = tracer.counts
    out = {k: (counts.get(k, 0.0) - cold.get(k, 0.0)) / n_warm
           for k in PER_LAYER}
    out["session.start_s"] = setup_s
    out["codegen.cold_compiles"] = cold.get("codegen.compiles", 0.0)
    out["codegen.cold_compile_ms"] = cold.get("codegen.compile_ms", 0.0)
    warm = [o for o in ops if o[0] > 0]

    def kind_s(kind):
        return sum(o[2] for o in warm if o[1] == kind) / n_warm

    def kind_p50(kinds):
        xs = sorted(o[2] for o in warm if o[1] in kinds)
        return statistics.median(xs) if xs else 0.0

    out["txlog.checkpoint_s"] = kind_s("checkpoint")
    out["txlog.optimize_s"] = kind_s("optimize")
    out["streaming.drain_s"] = kind_s("drain")
    out["ops.write_p50_s"] = kind_p50({"write", "optimize"})
    out["ops.read_p50_s"] = kind_p50({"read", "query"})
    out["ops.drain_p50_s"] = kind_p50({"drain"})
    out["ops.op_p90_s"] = quantile([o[2] for o in warm], 0.9)
    out["ops.failed_op_ratio"] = sum(1 for o in ops if not o[3]) / len(ops)
    out["trace.warm_pass_s"] = statistics.median(passes[1:])
    for k in ("txlog.files_added", "txlog.files_removed",
              "txlog.bytes_written", "txlog.rewrite_ratio",
              "txlog.bytes_per_live_byte"):
        out[k] = 0.0
    if hasattr(wl, "tables"):
        out.update(_txlog_history(wl, n_warm))
    return out, PER_LAYER


def _txlog_history(wl, n_warm: int) -> dict:
    """Commit metrics of the warm passes' versions, from history()."""
    added = removed = bytes_written = rows_added = changed = 0
    for tab in wl.tables:
        t = tab.t
        for act in t.history():
            v = act["version"]
            if tab.version_pass.get(v, 0) == 0:
                continue
            m = act.get("metrics", {})
            added += m.get("files_added", 0)
            removed += m.get("files_removed", 0)
            rows_added += m.get("rows_added", 0)
            changed += tab.changed.get(v, 0)
            bytes_written += sum(
                t.file_store.size(t.path, f) for f in act["adds"]
            )
    return {
        "txlog.files_added": added / n_warm,
        "txlog.files_removed": removed / n_warm,
        "txlog.bytes_written": bytes_written / n_warm,
        "txlog.rewrite_ratio": rows_added / changed if changed else 0.0,
        "txlog.bytes_per_live_byte": wl.disk_ratio(),
    }
