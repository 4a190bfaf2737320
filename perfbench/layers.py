"""Per-layer tracing for ``--trace 1`` runs, from the benchmark's side.

Nothing here changes the engine. Spans come from wrappers around each
layer's public entry points, installed before the plan modules import
them; Spark-side counters come from the in-JVM status stores after the
measured window. Spans stay in memory and are written once, at the end.

A span is ``(name, start, end, parent, op)``: epoch seconds, the index
of the enclosing span (-1 for none) and the op id it ran under. A
layer's self time is its span minus the part its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from collections import defaultdict

OPERATOR_MODULES = ("dedup", "similarity", "diff", "merge", "multimodal")
_PKG = "psx_data_pipeline_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op = -1
        self.window = (float("-inf"), float("inf"))
        self.build_py4j_calls = 0
        self.progress: list[tuple[str, int, int, int, int]] = []
        self.listener = None
        self._main = threading.main_thread()

    # -- spans ----------------------------------------------------------
    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.current_thread() is not self._main:
                return fn(*args, **kwargs)
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else -1
            self.spans.append((name, time.time(), 0.0, parent, self.op))
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                n, t0, _, p, op = self.spans[idx]
                self.spans[idx] = (n, t0, time.time(), p, op)

        traced.__wrapped_by_perfbench__ = fn
        return traced

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        """Wrap layer entry points. Must run before the plans package is
        imported, so the plan modules bind the wrapped functions."""
        import py4j.java_gateway as jg
        from pyspark.sql.readwriter import DataFrameReader

        orig_call = jg.JavaMember.__call__
        tracer = self

        def counted(member, *args):
            # calls made by a plan build of a measured op (op >= 0)
            if (tracer.op >= 0 and threading.current_thread() is tracer._main
                    and any(tracer.spans[i][0] == "plans.build" for i in tracer._stack)):
                tracer.build_py4j_calls += 1
            return orig_call(member, *args)

        jg.JavaMember.__call__ = counted
        DataFrameReader.parquet = self.wrap("sources.read", DataFrameReader.parquet)

        replaced = {}
        for mod_name in OPERATOR_MODULES:
            replaced.update(self._wrap_module(f"{_PKG}.operators.{mod_name}",
                                              f"operators.{mod_name}",
                                              lambda n: not n.startswith("_")))
        replaced.update(self._wrap_module(f"{_PKG}.sources.io", "sources.write",
                                          lambda n: n.startswith(("write_", "append_"))))
        # modules imported so far bound the originals by name: rebind
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(_PKG):
                for attr, val in list(vars(mod).items()):
                    if id(val) in replaced:
                        setattr(mod, attr, replaced[id(val)])

        orch = importlib.import_module(f"{_PKG}.orchestrate")
        orig_stages = orch.full_run_stages

        def traced_stages(*args, **kwargs):
            stages = orig_stages(*args, **kwargs)
            for st in stages:
                st.run = self.wrap(f"orchestrate.{st.name}", st.run)
            return stages

        orch.full_run_stages = traced_stages

    def _wrap_module(self, mod_name: str, span: str, keep) -> dict:
        mod = importlib.import_module(mod_name)
        replaced = {}
        for attr, val in list(vars(mod).items()):
            if inspect.isfunction(val) and val.__module__ == mod_name and keep(attr):
                wrapped = self.wrap(span, val)
                setattr(mod, attr, wrapped)
                replaced[id(val)] = wrapped
        return replaced

    def wrap_queries(self, queries: dict) -> None:
        for name, fn in list(queries.items()):
            queries[name] = self.wrap("plans.build", fn)

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                state = sum(s.numRowsTotal for s in p.stateOperators)
                sink.append((str(p.runId), p.batchId, p.numInputRows,
                             p.batchDuration, state))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Progress()
        spark.streams.addListener(self.listener)

    def unlisten(self, spark) -> None:
        if self.listener is not None:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            spark.streams.removeListener(self.listener)
            self.listener = None

    # -- summaries ------------------------------------------------------
    def _outermost(self, prefix: str):
        """Spans named ``prefix``, begun inside the measured window, with
        no ancestor of the same name."""
        out = []
        for name, t0, t1, parent, op in self.spans:
            if name != prefix or not self.window[0] <= t0 <= self.window[1]:
                continue
            p = parent
            while p != -1 and self.spans[p][0] != prefix:
                p = self.spans[p][3]
            if p == -1:
                out.append((t0, t1, op))
        return out

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent != -1:
                child[parent] += t1 - t0
        out = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def layer_metrics(self, jobs: list[dict]) -> dict[str, float]:
        m: dict[str, float] = {}
        builds = self._outermost("plans.build")
        m["plans.build_s"] = sum(t1 - t0 for t0, t1, _ in builds)
        eager = [j for j in jobs
                 if any(t0 <= j["start"] <= t1 for t0, t1, _ in builds)]
        m["plans.eager_jobs"] = len(eager)
        m["plans.eager_job_s"] = _union_s([(j["start"], j["end"]) for j in eager])
        m["plans.build_self_s"] = m["plans.build_s"] - m["plans.eager_job_s"]
        m["plans.py4j_calls"] = self.build_py4j_calls
        reads = self._outermost("sources.read")
        m["sources.parquet_reads"] = len(reads)
        m["sources.read_s"] = sum(t1 - t0 for t0, t1, _ in reads)
        m["sources.write_s"] = sum(t1 - t0 for t0, t1, _ in self._outermost("sources.write"))
        for mod in OPERATOR_MODULES:
            calls = self._outermost(f"operators.{mod}")
            m[f"operators.{mod}.s"] = sum(t1 - t0 for t0, t1, _ in calls)
            m[f"operators.{mod}.calls"] = len(calls)
        for stage in ("sync", "update", "append"):
            m[f"orchestrate.{stage}_s"] = sum(
                t1 - t0 for t0, t1, _ in self._outermost(f"orchestrate.{stage}"))
        last_state: dict[str, int] = {}
        first = 0.0
        for run_id, batch_id, rows, dur_ms, state in self.progress:
            last_state[run_id] = state
            if batch_id == 0:
                first += dur_ms / 1000.0
        m["streaming.micro_batches"] = len(self.progress)
        m["streaming.input_rows"] = sum(p[2] for p in self.progress)
        m["streaming.batch_s"] = sum(p[3] for p in self.progress) / 1000.0
        m["streaming.state_rows"] = sum(last_state.values())
        m["streaming.first_batch_s"] = first
        return m


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_store(spark, t_start: float, t_end: float, cores: int) -> tuple[list[dict], dict]:
    """Jobs and stage totals the JVM status store holds for jobs
    submitted within ``[t_start, t_end]`` (epoch seconds)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        start = _opt_ms(j.submissionTime())
        if start is None or not t_start <= start <= t_end:
            continue
        end = _opt_ms(j.completionTime()) or t_end
        jobs.append({"id": j.jobId(), "start": start, "end": end})
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._jvm.double, 0),
                             sc._jvm.java.util.ArrayList())
    t = defaultdict(int)
    for i in range(stages.size()):
        s = stages.apply(i)
        start = _opt_ms(s.submissionTime())
        if start is None or not t_start <= start <= t_end:
            continue
        t["spark.stages"] += 1
        t["spark.tasks"] += s.numTasks()
        t["spark.task_failures"] += s.numFailedTasks()
        t["spark.executor_run_s"] += s.executorRunTime() / 1e3
        t["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
        t["spark.gc_s"] += s.jvmGcTime() / 1e3
        t["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        t["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        t["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    m = {k: t[k] for k in ("spark.stages", "spark.tasks", "spark.task_failures",
                           "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
                           "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                           "spark.spill_bytes")}
    m["spark.jobs"] = len(jobs)
    m["spark.exec_s"] = _union_s([(j["start"], j["end"]) for j in jobs])
    m["spark.idle_core_s"] = cores * m["spark.exec_s"] - m["spark.executor_run_s"]
    return jobs, m


def plan_phase_s(df) -> float:
    """Catalyst time of one delivered query: the sum of its
    QueryExecution tracker phases (analysis, optimization, planning)."""
    it = df._jdf.queryExecution().tracker().phases().values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1000.0


def inmemory_scans(df) -> int:
    """InMemoryTableScan nodes in the plan that ran (the final adaptive
    plan, not the initial one printed after it)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("InMemoryTableScan ")


def persisted_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def cache_entries(spark) -> set[int]:
    """Identities of the CacheManager's entries (read by reflection: the
    list is private and the public API only says whether it is empty)."""
    jvm = spark._jvm
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    return {jvm.java.lang.System.identityHashCode(seq.apply(i)) for i in range(seq.size())}
