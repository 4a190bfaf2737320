"""One record per registered query, split into the benchmark's layers.

    python tools/query_profile.py [query ...]   (default: every registered query)

After one session warm-up each query runs unmeasured, then measured; a
``MEMO_OWNERS`` query has the session memos cleared before both runs.
The measured run builds the query once and noop-writes that frame. Its
record uses the per-layer names of ``BENCHMARK.json``, read by
``perfbench/layers.py`` from the in-JVM status stores (UI disabled),
plus ``wall_s`` from build start to write end. ``spark.plan_s`` is the
Catalyst time of the write's own QueryExecution; the frame's analysis
ran in the build. ``spark.*`` covers every job the run submitted, eager
ones included; ``spark.stages`` excludes skipped stages. A run of every
query writes ``PROFILE.json``, keyed by ``bench.code_fingerprint()``
and the git head; a run of named queries only prints its records.

``warm_up`` and ``run_query`` are the run loop ``stream_census.py`` and
``ab_query.py`` share. The module is not named ``profile``: a script
run from ``tools/`` has this directory first on ``sys.path``, and
pyspark imports the standard library's ``profile`` through ``cProfile``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = ("plans.build_s", "plans.build_self_s", "plans.eager_jobs", "plans.eager_job_s",
         "plans.py4j_calls", "sources.parquet_reads", "sources.read_s")
EXEC = ("spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes")


def warm_up(spark, sf_dir: str) -> None:
    """Pay the session's first-touch costs: fixture IO, then JIT and
    codegen on the first registered query."""
    from psx_data_pipeline_spark.plans import QUERIES
    from psx_data_pipeline_spark.schemas import FIXTURE_TABLES

    for t in FIXTURE_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format("noop").mode("overwrite").save()
    try:  # the warm-up is paid even if an older engine fails the query
        run_query(spark, next(iter(QUERIES)), sf_dir)
    except Exception:
        traceback.print_exc()


def run_query(spark, name: str, sf_dir: str) -> float:
    """Build ``name`` once and noop-write that frame, clearing the
    session memos first for a memo owner. Returns the wall seconds of
    build plus write."""
    from psx_data_pipeline_spark.plans import MEMO_OWNERS, QUERIES, clear_session_memos

    if name in MEMO_OWNERS:
        clear_session_memos()
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class LastExecution:
    """Session QueryExecutionListener (a py4j callback) keeping the last
    reported QueryExecution: once the listener bus drains after a run,
    that of its closing noop write."""

    qe = None

    def onSuccess(self, func, qe, _):
        self.qe = qe

    onFailure = onSuccess

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def plan_s(qe, since: float) -> float:
    """Summed tracker phases of ``qe``, which must have started planning
    after ``since`` (epoch seconds)."""
    it = qe.tracker().phases().values().iterator()
    phases = [it.next() for _ in iter(it.hasNext, False)]
    if min(p.startTimeMs() for p in phases) < since * 1000:
        raise RuntimeError("the measured write's QueryExecution was not reported")
    return sum(p.durationMs() for p in phases) / 1000.0


def traced_session():
    """The session, a ``Tracer`` wrapping every layer (installed before
    the plan modules import what it wraps) and a ``LastExecution``."""
    sys.path.insert(0, ROOT)
    from perfbench.layers import Tracer

    tracer = Tracer()
    tracer.install()
    from psx_data_pipeline_spark.plans import QUERIES
    from psx_data_pipeline_spark.session import get_spark
    from pyspark.java_gateway import ensure_callback_server_started

    tracer.wrap_queries(QUERIES)
    spark = get_spark("query_profile")
    ensure_callback_server_started(spark.sparkContext._gateway)
    last = LastExecution()
    spark._jsparkSession.listenerManager().register(last)
    return spark, tracer, last


def profile_query(spark, tracer, last: LastExecution, name: str, sf_dir: str) -> dict:
    """One unmeasured run of ``name``, then the record of a measured one."""
    from perfbench.layers import status_store

    run_query(spark, name, sf_dir)
    tracer.op, tracer.build_py4j_calls = 0, 0
    t0 = time.time()
    try:
        wall = run_query(spark, name, sf_dir)
    finally:
        tracer.op = -1
    t1 = time.time()
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracer.window = (t0, t1)
    jobs, spark_m = status_store(spark, t0, t1, sc.defaultParallelism)
    build = tracer.layer_metrics(jobs)
    rec = {k: build[k] for k in BUILD} | {"spark.plan_s": plan_s(last.qe, t0)}
    rec |= {k: spark_m[k] for k in EXEC}
    # shuffle rows of the stages status_store summed: those submitted in the run
    rows = [0, 0]
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList())
    for i in range(stages.size()):
        s = stages.apply(i)
        start = s.submissionTime()
        if start.isDefined() and t0 <= start.get().getTime() / 1000.0 <= t1:
            rows[0] += s.shuffleReadRecords()
            rows[1] += s.shuffleWriteRecords()
    rec["spark.shuffle_read_rows"], rec["spark.shuffle_write_rows"] = rows
    rec["wall_s"] = wall
    return rec


def main(names: list[str]) -> int:
    spark, tracer, last = traced_session()
    import bench
    from psx_data_pipeline_spark.plans import QUERIES
    from psx_data_pipeline_spark.sources.fixtures import DEFAULT_SF_DIR

    t_start = time.perf_counter()
    warm_up(spark, DEFAULT_SF_DIR)
    records = {}
    for name in names or QUERIES:
        try:
            records[name] = profile_query(spark, tracer, last, name, DEFAULT_SF_DIR)
        except Exception as exc:  # record the failure, profile the rest
            traceback.print_exc()
            records[name] = {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}
        print(json.dumps({"query": name, **records[name]}), flush=True)
    if not names:
        out = {"code_fingerprint": bench.code_fingerprint(), "git_head": bench._git_head(),
               "sf": bench._sf_from_dir(DEFAULT_SF_DIR), "master": spark.sparkContext.master,
               "run_s": time.perf_counter() - t_start, "queries": records}
        with open(os.path.join(ROOT, "PROFILE.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    errors = [n for n, r in records.items() if "error" in r]
    print(f"query_profile: {len(records)} queries, errors: {errors}", file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
