"""The query profiler (``tools/query_profile.py``) and the tools' session guard.

The profiler's loop runs in a child process so the session is fresh
and configured as the tool configures it (``session.get_spark``, UI
disabled): each query's record must carry every per-layer field,
repeat its deterministic counters exactly across two measured runs,
and count the build once (``plans.build_s`` is part of ``wall_s``,
not added to it). Plan time is that of the measured write, so it fits
inside the run's wall even for a query that returns a memo planned by
an earlier run. The ticker sync's eager build jobs must match the
count ``test_sync_counters`` pins through the status tracker.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

from tests.conftest import SF_CORRECT
from tests.test_sync_counters import SYNC_BUILD_JOBS

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOLS = REPO / "tools"

FIELDS = (
    "plans.build_s", "plans.build_self_s", "plans.eager_jobs", "plans.eager_job_s",
    "plans.py4j_calls", "sources.parquet_reads", "sources.read_s",
    "spark.plan_s",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.shuffle_read_rows", "spark.shuffle_write_rows", "wall_s",
)
# fixed by code, data and core count, so equal on every warm repeat
COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
            "plans.py4j_calls")
# rename_detection reads the rename memo an earlier run built: its plan
# time must still be its own write's
QUERIES = ("ticker_sync_changes", "pricing_summary", "rename_detection")

_CHILD = r"""
import json, sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
import query_profile as qp
spark, tracer, last = qp.traced_session()
sf, names = sys.argv[3], json.loads(sys.argv[4])
qp.warm_up(spark, sf)
records = {n: [qp.profile_query(spark, tracer, last, n, sf) for _ in range(2)]
           for n in names}
out = {"ui": spark.conf.get("spark.ui.enabled"), "records": records}
print("PROFILED " + json.dumps(out), flush=True)
spark.stop()
"""


def test_profile_records_are_complete_and_repeat(tmp_path):
    # Python workers import the engine too
    path = os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PSX_SPARK_DRIVER_MEM="1g", PYTHONPATH=path)
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, str(TOOLS), str(REPO), SF_CORRECT, json.dumps(QUERIES)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("PROFILED ")]
    assert lines, res.stderr[-2000:]
    got = json.loads(lines[-1][len("PROFILED "):])
    assert got["ui"] == "false"
    records = got["records"]
    assert records["ticker_sync_changes"][0]["plans.eager_jobs"] == SYNC_BUILD_JOBS
    for name in QUERIES:
        first, second = records[name]
        for rec in (first, second):
            assert set(rec) == set(FIELDS), name
            assert rec["plans.build_s"] <= rec["wall_s"], name
            assert rec["spark.plan_s"] <= rec["wall_s"], name
        assert {k: first[k] for k in COUNTERS} == {k: second[k] for k in COUNTERS}, name


def test_tools_take_their_session_from_get_spark():
    """A tool that builds its own session, or reads metrics from the
    UI's REST API, measures a configuration the engine never runs."""
    for path in sorted(TOOLS.glob("*.py")):
        text = path.read_text()
        for banned in ("SparkSession.builder", "/api/v1/"):
            assert banned not in text, f"{path.name} uses {banned}"


def test_no_tool_shadows_a_standard_library_module():
    """A script run from tools/ has that directory first on sys.path,
    and pyspark imports stdlib modules (``profile``, via cProfile)."""
    shadows = sorted(p.stem for p in TOOLS.glob("*.py") if p.stem in sys.stdlib_module_names)
    assert not shadows
