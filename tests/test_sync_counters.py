"""Deterministic counter guard for the ticker sync stage.

Building ``ticker_sync_changes`` fires its eager jobs while the plan
is built: the churn-residual cache and its min-length stats, then the
cached change table's count, which also fills the rename memo. Given
the code, the data and the core count, the number of those jobs and
of their stages is fixed, so both are pinned exactly: an added
``.count()``, a new exchange or a second rename pass changes them and
fails here by name, where a wall-clock guard would only drift. The
same fresh session then checks the memo lifetime: after the build
exactly the three ticker memos are persisted, and
``clear_session_memos()`` leaves no persisted RDD and an empty
CacheManager.

The build runs in a child process so the session is fresh: nothing
another test cached can be counted, or reused, here.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_CORRECT

# jobs run by the first build of ticker_sync_changes at sf0.01 on
# local[2] (the child pins the core count: local[1] runs one fewer),
# and the stages those jobs list, skipped ones included
SYNC_BUILD_JOBS = 20
SYNC_BUILD_STAGES = 79

_CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from psx_data_pipeline_spark import session
from psx_data_pipeline_spark.plans import QUERIES, clear_session_memos
spark = session.get_spark("sync-counters")
sc, sf = spark.sparkContext, sys.argv[2]
clear_session_memos()
sc.setJobGroup("ticker_sync_changes", "counter guard")
QUERIES["ticker_sync_changes"](spark, sf)
st = sc.statusTracker()
jobs = st.getJobIdsForGroup("ticker_sync_changes")
memos = ("churn_residuals", "rename_table", "sync_changes")
facts = {
    "jobs": len(jobs),
    "stages": sum(len(st.getJobInfo(j).stageIds) for j in jobs),
    "memo_sizes": [sum(k[0] == m for k in session._MEMOS) for m in memos],
    "memo_total": len(session._MEMOS),
    "persisted": sc._jsc.getPersistentRDDs().size(),
}
clear_session_memos()
facts["persisted_after_clear"] = sc._jsc.getPersistentRDDs().size()
cache_manager = spark._jsparkSession.sharedState().cacheManager()
facts["cache_manager_empty"] = cache_manager.isEmpty()
print("SYNCFACTS " + json.dumps(facts), flush=True)
spark.stop()
"""


def test_sync_build_jobs_and_memo_lifetime(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PSX_SPARK_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, repo, SF_CORRECT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    facts = [line for line in res.stdout.splitlines() if line.startswith("SYNCFACTS ")]
    assert facts, res.stderr[-2000:]
    got = json.loads(facts[-1][len("SYNCFACTS "):])
    assert (got["jobs"], got["stages"]) == (SYNC_BUILD_JOBS, SYNC_BUILD_STAGES), (
        f"ticker_sync_changes build ran {got['jobs']} jobs / {got['stages']} "
        f"stages, pinned {SYNC_BUILD_JOBS} / {SYNC_BUILD_STAGES}"
    )
    # residuals, rename table, change table: one registry entry each,
    # and nothing else memoized or persisted
    assert got["memo_sizes"] == [1, 1, 1]
    assert got["memo_total"] == 3
    assert got["persisted"] == 3
    assert got["persisted_after_clear"] == 0
    assert got["cache_manager_empty"]
