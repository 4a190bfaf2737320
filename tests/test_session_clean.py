"""A long-lived session stays clean.

The scheduled pipeline runs its ticks in one session, so whatever a
query persists or checkpoints must be released by
``clear_session_memos()``. A fresh child session runs every
registered query to a ``noop`` write and clears; afterwards no RDD may
stay persisted and the CacheManager must be empty. A query that leaves
a registry memo behind must be declared in ``MEMO_OWNERS`` or
``MEMO_CONSUMERS``, because bench and perfbench clear around exactly
those.

The sweep runs in a child process so that nothing another test cached
can be counted here. A leaking query is cleaned up after it is
recorded, so one leak does not blame every query after it.

The registry's race rule is checked in the shared session: threads
that miss the same key together all get the winner's value, and every
losing build is released.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

from tests.conftest import SF_SMOKE

_CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from psx_data_pipeline_spark import session
from psx_data_pipeline_spark.plans import QUERIES, clear_session_memos
spark = session.get_spark("session-clean")
sc = spark.sparkContext
cache_manager = spark._jsparkSession.sharedState().cacheManager()
facts = {"leaked": [], "memo_left": [], "errors": {}}
for name in sorted(QUERIES):
    try:
        QUERIES[name](spark, sys.argv[2]).write.format("noop").mode(
            "overwrite").save()
    except Exception as exc:
        facts["errors"][name] = f"{type(exc).__name__}: {str(exc)[-300:]}"
    if session._MEMOS:
        facts["memo_left"].append(name)
    clear_session_memos()
    rdds = sc._jsc.getPersistentRDDs()
    if rdds.size() or not cache_manager.isEmpty():
        facts["leaked"].append(name)
        spark.catalog.clearCache()
        for rdd in list(rdds.values()):
            rdd.unpersist(False)
print("CLEANFACTS " + json.dumps(facts), flush=True)
spark.stop()
"""


def test_every_query_leaves_a_clean_session(tmp_path):
    from psx_data_pipeline_spark.plans import MEMO_CONSUMERS, MEMO_OWNERS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # the Python workers of the UDF queries import the package too
    path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PSX_SPARK_DRIVER_MEM="1g",
               PYTHONPATH=path)
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, repo, SF_SMOKE],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=1800,
    )
    facts = [line for line in res.stdout.splitlines()
             if line.startswith("CLEANFACTS ")]
    assert facts, res.stderr[-2000:]
    got = json.loads(facts[-1][len("CLEANFACTS "):])
    assert not got["errors"], got["errors"]
    assert not got["leaked"], (
        f"state left after clear_session_memos(): {got['leaked']}"
    )
    undeclared = sorted(set(got["memo_left"]) - MEMO_OWNERS - MEMO_CONSUMERS)
    assert not undeclared, (
        f"queries leaving a session memo outside MEMO_OWNERS/CONSUMERS: "
        f"{undeclared}"
    )


def test_memo_race_keeps_one_build_and_releases_the_rest(spark):
    from psx_data_pipeline_spark.session import clear_session_memos, memo

    n = 8
    barrier = threading.Barrier(n, timeout=60)
    built, got = [], [None] * n

    def build():
        barrier.wait()  # every thread has missed before any inserts
        df = spark.range(3).cache()
        built.append(df)
        return df

    def worker(i):
        got[i] = memo(("memo-race", spark.sparkContext.applicationId), build)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    winner = got[0]
    assert len(built) == n and all(g is winner for g in got)
    assert winner.is_cached
    assert all(not df.is_cached for df in built if df is not winner)
    clear_session_memos()
    assert not winner.is_cached
