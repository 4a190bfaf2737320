"""Micro-batch / state-store / job census for the streaming twins.

Round-12 verdict ask #3: before conceding that the stream_* walls are
irreducible AvailableNow machinery, count what one run actually does —
micro-batches executed, state-store commits, jobs/stages/tasks, and
where the wall goes (stream start → first progress → termination).

The run loop is ``query_profile.py``'s: the session warm-up, then for
each named twin one unmeasured run and one measured run. For the
measured run it reads:
  * the StreamingQuery's progress events (batches, state rows,
    state commit counts, durationMs breakdown),
  * the jobs, stages and tasks submitted during the run, from the
    status store (``perfbench/layers.status_store``).

Because the stream queries create + drop their own StreamingQuery
inside the plan function, progress is captured via a streams listener
registered before the run; the listener bus is drained before the
events are read.

Usage: python tools/stream_census.py [stream_query ...]
"""

from __future__ import annotations

import json
import sys
import time

from query_profile import ROOT, run_query, warm_up

sys.path.insert(0, ROOT)

from perfbench.layers import status_store  # noqa: E402
from psx_data_pipeline_spark.session import get_spark  # noqa: E402
from psx_data_pipeline_spark.sources.fixtures import DEFAULT_SF_DIR  # noqa: E402

DEFAULT = [
    "stream_click_attribution", "stream_user_totals",
    "stream_sync_change_log", "stream_dedup", "stream_sessionize",
    "stream_window_counts", "stream_label_vote", "stream_heavy_hitters",
]


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("stream_census")
    sc = spark.sparkContext
    from pyspark.sql.streaming import StreamingQueryListener

    progress_log: list[dict] = []

    class L(StreamingQueryListener):
        def onQueryStarted(self, event):
            progress_log.append({"event": "started", "t": time.perf_counter()})

        def onQueryProgress(self, event):
            p = event.progress
            progress_log.append({
                "event": "progress", "t": time.perf_counter(),
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "stateOperators": [
                    {
                        "operatorName": so.operatorName,
                        "numRowsTotal": so.numRowsTotal,
                        "numRowsUpdated": so.numRowsUpdated,
                        "commitTimeMs": so.allUpdatesTimeMs,
                        "numShufflePartitions": so.numShufflePartitions,
                        "numStateStoreInstances": so.numStateStoreInstances,
                    }
                    for so in p.stateOperators
                ],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            progress_log.append({"event": "terminated", "t": time.perf_counter()})

    spark.streams.addListener(L())
    warm_up(spark, DEFAULT_SF_DIR)

    bus = sc._jsc.sc().listenerBus()
    for name in names:
        run_query(spark, name, DEFAULT_SF_DIR)  # warm run (codegen/JIT), not censused
        bus.waitUntilEmpty()
        progress_log.clear()
        t_start, t0 = time.time(), time.perf_counter()
        wall = run_query(spark, name, DEFAULT_SF_DIR)
        t_end = time.time()
        bus.waitUntilEmpty()
        _, census = status_store(spark, t_start, t_end, sc.defaultParallelism)
        events = list(progress_log)
        batches = [e for e in events if e["event"] == "progress"]
        started = [e for e in events if e["event"] == "started"]
        ended = [e for e in events if e["event"] == "terminated"]
        timeline = {}
        if started and batches:
            timeline["start_to_first_batch_s"] = round(
                batches[0]["t"] - started[0]["t"], 3)
        if started and ended:
            timeline["stream_total_s"] = round(ended[-1]["t"] - started[0]["t"], 3)
            timeline["pre_stream_s"] = round(started[0]["t"] - t0, 3)
            timeline["post_stream_s"] = round(t0 + wall - ended[-1]["t"], 3)
        print(json.dumps({
            "query": name, "wall_s": round(wall, 3),
            "jobs": census["spark.jobs"], "stages": census["spark.stages"],
            "tasks": census["spark.tasks"],
            "n_micro_batches": len(batches),
            "batches": [
                {k: b[k] for k in ("batchId", "numInputRows", "durationMs",
                                    "stateOperators")}
                for b in batches
            ],
            **timeline,
        }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
