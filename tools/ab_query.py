"""Interleaved A/B of one or more queries between two checkouts.

The round-12 verdict's standing instruction: on this box the same-code
bench total swings 210-292 s between windows, so a single wall is
meaningless — every A/B must interleave runs of both code versions
within the same time window and judge on min-of-N. This tool runs one
fresh process per (side, rep): each process starts its own Spark
session, runs tools/query_profile.py's warm-up and times each query
twice with its run loop (min-of-two, the bench's own >1 s policy).
Every timed run starts with the session memos cleared, so a memo
consumer rebuilds the memo it reads and both runs are cold. Both sides
run this checkout's loop on their own engine. The side that runs first
swaps on every rep (new,old, old,new, ...) so neither box-load drift
nor going first favours one side.

Usage:
    python tools/ab_query.py --old <worktree-or-repo-dir> --reps 5 \
        ticker_sync_changes rename_detection_parity

The "new" side is this repo; the "old" side is a git worktree checked
out at the comparison ref (create it first with `git worktree add`).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_TOOLS = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_TOOLS)

_CHILD = r"""
import json, os, sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
os.chdir(sys.argv[1])
names = json.loads(sys.argv[3])
from query_profile import run_query, warm_up
from psx_data_pipeline_spark.plans import clear_session_memos
from psx_data_pipeline_spark.session import get_spark
from psx_data_pipeline_spark.sources.fixtures import DEFAULT_SF_DIR
spark = get_spark("ab_query")
warm_up(spark, DEFAULT_SF_DIR)
def cold(name):
    clear_session_memos()
    return run_query(spark, name, DEFAULT_SF_DIR)
out = {n: round(min(cold(n) for _ in range(2)), 3) for n in names}
print("ABRESULT " + json.dumps(out), flush=True)
"""


def run_side(root: str, names: list[str]) -> dict[str, float]:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, root, _TOOLS, json.dumps(names)],
        capture_output=True, text=True, timeout=1200, env=env,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
    raise RuntimeError(f"side {root} produced no result")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True, help="worktree dir of the old code")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    mins: dict[str, dict[str, float]] = {"new": {}, "old": {}}
    alls: dict[str, dict[str, list[float]]] = {"new": {}, "old": {}}
    for rep in range(args.reps):
        sides = [("new", _ROOT), ("old", args.old)]
        for side, root in sides[::-1] if rep % 2 else sides:
            res = run_side(root, args.names)
            for n, t in res.items():
                alls[side].setdefault(n, []).append(t)
                cur = mins[side].get(n)
                mins[side][n] = t if cur is None else min(cur, t)
            print(f"rep {rep} {side}: {res}", flush=True)
    summary = {
        n: {
            "new_min": mins["new"][n],
            "old_min": mins["old"][n],
            "new_all": alls["new"][n],
            "old_all": alls["old"][n],
        }
        for n in args.names
    }
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
