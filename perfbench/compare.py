"""Compare two run records written by ``run.py``.

    python3 perfbench/compare.py .perfbench_work/records/A.json .perfbench_work/records/B.json

Refuses (exit 2) when the records ran different op lists or a different
``local[N]``: their numbers do not measure the same work. Otherwise
prints each metric of both records side by side. When both are traced
runs of the same seed, it also checks that the exact counters repeat and
exits 1 naming every one that does not.
"""

from __future__ import annotations

import json
import sys

# Counters a later change may cite as exact evidence, provided they repeat.
EXACT_COUNTERS = ("plans.py4j_calls", "plans.eager_jobs", "sources.parquet_reads",
                  "spark.jobs", "spark.stages", "spark.tasks")


def comparable(a: dict, b: dict) -> list[str]:
    """Reasons the two records must not be compared; empty when they may."""
    why = []
    for key in ("workload", "op_multiset", "master", "sf"):
        if a[key] != b[key]:
            why.append(f"{key} differs")
    return why


def unrepeated(a: dict, b: dict) -> list[str]:
    """Exact counters that differ between two traced runs of one seed."""
    return [f"{k}: {a['per_layer'][k]} != {b['per_layer'][k]}"
            for k in EXACT_COUNTERS if a["per_layer"][k] != b["per_layer"][k]]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    why = comparable(a, b)
    if why:
        print(f"refusing to compare: {', '.join(why)}", file=sys.stderr)
        return 2
    for part in ("end_to_end", "extra", "per_layer"):
        for k in sorted(set(a[part]) | set(b[part])):
            print(f"{part:10s} {k:32s} {a[part].get(k)!s:>22} {b[part].get(k)!s:>22}")
    if a["trace"] and b["trace"] and a["seed"] == b["seed"]:
        bad = unrepeated(a, b)
        for line in bad:
            print(f"not repeated: {line}")
        print(f"exact counters repeated: {not bad}")
        return 1 if bad else 0
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
