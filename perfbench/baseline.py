"""Summarise run records into a baseline: for each workload and trace
mode, the median and quartiles of every metric over the runs given
(untraced runs: the gated and the reported end-to-end metrics; traced
runs: the per-layer metrics and the tracing overhead).

    python3 perfbench/baseline.py .perfbench_work/records/*.json > perfbench/baseline.json

Records of one workload that ran different op lists or a different
``local[N]`` are refused, as ``compare.py`` refuses them.
"""

from __future__ import annotations

import json
import statistics
import sys

from compare import comparable


def summary(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / med if med else 0.0}


def main(paths: list[str]) -> int:
    groups: dict[tuple[str, int], list[dict]] = {}
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    out = {}
    for (workload, trace), recs in sorted(groups.items()):
        for r in recs[1:]:
            why = comparable(recs[0], r)
            if why:
                print(f"refusing {workload} trace={trace}: {', '.join(why)}", file=sys.stderr)
                return 2
        parts = ("per_layer", "extra") if trace else ("end_to_end", "extra")
        metrics = {k: summary([r[part][k] for r in recs])
                   for part in parts for k in recs[0][part]
                   if all(r[part].get(k) is not None for r in recs)}
        first = recs[0]
        out.setdefault(workload, {})[f"trace{trace}"] = {
            "runs": len(recs), "seeds": sorted(r["seed"] for r in recs),
            "seconds": first["seconds"], "sf": first["sf"], "master": first["master"],
            "nproc": first["nproc"], "op_multiset": first["op_multiset"],
            "code_fingerprint": sorted({r["code_fingerprint"] for r in recs}),
            "git_head": sorted({r["git_head"] for r in recs}),
            "metrics": metrics,
        }
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
