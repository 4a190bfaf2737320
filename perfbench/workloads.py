"""Workload definitions: which engine calls one pass issues, and how a
seed turns them into the op order of a run.

A pass is one closed-loop sweep over a workload's ops: each op is
issued after the previous op's result has been delivered. ``TICK`` is
the pipeline tick (``orchestrate.scheduled_run``: sync -> update ->
append, written as parquet); every other op is a registered query,
delivered by ``collect()``.

Why each workload is there is recorded in ``BENCHMARK.json``.

Both workloads run at sf0.1 on subsets of the reference job and of the
near-duplicate suite. Whole, one pass of either takes 40-75 s on a
4-core box, on top of a set-up of about 20 s that every run pays; a run
of the whole suites would not fit the benchmark's time budget. Each subset keeps at least one op per engine
layer it exercises (tick, memo owner and consumers, diff, merge, sink
round trip and streaming; dedup, similarity and multimodal operators).
Ad-hoc analytics over tiny inputs is not a workload: its layers (plan
build, parquet reads, Catalyst planning) are measured on both of these.

``pass_s`` is the median wall of one pass in recorded runs (local[4],
sf0.1, 4-core x86 box). A run makes ``passes(seconds)`` passes, a
number fixed by the workload and ``--seconds`` alone, so every run of a
workload does the same amount of work whatever the seed or the box's
momentary load.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
from dataclasses import dataclass

TICK = "scheduled_run"

# Outputs of one tick and the registered query each must equal.
TICK_OUTPUTS = {
    "change_log": "change_log_format",
    "universe": "scd1_merge",
    "daily_append": "append_cutoff",
}


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    ops: tuple[str, ...]
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))

    def oracle_queries(self) -> list[str]:
        """The registered queries whose oracle results the ops' outputs
        are checked against."""
        return [q for op in self.ops for q in (TICK_OUTPUTS.values() if op == TICK else [op])]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ticker_pipeline", 0.1,
            (TICK,
             # ticker views; the two memo consumers reuse the tick's memos
             "ticker_sync_changes", "change_log_format", "rename_detection",
             "csv_sink_roundtrip",                # write -> read round trip
             "stream_cdc_apply"),                 # stateful streaming twin
            31.7,
        ),
        Workload(
            "near_dup", 0.1,
            ("minhash_lsh_pairs",                         # operators.dedup
             "neighbor_triangles",                        # operators.similarity
             "image_near_dup"),                           # operators.multimodal
            22.4,
        ),
    )
}


def op_order(workload: Workload, seed: int, n_passes: int,
             memo_owners: frozenset[str]) -> list[list[str]]:
    """One op list per pass. The seed shuffles each pass independently,
    except that the pipeline tick, which builds the memos the ticker
    views read, runs first, and memo owners run before every other op,
    so no consumer runs ahead of its owner."""
    rng = random.Random(seed)
    order = []
    for _ in range(n_passes):
        owners = [op for op in workload.ops if op in memo_owners]
        rest = [op for op in workload.ops if op != TICK and op not in memo_owners]
        rng.shuffle(owners)
        rng.shuffle(rest)
        order.append(([TICK] if TICK in workload.ops else []) + owners + rest)
    return order


def run_date(seed: int) -> str:
    """The tick's logical date, one of the 365 days of 2025."""
    return (dt.date(2025, 1, 1) + dt.timedelta(days=seed % 365)).isoformat()


def ops_hash(order: list[list[str]]) -> str:
    return hashlib.sha256(json.dumps(order).encode()).hexdigest()[:16]
