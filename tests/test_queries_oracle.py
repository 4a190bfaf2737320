"""Every registered query with an oracle is hash-checked against DuckDB
at sf0.01 — the same gate the driver applies (CORRECTNESS_r{N}.json).

The sweep is the suite's largest wall-clock block, and each compare is
two INDEPENDENT engine runs (a Spark job + a DuckDB connection), so
the whole registry is precomputed once over a small thread pool —
Spark's scheduler interleaves the concurrent actions across its local
cores, and every DuckDB run owns a private connection. Each
parametrized test then just asserts its own query's precomputed
verdict, keeping per-query failure isolation. Memoizing plan builders
share one session registry (``session.memo``): concurrent misses on a
key each build, one build wins and every loser is released.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from psx_data_pipeline_spark.plans import ORACLE_SQL, QUERIES
from tests.conftest import SF_CORRECT
from tests.oracle_check import compare

_POOL = 12  # 198 queries / 32 local cores: 8 threads left ~40 s idle tail
_results: dict[str, tuple[bool, str]] = {}
_lock = threading.Lock()


def _check(spark, name: str) -> tuple[bool, str]:
    try:
        df = QUERIES[name](spark, SF_CORRECT)
        if name not in ORACLE_SQL:
            # rows-only check for non-SQL-expressible operators
            return df.count() >= 0, "rows-only"
        return compare(df, ORACLE_SQL[name], SF_CORRECT)
    except Exception as exc:  # noqa: BLE001 — surface in the param test
        return False, f"{type(exc).__name__}: {exc}"


def _sweep(spark) -> dict[str, tuple[bool, str]]:
    with _lock:
        if not _results:
            # memo-owning builders first, serially: their consumers
            # (ann_recall, semdedup, change_log_format, pq_recall)
            # then read a settled memo instead of racing to build it
            from psx_data_pipeline_spark.plans import MEMO_OWNERS

            owners = [n for n in sorted(QUERIES) if n in MEMO_OWNERS]
            rest = [n for n in sorted(QUERIES) if n not in MEMO_OWNERS]
            for n in owners:
                _results[n] = _check(spark, n)
            with ThreadPoolExecutor(max_workers=_POOL) as pool:
                for n, res in zip(rest, pool.map(
                        lambda n: _check(spark, n), rest)):
                    _results[n] = res
    return _results


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    ok, msg = _sweep(spark)[name]
    assert ok, f"{name}: {msg}"
