"""The benchmark's own check: a result that does not match the oracle is
reported, with the op that delivered it.

    python3 -m pytest perfbench/test_oracle.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "tests")]

import oracle  # noqa: E402

COLS = ["symbol", "close"]
ROWS = [("ABC", 1.5), ("XYZ", 2.0)]


def _attempt(op: str) -> dict:
    return {"op": op, "error": None, "results": [(op, op, COLS, ROWS)]}


def test_matching_hash_passes():
    attempts = [_attempt("q")]
    assert oracle.check(attempts, lambda q: oracle.result_hash(COLS, ROWS)) == []
    assert attempts[0]["ok"]


def test_wrong_expected_hash_is_reported():
    attempts = [_attempt("good"), _attempt("bad")]
    right = oracle.result_hash(COLS, ROWS)
    notes = oracle.check(attempts, lambda q: right if q == "good" else "0" * 64)
    assert [a["ok"] for a in attempts] == [True, False]
    assert len(notes) == 1 and notes[0].startswith("bad: ")


def test_hash_ignores_row_and_column_order():
    flipped = [(r[1], r[0]) for r in reversed(ROWS)]
    assert oracle.result_hash(COLS[::-1], flipped) == oracle.result_hash(COLS, ROWS)


def test_raised_op_is_reported():
    attempts = [{"op": "boom", "error": "ValueError: x", "results": []}]
    notes = oracle.check(attempts, lambda q: "")
    assert not attempts[0]["ok"] and notes == ["boom: raised ValueError: x"]
