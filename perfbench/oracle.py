"""Result hashing and the DuckDB oracle, with a per-checkout cache.

A delivered result is reduced to one hash with the canonicalisation of
``tests/oracle_check.py`` (sorted lower-cased column names, then every
row rendered by ``_canon`` and sorted), so a hash match here is the
same verdict ``compare`` gives. The oracle side depends only on the
fixture data and the oracle SQL, so its hash is cached per fixture set
(the digest of its manifest entries) and per hash of the SQL text, and
computed once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import os

from oracle_check import _canon_rows, duckdb_run


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    cols = [c.lower() for c in columns]
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    h.update(f"#{len(rows)}".encode())
    for line in _canon_rows(cols, rows):
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


class OracleCache:
    """Oracle hashes keyed by ``<data id>:<sha256 of the SQL>``, kept in
    one JSON file and rewritten atomically when an entry is added."""

    def __init__(self, path: str, sf_dir: str, data_id: str):
        self.path, self.sf_dir, self.data_id = path, sf_dir, data_id
        self.entries: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.entries = json.load(fh)

    def expected(self, sql: str) -> str:
        key = f"{self.data_id}:{hashlib.sha256(sql.encode()).hexdigest()}"
        if key not in self.entries:
            cols, rows = duckdb_run(sql, self.sf_dir)
            self.entries[key] = result_hash(cols, rows)
            tmp = f"{self.path}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(self.entries, fh, indent=0, sort_keys=True)
            os.replace(tmp, self.path)
        return self.entries[key]


def check(attempts: list[dict], expected_for) -> list[str]:
    """Mark each attempt ``ok`` or not and return the failure notes.

    ``attempts`` hold ``op``, ``error`` (None when the op delivered) and
    ``results``: ``(label, query name, columns, rows)`` tuples, one per
    delivered output. ``expected_for(query name)`` gives the oracle hash.
    """
    notes = []
    for a in attempts:
        a["ok"] = a["error"] is None
        if not a["ok"]:
            notes.append(f"{a['op']}: raised {a['error']}")
            continue
        for label, qname, cols, rows in a["results"]:
            got, want = result_hash(cols, rows), expected_for(qname)
            if got != want:
                a["ok"] = False
                notes.append(f"{a['op']}: {label} hash {got[:12]} != oracle {want[:12]}")
    return notes
