"""Output checks, run outside the timed loop.

Registry ops are compared with their DuckDB oracle through an
order-insensitive hash of the rows, canonicalized exactly as the test
suite's differential check does (``tests/conftest.py:_canon_frame``).
Oracle hashes are cached by input fingerprint and oracle text.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))
from conftest import _canon_cell, _canon_frame  # noqa: E402


def frame_hash(pdf: pd.DataFrame) -> str:
    cols, rows = _canon_frame(pdf)
    h = hashlib.sha256(json.dumps(cols).encode())
    for row in rows:
        h.update(json.dumps(row, ensure_ascii=False).encode())
    return f"{len(rows)}:{h.hexdigest()}"


def rows_hash(cols: list[str], rows: list[tuple]) -> str:
    """Same hash for rows given as Python values, in any order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for row in canon:
        h.update(json.dumps(row, ensure_ascii=False).encode())
    return f"{len(canon)}:{h.hexdigest()}"


def dir_fingerprint(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle hashes over one fixture directory, memoized on disk."""

    def __init__(self, fixture_dir: str, cache_path: str):
        self.fixture_dir = fixture_dir
        self.cache_path = cache_path
        self.fingerprint = dir_fingerprint(fixture_dir)
        self._con = None
        try:
            with open(cache_path) as fh:
                self._cache = json.load(fh)
        except (OSError, ValueError):
            self._cache = {}
        self.hits = 0

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for name in sorted(os.listdir(self.fixture_dir)):
                if name.endswith(".parquet"):
                    self._con.execute(
                        f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(self.fixture_dir, name)}'"
                    )
        return self._con

    def hash(self, sql: str) -> str:
        key = hashlib.sha256((self.fingerprint + "\0" + sql).encode()).hexdigest()
        if key in self._cache:
            self.hits += 1
            return self._cache[key]
        value = frame_hash(self._duck().execute(sql).df())
        self._cache[key] = value
        return value

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
        tmp = self.cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._cache, fh)
        os.replace(tmp, self.cache_path)
        if self._con is not None:
            self._con.close()


def self_test() -> None:
    """A planted one-row error must change the hash; reordering must not."""
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.25], "s": ["a", "b", "c"]})
    planted = good.copy()
    planted.loc[1, "s"] = "B"
    cols, rows = list(good.columns), list(good.itertuples(index=False, name=None))
    checks = {
        "hash depends on row/column order":
            frame_hash(good) == frame_hash(good.iloc[[2, 0, 1]][["s", "v", "k"]]),
        "planted one-row error not reported": frame_hash(good) != frame_hash(planted),
        "missing row not reported": frame_hash(good) != frame_hash(good.iloc[:2]),
        "row and frame hashes differ": rows_hash(cols, rows) == frame_hash(good),
        "planted one-row error in stored rows not reported":
            rows_hash(cols, [(9, *rows[0][1:])] + rows[1:]) != rows_hash(cols, rows),
    }
    failed = [what for what, ok in checks.items() if not ok]
    if failed:
        raise RuntimeError(f"output-check self-test failed: {failed}")
