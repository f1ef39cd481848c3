"""Result checks: DuckDB oracle digests with an on-disk cache.

A result is reduced to a digest of its sorted column names and its
rows sorted after normalising each value (the engine's own parity-test
rule: floats compared bitwise, NaN and NULL as markers, arrays
elementwise), so Spark and DuckDB results compare exactly and
order-insensitively. The expected digest of a query is cached under a
key of its oracle SQL text and the bytes of the input tables, so a
changed oracle or fixture is never served a stale answer.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np


def _norm_val(v):
    if v is None:
        return ("null",)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return ("nan",) if math.isnan(v) else ("f", v)
    if isinstance(v, (bool, int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a",) + tuple(_norm_val(x) for x in v)
    return ("s", str(v))


def digest(pdf) -> tuple[str, int]:
    """(sha256 of the normalised result, row count) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_norm_val(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest(), len(rows)


def input_digest(fixture_dir: str, tables) -> str:
    h = hashlib.sha256()
    for t in sorted(tables):
        with open(os.path.join(fixture_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()


class Oracle:
    """Expected digests for registered oracle SQL over one fixture."""

    def __init__(self, fixture_dir: str, cache_dir: str, tables):
        self.fixture_dir = fixture_dir
        self.cache_dir = cache_dir
        self.tables = tuple(tables)
        self._inputs = input_digest(fixture_dir, self.tables)
        self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self.tables:
                path = os.path.join(self.fixture_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        return self._con

    def expected(self, sql: str) -> tuple[str, int]:
        key = hashlib.sha256((sql + "\0" + self._inputs).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                rec = json.load(f)
            return rec["digest"], rec["rows"]
        d, n = digest(self._duck().execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({"digest": d, "rows": n}, f)
        os.replace(path + ".tmp", path)
        return d, n
