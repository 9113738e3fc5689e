"""Output checks for registry queries against their DuckDB oracles.

The expected result of a query is computed by DuckDB from the query's
oracle SQL over the same parquet tables — never by the engine under
test — and cached on disk keyed by query name, data directory and a
hash of the oracle SQL, so a changed oracle is recomputed.

The comparison is the project's parity rule (``tools/parity.py``):
same column names, same row count, and equal values once columns are
sorted by name and rows are sorted by all columns (NaN compares as
NULL). It is restated here rather than imported, so that a change to
the tools never changes what the benchmark checks.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle

# DuckDB types whose value representation the engine's LONG never has
BAD_DUCK_TYPES = {"HUGEINT", "UHUGEINT"}


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = None
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return out, [cols[i] for i in order]


def digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


class Oracles:
    """Expected results for one data directory, computed on demand."""

    def __init__(self, work: str, data_dir: str):
        self.data_dir = data_dir
        self.cache_dir = os.path.join(work, "oracle", os.path.basename(data_dir))
        os.makedirs(self.cache_dir, exist_ok=True)
        self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for f in sorted(os.listdir(self.data_dir)):
                self._con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{f}')"
                )
        return self._con

    def path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{name}-{key}.pkl")

    def expected(self, name: str, sql: str) -> dict:
        """``{"columns", "rows", "digest"}`` of the oracle's result,
        normalized; raises if the oracle leaks a type the engine never
        produces."""
        path = self.path(name, sql)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = self._duck()
        rel = con.sql(sql)
        bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
               if str(t) in BAD_DUCK_TYPES]
        if bad:
            raise ValueError(f"{name}: oracle returns int128 columns {bad}")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows, cols = normalize([tuple(r) for r in res.fetchall()], cols)
        rec = {"columns": cols, "rows": rows, "digest": digest(rows)}
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(rec, f)
        os.replace(tmp, path)
        return rec

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def check(df, expected: dict) -> str | None:
    """Compare an engine result with the oracle's; return None when they
    agree, else a one-line reason."""
    got_rows = [tuple(r) for r in df.collect()]
    rows, cols = normalize(got_rows, df.columns)
    if cols != expected["columns"]:
        return f"columns {cols} != {expected['columns']}"
    if len(rows) != len(expected["rows"]):
        return f"row count {len(rows)} != {len(expected['rows'])}"
    if digest(rows) == expected["digest"]:
        return None
    n_diff = sum(a != b for a, b in zip(rows, expected["rows"]))
    if n_diff:
        return f"{n_diff} rows differ"
    return None
