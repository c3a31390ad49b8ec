"""DuckDB oracle answers for the declared queries, cached on disk.

An answer is keyed by a hash of the oracle SQL text plus the stat
(size, mtime) of every base data file, so a changed query or changed
data misses the cache; everything else is computed once per checkout.
Rows are canonicalised with ``tools/compare.py``'s ``canon_rows``, the
same order-insensitive comparison the correctness gate uses.
"""

from __future__ import annotations

import hashlib
import json
import os

from tools.compare import canon_rows
from tools.oracle_common import TABLES, connect_with_views


def data_stat(data_dir: str) -> list:
    out = []
    for t in TABLES:
        st = os.stat(os.path.join(data_dir, f"{t}.parquet"))
        out.append([t, st.st_size, st.st_mtime_ns])
    return out


class OracleCache:
    def __init__(self, cache_dir: str, data_dir: str):
        self.cache_dir = cache_dir
        self.data_dir = data_dir
        self._stat = json.dumps(data_stat(data_dir))
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256((sql + self._stat).encode()).hexdigest()[:20]
        return os.path.join(self.cache_dir, f"{name}-{key}.json")

    def answer(self, name: str, sql: str) -> tuple[list, list]:
        """(sorted column names, canonical sorted rows) of ``sql``."""
        path = self._path(name, sql)
        if os.path.exists(path):
            with open(path) as f:
                doc = json.load(f)
            return doc["cols"], [tuple(r) for r in doc["rows"]]
        if self._con is None:
            self._con = connect_with_views(self.data_dir)
        res = self._con.execute(sql)
        cols, rows = canon_rows([d[0] for d in res.description],
                                res.fetchall())
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump({"name": name, "cols": cols, "rows": rows}, f)
        os.replace(tmp, path)
        return cols, rows

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(cols: list, rows: list, expected: tuple[list, list]) -> str:
    """'' when the Spark result matches the oracle answer, else a short
    reason."""
    sc, s_rows = canon_rows(cols, rows)
    dc, d_rows = expected
    if sc != dc:
        return f"schema spark={sc} oracle={dc}"
    if len(s_rows) != len(d_rows):
        return f"rowcount spark={len(s_rows)} oracle={len(d_rows)}"
    bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
    return f"{bad} differing rows" if bad else ""
