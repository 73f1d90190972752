"""Correctness checks against the catalog's DuckDB oracles.

Each catalog entry's oracle SQL runs in DuckDB over the same Parquet
tables the Spark side read.  Answers are cached on disk per table
directory (``data/sf<scale>``, fixed files) and oracle text, so the
DuckDB cost is paid on a checkout's first run only.  The
comparison itself is ``tests.oracle_compare.compare_results`` — the same
order-insensitive check the repository's oracle tests use.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_compare import compare_results, normalize


class Oracle:
    def __init__(self, tables_dir: str, cache_dir: str) -> None:
        self.tables_dir = tables_dir
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for f in sorted(os.listdir(self.tables_dir)):
                t = f.removesuffix(".parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.tables_dir}/{t}.parquet')"
                )
        return self._con

    def answer(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Column names and normalized rows of ``sql``, from the cache when
        this table directory has answered the same text before."""
        key = hashlib.sha256(
            (os.path.basename(self.tables_dir) + "\0" + sql).encode()
        ).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                d = json.load(fh)
            return d["cols"], [tuple(r) for r in d["rows"]]
        res = self._connect().execute(sql)
        cols = [d[0] for d in res.description]
        # store normalized cells: compare_results normalizes again, and a
        # normalized cell is a string that normalizes to itself
        rows = normalize(cols, res.fetchall())
        cols = sorted(cols)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"cols": cols, "rows": rows}, fh)
        os.replace(tmp, path)
        return cols, rows

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
        """Mismatch descriptions between a Spark result and the oracle
        (empty when they agree)."""
        dcols, drows = self.answer(sql)
        return compare_results(cols, rows, dcols, drows)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
