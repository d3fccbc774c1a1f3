"""Correctness gate: workload queries against their DuckDB twins.

The comparison is ``tests/oracle_harness.compare``, imported unchanged:
row count, column names and an order-insensitive multiset of values.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path
from types import SimpleNamespace


class Gate:
    def __init__(self, root: Path, sf_dir: str, oracles: dict[str, str]) -> None:
        import duckdb

        spec = importlib.util.spec_from_file_location("oracle_harness", root / "tests" / "oracle_harness.py")
        self._harness = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._harness)
        self._oracles = oracles
        self._con = duckdb.connect()
        for table in self._harness.TABLES:
            path = Path(sf_dir) / f"{table}.parquet"
            if path.exists():
                self._con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    def check(self, name: str, columns: list[str], rows: list) -> str | None:
        """Compare one query's collected result with its twin; the reason
        it failed, or None. The twin runs after the query, so twins that
        read what the query wrote see this run's files."""
        if name not in self._oracles:
            return "no DuckDB twin in oracle_sql()"
        try:
            cur = self._con.execute(self._oracles[name])
            cols = [d[0] for d in cur.description]
            result = SimpleNamespace(columns=columns, collect=lambda: rows)
            ok, issues, _, _ = self._harness.compare(name, result, cur.fetchall(), cols)
        except Exception as e:  # a raising query is a gate failure, not a crash
            return f"{type(e).__name__}: {str(e)[:300]}"
        return None if ok else "; ".join(issues)[:300]

    def close(self) -> None:
        self._con.close()
