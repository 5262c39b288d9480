"""Correctness gate: engine outputs against independent references,
compared as multisets (order-insensitive)."""

from __future__ import annotations

from collections import Counter


def _norm(rows) -> Counter:
    return Counter(tuple(None if v is None else str(v) for v in r) for r in rows)


def oracle(events_parquet: str, sql: str) -> tuple[list[str], Counter]:
    """Run a catalog DuckDB oracle over ``events_parquet``; return its
    column names and its rows."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_parquet}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, _norm(cur.fetchall())
    finally:
        con.close()


def spark_rows(rows, cols: list[str]) -> Counter:
    return _norm(tuple(r[c] for c in cols) for r in rows)


def mismatches(expected: Counter, actual: Counter) -> int:
    """Rows missing plus rows extra."""
    return sum(((expected - actual) + (actual - expected)).values())
