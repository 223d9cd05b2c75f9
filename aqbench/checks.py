"""Output checks: order-insensitive comparison of two row sets.

Values are canonicalised by the repository's oracle-test helper
(``tests/conftest.py`` ``_canon``: floats to 9 significant digits, NaN
as a string, sequences as tuples), so the benchmark and the oracle tests
judge equality the same way. The comparison returns a failure line
instead of raising, and sorts rows by their string form, which orders
rows that mix None and values.
"""

from __future__ import annotations

import duckdb

from tests.conftest import _canon as canon


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples of canonical values, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(canon(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple(str(v) for v in t))


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = list(df.columns)
    return cols, canon_rows(cols, [tuple(r) for r in df.collect()])


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    cols = list(rel.columns)
    return cols, canon_rows(cols, rel.fetchall())


def diff(name: str, left: tuple[list[str], list[tuple]],
         right: tuple[list[str], list[tuple]]) -> str | None:
    """None when both sides hold the same columns and rows, else a one-line
    reason."""
    (lc, lr), (rc, rr) = left, right
    if sorted(lc) != sorted(rc):
        return f"{name}: columns differ: {sorted(lc)} vs {sorted(rc)}"
    if len(lr) != len(rr):
        return f"{name}: row counts differ: {len(lr)} vs {len(rr)}"
    bad = [(a, b) for a, b in zip(lr, rr) if a != b]
    if bad:
        return f"{name}: {len(bad)} rows differ, first: {bad[0]}"
    if not lr:
        return f"{name}: no rows on either side"
    return None


def duck_with_views(fixture_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """A connection with views on the fixture's ``tables`` only (the
    conftest helper of the same name registers every engine table, and
    DuckDB refuses a view over a missing file)."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{fixture_dir}/{t}.parquet')")
    return con
