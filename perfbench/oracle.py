"""Order-insensitive comparison of query results, Spark against DuckDB.

Rows are normalized the way the repository's oracle tests compare them
(type name and repr; -0.0 and NaN mapped to one spelling), columns taken
in sorted order and rows sorted. Floats alone compare within
``FLOAT_TOL``: the model oracles round double sums to 6 decimals, and the
order in which Spark's tasks add them up can move that last digit from
one run to the next.
"""

from __future__ import annotations

import math

FLOAT_TOL = 2e-6  # absolute; relative 1e-12 beyond magnitude 2e6


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("NaN", "NaN")
        return ("float", v + 0.0)  # -0.0 -> 0.0
    return (type(v).__name__, repr(v))


def _sort_key(row):
    return tuple((t, round(v, 3)) if t == "float" else (t, v) for t, v in row)


def canonical(rows: list[dict], cols: list[str]) -> tuple[list[str], list[tuple]]:
    cols = sorted(cols)
    return cols, sorted((tuple(_norm(r[c]) for c in cols) for r in rows), key=_sort_key)


def spark_rows(df):
    return canonical([r.asDict() for r in df.collect()], df.columns)


def duckdb_rows(con, sql: str):
    rel = con.sql(sql)
    cols = [d[0] for d in rel.description]
    return canonical([dict(zip(cols, t)) for t in rel.fetchall()], cols)


def mismatch(got, want) -> str | None:
    """None when ``got`` matches ``want`` (both from :func:`canonical`),
    else a one-line description of the first difference."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {gcols}, oracle {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows, oracle {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        for c, (a, b) in zip(gcols, zip(g, w)):
            if a == b:
                continue
            if a[0] == b[0] == "float" and abs(a[1] - b[1]) <= max(
                    FLOAT_TOL, 1e-12 * abs(b[1])):
                continue
            return f"row {i} column {c}: {a[1]!r}, oracle {b[1]!r}"
    return None


def duckdb_connection(views: dict[str, str] | None = None):
    """A UTC DuckDB connection with one view per ``name -> parquet path``.
    Two threads: oracles run beside the Spark session's start-up."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    con.execute("SET enable_progress_bar = false")
    for name, path in (views or {}).items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con
