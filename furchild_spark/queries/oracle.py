"""The DuckDB side of the catalog's correctness gate, shared by
``tests/test_catalog_oracle.py``, ``tests/test_oracle_types.py``,
``tools/check_correctness.py`` and ``tools/driver_sim.py``.

:func:`connect` opens a DuckDB connection with one view per fixture
table; :func:`mismatch` compares a Spark result with an oracle's the way
the driver does — column names, row count, then every value with zero
tolerance on rows sorted by all columns.
"""

from __future__ import annotations

import math

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def connect(sf_dir: str):
    """A DuckDB connection (UTC) with a view per table in :data:`TABLES`
    over ``<sf_dir>/<table>.parquet``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, cols) -> list:
    """Rows (dicts) as sorted tuples of (type name, repr) over ``cols``:
    an exact compare, except that -0.0 is spelled 0.0 and every NaN one
    way."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0
            vals.append((type(v).__name__, repr(v)))
        out.append(tuple(vals))
    out.sort()
    return out


def mismatch(spark_rows, spark_cols, con, sql: str) -> str | None:
    """Run the oracle ``sql`` on ``con`` and compare it with the Spark
    result (``spark_rows`` as dicts over ``spark_cols``). Returns the
    first difference found — columns, then row count, then values — or
    None when they match."""
    ora = con.sql(sql)
    ora_cols = [d[0] for d in ora.description]
    ora_rows = [dict(zip(ora_cols, t)) for t in ora.fetchall()]
    cols = sorted(spark_cols)
    if cols != sorted(ora_cols):
        return f"column mismatch spark={cols} oracle={sorted(ora_cols)}"
    if len(spark_rows) != len(ora_rows):
        return f"row count spark={len(spark_rows)} oracle={len(ora_rows)}"
    bad = [
        (i, a, b) for i, (a, b) in enumerate(
            zip(normalize(spark_rows, cols), normalize(ora_rows, cols))
        ) if a != b
    ]
    if bad:
        return f"{len(bad)} row mismatches; first: {bad[0]}"
    return None
