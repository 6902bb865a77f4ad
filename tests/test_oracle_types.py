"""Oracle output-type whitelist: every oracle's result columns must be
types whose pandas/Arrow conversion is identical to the Spark side's.

Round 4's only driver-red row (mixture_report) was caused by exactly
this: DuckDB types SUM(BIGINT) as HUGEINT, whose .df() conversion is
float64 while Spark's is int64 — a value-hash mismatch invisible to a
repr()-based local compare because both sides yield Python ints. The
fix class is structural, so enforce it structurally: no oracle may emit
HUGEINT / DECIMAL / FLOAT (f32) / unsigned / interval columns. The
parquet-native INTEGER passthroughs are allowed — both engines read the
same int32 physical type.

Runs on DuckDB only (no Spark session): relation .types are resolved
from the query plan without executing it fully at scale.
"""

from __future__ import annotations

import pytest

from furchild_spark.queries import QUERIES, oracle

SF = "/root/testdata/sf0.001"
ALLOWED = {"VARCHAR", "BOOLEAN", "BIGINT", "INTEGER", "DOUBLE",
           "DATE", "TIMESTAMP"}


@pytest.fixture(scope="module")
def con():
    return oracle.connect(SF)


def test_every_oracle_output_type_is_whitelisted(con):
    bad = {}
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        rel = con.sql(q.oracle)
        flags = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) not in ALLOWED
        ]
        if flags:
            bad[name] = flags
    assert not bad, f"non-portable oracle output types: {bad}"
