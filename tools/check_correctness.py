"""CLI replica of the driver's correctness gate (see also
tests/test_catalog_oracle.py, the pytest form of the same comparison).

Usage:
    python tools/check_correctness.py                # all catalog queries
    python tools/check_correctness.py name1 name2    # a subset

Compares each Spark catalog query against its DuckDB oracle at
$SPARK_GRAFT_TEST_SF_DIR (default sf0.01): row count, column names, and
exact values on rows sorted by all columns. Exit 1 on any mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from furchild_spark.engine.session import get_spark  # noqa: E402
from furchild_spark.queries import QUERIES, oracle  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    names = sys.argv[1:] or sorted(QUERIES)
    spark = get_spark(app_name="check_correctness", shuffle_partitions=8)
    con = oracle.connect(SF_DIR)

    failures = 0
    for name in names:
        q = QUERIES[name]
        sdf = q.fn(spark, SF_DIR)
        spark_rows = [r.asDict() for r in sdf.collect()]
        if q.oracle is None:
            print(f"  {name}: rows-only ({len(spark_rows)} rows) — no oracle")
            continue
        problem = oracle.mismatch(spark_rows, sdf.columns, con, q.oracle)
        if problem:
            failures += 1
            print(f"✗ {name}: {problem}")
        else:
            print(f"✓ {name} ({len(spark_rows)} rows)")
    print(f"\n{len(names) - failures}/{len(names)} green")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
