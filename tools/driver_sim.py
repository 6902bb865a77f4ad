"""Simulate the driver's correctness loop and time every catalog entry.

Runs each queries() entry at sf0.01 (Spark collect) AND its oracle_sql()
(DuckDB), in registration order, printing per-entry wall seconds and a
running total — the feedback loop for fitting all 86 entries inside the
driver's time box.

Usage: python tools/driver_sim.py [--limit N] [--no-oracle] [--default-conf]
  --default-conf simulates a driver session with Spark defaults
  (200 shuffle partitions) instead of our tuned get_spark().
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--no-oracle", action="store_true")
    ap.add_argument("--default-conf", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from furchild_spark.queries import oracle

    if args.default_conf:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("driver_sim")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "24g")
            .getOrCreate()
        )
    else:
        from furchild_spark.engine.session import get_spark

        spark = get_spark(app_name="driver_sim")

    con = oracle.connect(SF_DIR)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(qs)
    if args.limit:
        names = names[: args.limit]

    t_all = time.monotonic()
    slow = []
    for i, name in enumerate(names):
        t0 = time.monotonic()
        df = qs[name](spark, SF_DIR)
        rows = df.collect()
        t_spark = time.monotonic() - t0
        t1 = time.monotonic()
        n_oracle = None
        if not args.no_oracle and name in oracles:
            n_oracle = len(con.execute(oracles[name]).fetchall())
        t_ddb = time.monotonic() - t1
        tot = time.monotonic() - t_all
        slow.append((t_spark + t_ddb, name))
        print(
            f"{i+1:3d} {name:42s} spark={t_spark:6.2f}s ddb={t_ddb:5.2f}s "
            f"rows={len(rows):6d} oracle={n_oracle} cum={tot:7.1f}s",
            flush=True,
        )
    print(f"TOTAL {time.monotonic() - t_all:.1f}s for {len(names)} entries")
    for dt, name in sorted(slow, reverse=True)[:10]:
        print(f"  slow: {name} {dt:.2f}s")


if __name__ == "__main__":
    main()
