"""Driver-checkable END-TO-END entries for the round-7 dbt lifecycle
surface: ``--full-refresh``, seeds, ``--store-failures``, and model
hooks. Same contract as engine_e2e.py: each entry exercises the REAL
runner/write machinery in a temp warehouse, then returns on-disk state
(read back, never the in-memory plan) for the hash compare against a
relational DuckDB oracle of the same end state.

Determinism: inputs are slices of the shared parquet tables or literal
CSV seeds; per-row double arithmetic (×1.1, ×1.2) is IEEE-deterministic;
txlog version numbers and history ops are deterministic because every
commit in the sequence is unconditional.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from .catalog import query, table

_ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]


@query(
    "full_refresh_e2e",
    section="S6 + dbt --full-refresh (ref fct_orders.sql:1-5): the "
    "incremental lookback can never see an old-history correction; a "
    "full refresh rebuilds from scratch as a NEW txlog version with the "
    "pre-refresh state still time-travelable",
    oracle="""
WITH src1 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
),
src2 AS (  -- the historical correction: pre-June prices restated x1.2
  SELECT o_orderkey, o_custkey, o_orderstatus,
    CASE WHEN o_orderdate < TIMESTAMP '1996-06-01'
         THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
    o_orderdate
  FROM src1
),
upd AS (  -- what the incremental lookback window sees of src2
  SELECT o_orderkey, o_custkey, o_orderstatus,
    o_totalprice * 1.1 AS o_totalprice, o_orderdate
  FROM src2 WHERE o_orderdate >= TIMESTAMP '1996-12-01'
)
SELECT 'incremental' AS phase, * FROM upd
UNION ALL
SELECT 'incremental', * FROM src1
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
UNION ALL
SELECT 'full_refresh', * FROM src2
""",
)
def full_refresh_e2e(spark, sf_dir):
    """Three runs of one incremental-merge model through the real
    Runner: (1) initial load of src1; (2) plain incremental against the
    CORRECTED source src2 — the lookback window (≥ 1996-12) merges ×1.1,
    but the pre-June restatement is invisible (defining incremental
    blind spot); (3) ``full_refresh=True`` — the is_incremental() branch
    is forced false and the table overwrite-materializes to exactly
    src2. Both phases are returned FROM TIME TRAVEL on the same txlog
    table: the refresh is one new version, history intact (the --full-
    refresh contract on a transactional backend)."""
    from furchild_spark.engine.registry import ModelRegistry, Runner
    from furchild_spark.engine.txlog import TxTable

    base = tempfile.mkdtemp(prefix="furchild_fullrefresh_e2e_")
    reg = ModelRegistry()

    @reg.model(name="orders_inc", materialized="incremental",
               unique_key="o_orderkey")
    def orders_inc(ctx):
        df = ctx.source("orders_src")
        if ctx.is_incremental():
            df = df.filter(
                F.col("o_orderdate") >= F.lit("1996-12-01").cast("timestamp")
            ).withColumn("o_totalprice", F.col("o_totalprice") * F.lit(1.1))
        return df

    o = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
    src1 = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    src2 = src1.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderdate") < F.lit("1996-06-01").cast("timestamp"),
            F.col("o_totalprice") * F.lit(1.2),
        ).otherwise(F.col("o_totalprice")),
    )
    state = {"orders_src": src1}
    kw = dict(sources=lambda n: state[n], warehouse_dir=base,
              table_format="txlog")
    Runner(spark, reg, incremental=False, **kw).ref("orders_inc")
    state["orders_src"] = src2
    Runner(spark, reg, incremental=True, **kw).ref("orders_inc")
    Runner(spark, reg, incremental=True, full_refresh=True, **kw).ref("orders_inc")

    tx = TxTable(spark, f"{base}/orders_inc")
    v = tx.current_version()
    pre = tx.snapshot(version=v - 1).select(
        F.lit("incremental").alias("phase"), *_ORDER_COLS
    )
    post = tx.snapshot(version=v).select(
        F.lit("full_refresh").alias("phase"), *_ORDER_COLS
    )
    return pre.unionByName(post)


_SEED_ROWS = [
    ("AFRICA", "AF"), ("AMERICA", "AM"), ("ASIA", "AS"),
    ("EUROPE", "EU"), ("MIDDLE EAST", "ME"),
]


@query(
    "seed_ref_e2e",
    section="dbt seed (engine extra): a version-controlled CSV registers "
    "as a model, materializes via the runner, and participates in ref() "
    "— a downstream model joins it against a bronze table",
    oracle="""
SELECT n_name, code AS region_code
FROM nation
JOIN region ON n_regionkey = r_regionkey
JOIN (VALUES ('AFRICA','AF'), ('AMERICA','AM'), ('ASIA','AS'),
             ('EUROPE','EU'), ('MIDDLE EAST','ME')) v(r_name, code)
  USING (r_name)
""",
)
def seed_ref_e2e(spark, sf_dir):
    """The seed lifecycle end-to-end: a region→code CSV written to a
    seeds dir, registered through engine.seeds.register_seeds, then a
    downstream model ``ctx.ref()``s it (broadcast-sized dim, the classic
    seed use) joined to the nation/region bronze tables. The returned
    table is the DOWNSTREAM model read back from the warehouse — proving
    the seed materialized, entered the DAG, and resolved through ref()
    like any model."""
    from furchild_spark.engine.registry import ModelRegistry, Runner
    from furchild_spark.engine.seeds import register_seeds

    base = tempfile.mkdtemp(prefix="furchild_seed_e2e_")
    seeds_dir = os.path.join(base, "seeds")
    os.makedirs(seeds_dir)
    with open(os.path.join(seeds_dir, "region_codes.csv"), "w") as fh:
        fh.write("r_name,code\n")
        for name, code in _SEED_ROWS:
            fh.write(f"{name},{code}\n")

    reg = ModelRegistry()
    register_seeds(reg, seeds_dir)

    @reg.model(name="nation_coded", materialized="table")
    def nation_coded(ctx):
        n = ctx.source("nation").select("n_name", "n_regionkey")
        r = ctx.source("region").select("r_regionkey", "r_name")
        codes = ctx.ref("region_codes")
        return (
            n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .join(F.broadcast(codes), on="r_name")
            .select("n_name", F.col("code").alias("region_code"))
        )

    runner = Runner(
        spark, reg,
        sources=lambda name: table(spark, sf_dir, name),
        warehouse_dir=os.path.join(base, "wh"),
    )
    runner.run(["nation_coded"])
    assert runner.lineage["nation_coded"]["refs"] == ["region_codes"]
    return runner.ref("nation_coded")


@query(
    "store_failures_e2e",
    section="dbt --store-failures (engine extra): a failing check's "
    "failure ROWS land in the warehouse audit dir for triage; the entry "
    "returns the STORED table read back from disk",
    oracle="""
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE o_orderstatus NOT IN ('F', 'O')
""",
)
def store_failures_e2e(spark, sf_dir):
    """An accepted_values check that genuinely fails on the shared data
    (status 'P' is outside the accepted set), run with
    ``store_failures_dir`` set: run_checks writes the failure rows as
    parquet under ``<dir>/<check_name>`` next to counting them (an
    opaque callable like this one is its own count). The returned
    DataFrame reads that AUDIT TABLE off disk — the oracle hash proves
    the stored rows are exactly the check's failure set, not a
    re-computation."""
    from furchild_spark.engine import checks as C
    from furchild_spark.engine.registry import ModelRegistry, Runner

    base = tempfile.mkdtemp(prefix="furchild_storefail_e2e_")
    reg = ModelRegistry()

    @reg.model(name="orders_slim", materialized="table")
    def orders_slim(ctx):
        return ctx.source("orders").select("o_orderkey", "o_orderstatus")

    runner = Runner(
        spark, reg,
        sources=lambda name: table(spark, sf_dir, name),
        warehouse_dir=os.path.join(base, "wh"),
    )
    suite = [C.Check(
        "orders_status_accepted", "orders_slim",
        lambda df: C.accepted_values(df, "o_orderstatus", ["F", "O"]),
    )]
    sf_dir_out = os.path.join(base, "wh", "_test_failures")
    results = C.run_checks(runner.ref, suite, store_failures_dir=sf_dir_out)
    assert results[0].failures > 0 and results[0].failures_path
    return spark.read.parquet(results[0].failures_path)


@query(
    "hooks_e2e",
    section="dbt pre/post-hooks (engine extra): a post-hook OPTIMIZE "
    "(txlog compaction) fires after each incremental append — small "
    "files fold back to the clustered layout automatically, audit trail "
    "in the commit history",
    oracle="""
SELECT 'data' AS kind, o_orderstatus AS key,
  CAST(COUNT(*) AS BIGINT) AS n
FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderstatus
UNION ALL
SELECT 'op', op, CAST(n AS BIGINT)
FROM (VALUES ('overwrite', 1), ('append', 2), ('compact', 2)) v(op, n)
""",
)
def hooks_e2e(spark, sf_dir):
    """An incremental-append model declares
    ``engine.hooks.compact_txlog`` as its post_hook; three runner runs
    (initial 1995 load + two appends of disjoint year slices) each fire the hook
    after materialization. The initial single-file overwrite compacts
    as a no-op (no version), each append leaves 2 live files that the
    hook folds to 1 — so the commit history is EXACTLY overwrite,
    (append, compact) ×2, and the final table carries all three year
    slices. Returned state = per-status row counts from the compacted
    table UNION the history op counts — both halves read from disk."""
    from furchild_spark.engine.hooks import compact_txlog
    from furchild_spark.engine.registry import ModelRegistry, Runner
    from furchild_spark.engine.txlog import TxTable

    base = tempfile.mkdtemp(prefix="furchild_hooks_e2e_")
    reg = ModelRegistry()

    @reg.model(name="orders_hooked", materialized="incremental",
               incremental_strategy="append",
               post_hook=compact_txlog(small_file_mb=64))
    def orders_hooked(ctx):
        return ctx.source("orders_slice")

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_orderdate")
    slices = [
        o.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")),
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        ),
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        ),
    ]
    state = {}
    for i, sl in enumerate(slices):
        state["orders_slice"] = sl
        Runner(spark, reg, sources=lambda n: state[n],
               warehouse_dir=base, incremental=i > 0,
               table_format="txlog", tx_target_files=1).ref("orders_hooked")
    tx = TxTable(spark, f"{base}/orders_hooked")
    ops: dict[str, int] = {}
    live_files = len(tx._read_manifest(tx.current_version())["files"])
    assert live_files == 1, f"post-hook compaction left {live_files} files"
    for h in tx.history():
        ops[h["op"]] = ops.get(h["op"], 0) + 1
    data = (
        tx.snapshot()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("data").alias("kind"),
                F.col("o_orderstatus").alias("key"), "n")
    )
    op_rows = spark.createDataFrame(
        [("op", k, v) for k, v in sorted(ops.items())],
        "kind string, key string, n long",
    )
    return data.unionByName(op_rows)


@query(
    "empty_build_e2e",
    section="engine extra: dbt 1.8 --empty (schema-only dry run) — the "
    "whole DAG executes against zero-row inputs, materializing real "
    "schemas and no data; the dry-run artifact is MARKED so the first "
    "real incremental run takes the from-scratch branch instead of "
    "merging its lookback window into a zero-row base (the silent "
    "history-loss trap a naive --empty implementation inherits)",
    oracle="""
SELECT 'real' AS phase, o_orderkey, o_custkey, o_orderstatus,
       o_totalprice, o_orderdate
FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
""",
)
def empty_build_e2e(spark, sf_dir):
    """Two runs of one lookback-incremental model through the real
    Runner: (1) ``empty=True`` — sources limit(0), the table
    materializes as a ZERO-ROW parquet artifact with the full schema
    and a dry-run marker; (2) a normal ``incremental=True`` run — the
    marker makes has_existing() ignore the artifact, so is_incremental()
    is False and the model loads FULL history unmodified. The hash gate
    proves exactly that: if the dry run had left a poisoned 'existing'
    table, phase 'real' would hold only the post-1996-12 lookback window
    with restated (x1.1) prices and the value hash would diverge. The
    dry phase is localCheckpoint-ed before the real run overwrites the
    path, so it contributes its actual on-disk rows (zero) to the hash,
    not a stale lazy re-read."""
    from furchild_spark.engine import materialize as mat
    from furchild_spark.engine.registry import ModelRegistry, Runner

    base = tempfile.mkdtemp(prefix="furchild_empty_e2e_")

    def mk_registry():
        reg = ModelRegistry()

        @reg.model(name="orders_lb", materialized="incremental",
                   unique_key="o_orderkey")
        def orders_lb(ctx):
            df = ctx.source("orders_src")
            if ctx.is_incremental():
                df = df.filter(
                    F.col("o_orderdate")
                    >= F.lit("1996-12-01").cast("timestamp")
                ).withColumn(
                    "o_totalprice", F.col("o_totalprice") * F.lit(1.1)
                )
            return df

        return reg

    src = table(spark, sf_dir, "orders").select(*_ORDER_COLS).filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    kw = dict(sources=lambda n: src, warehouse_dir=base)
    Runner(spark, mk_registry(), empty=True, **kw).ref("orders_lb")
    pre = mat.read_table(spark, f"{base}/orders_lb").localCheckpoint()
    Runner(spark, mk_registry(), incremental=True, **kw).ref("orders_lb")
    post = mat.read_table(spark, f"{base}/orders_lb")
    return pre.select(F.lit("dry").alias("phase"), *_ORDER_COLS).unionByName(
        post.select(F.lit("real").alias("phase"), *_ORDER_COLS)
    )
