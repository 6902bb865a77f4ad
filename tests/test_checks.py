"""Run the ported dbt test suite (generic + singular) on the fixture DAG:
error-severity checks must have 0 failure rows; warn-severity checks run
and report (dbt semantics — reference tests/*.sql are all severity warn)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from furchild_spark.engine import checks as C
from furchild_spark.engine.registry import Runner
from furchild_spark.sources.fixtures import INGEST, write_fixture_parquet


@pytest.fixture(scope="module")
def runner(spark, tmp_path_factory):
    from furchild_spark.models import registry

    base = tmp_path_factory.mktemp("checks")
    paths = write_fixture_parquet(str(base / "bronze"))
    return Runner(
        spark,
        registry,
        sources=lambda n: spark.read.parquet(paths[n]),
        warehouse_dir=str(base / "wh"),
        now=INGEST + dt.timedelta(days=1),
    )


def test_suite_runs_and_errors_pass(runner):
    results = C.run_checks(runner.ref, source=runner.source)
    assert len(results) == len(C.CHECKS)
    hard_failures = [
        r for r in results if r.severity == "error" and r.failures > 0
    ]
    assert not hard_failures, f"failing error-severity checks: {hard_failures}"
    # warn checks execute too; fixture data intentionally trips some
    warn_trips = [r for r in results if r.severity == "warn" and r.failures > 0]
    assert isinstance(warn_trips, list)


def test_generic_builders_detect_seeded_violations(spark):
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", -1), (None, "b", 3)], "id long, k string, v long"
    )
    assert C.not_null(df, "id").count() == 1
    assert C.unique(df, "k").count() == 2
    assert C.accepted_values(df, "k", ["a"]).count() == 1
    assert C.expression_is_true(df, "v >= 0").count() == 1
    parents = spark.createDataFrame([(1,)], "id long")
    assert C.relationships(df, "id", parents, "id").count() == 1  # id=2 orphan
    assert C.unique_combination_of_columns(df, ["k", "v"]).count() == 0

    # one frame violating every built-in kind, edge cases included: NULL
    # keys never duplicate (NaN and -0.0 do), a NULL expression result is
    # no failure, accepted_values compares numerically when declared so.
    # run_checks folds these into one aggregate; each count must be exactly
    # the rows the check's own fn returns.
    edge = spark.createDataFrame(
        [
            (1, "x", 1, 5, "0", float("nan")),
            (1, "x", 1, -1, "01", float("nan")),
            (None, "x", None, None, "true", 0.0),
            (None, "x", None, 2, None, -0.0),
            (2, "y", 2, 0, "2", None),
            (3, None, 2, -3, "1.0", None),
        ],
        "id long, a string, b long, v long, s string, d double",
    )
    suite = [
        C.Check("id_not_null", "m", C._generic(C.not_null, "id")),
        C.Check("id_unique", "m", C._generic(C.unique, "id")),
        C.Check("d_unique", "m", C._generic(C.unique, "d")),
        C.Check("ab_unique", "m", C._generic(C.unique_combination_of_columns, ["a", "b"])),
        C.Check("v_nonneg", "m", C._generic(C.expression_is_true, "v >= 0")),
        C.Check("s_in_0_1", "m", C._generic(C.accepted_values, "s", [0, 1])),
        C.Check("a_in_x", "m", C._generic(C.accepted_values, "a", ["x"])),
        C.Check("b_le_1", "m", C._singular(lambda: F.col("b") > 1)),
        C.Check("id_not_3", "m", lambda d: d.filter(F.col("id") == 3)),
    ]
    got = C.run_checks(lambda n: edge, suite)
    assert [(r.name, r.failures) for r in got] == [
        (c.name, c.fn(edge).count()) for c in suite
    ]
    assert [r.failures for r in got] == [2, 2, 4, 2, 2, 2, 1, 2, 1]


def test_accepted_values_numeric_and_null_semantics(spark):
    """r10 ADVICE: numeric declarations compare NUMERICALLY like dbt's
    compiled `NOT IN (0, 1)` — DOUBLE 1.0 and string '01' both match the
    declared 1; malformed strings ('true') are violations via try_cast;
    NULLs PASS (dbt's NOT IN three-valued logic), for strings too."""
    df = spark.createDataFrame(
        [("1.0",), ("01",), ("0",), ("true",), (None,)], "v string"
    )
    bad = [r["v"] for r in C.accepted_values(df, "v", [0, 1]).collect()]
    assert bad == ["true"]
    dbl = spark.createDataFrame([(1.0,), (0.0,), (2.5,), (None,)], "v double")
    bad = [r["v"] for r in C.accepted_values(dbl, "v", [0, 1]).collect()]
    assert bad == [2.5]
    s = spark.createDataFrame([("a",), ("b",), (None,)], "v string")
    assert [r["v"] for r in C.accepted_values(s, "v", ["a"]).collect()] == ["b"]


def test_source_freshness_statuses(spark):
    now = F.lit(dt.datetime(2024, 1, 10, 0, 0, 0)).cast("timestamp")
    fresh = spark.createDataFrame(
        [(dt.datetime(2024, 1, 9, 12, 0, 0),)], "loaded_at timestamp"
    )
    warn = spark.createDataFrame(
        [(dt.datetime(2024, 1, 8, 0, 0, 0),)], "loaded_at timestamp"
    )
    error = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 0, 0),)], "loaded_at timestamp"
    )
    assert C.source_freshness(fresh, "loaded_at", now).first()["status"] == "fresh"
    assert C.source_freshness(warn, "loaded_at", now).first()["status"] == "warn"
    assert C.source_freshness(error, "loaded_at", now).first()["status"] == "error"


def test_stg_order_items_dedup_keep_latest(spark):
    """The keep-latest window in stg_order_items (ref stg_order_items.sql:
    44-47) — exercised directly with a re-ingested duplicate line, since
    the global fixtures honor the bronze unique-id contract."""
    import datetime as dt

    from furchild_spark.models import registry
    from furchild_spark.sources.fixtures import bronze_fixtures

    pdfs = bronze_fixtures()
    items = pdfs["transaction_items"].copy()
    dup = items.iloc[0].copy()
    dup["_AIRBYTE_EXTRACTED_AT"] = dup["_AIRBYTE_EXTRACTED_AT"] + dt.timedelta(days=2)
    dup["PRICE"] = 12345.0
    items.loc[len(items)] = dup

    def sources(name):
        pdf = items if name == "transaction_items" else pdfs[name]
        return spark.createDataFrame(pdf)

    r = Runner(spark, registry, sources=sources, warehouse_dir=None)
    out = r.ref("stg_order_items")
    winner = out.filter(F.col("order_item_id") == str(dup["ID"])).collect()
    assert len(winner) == 1
    assert float(winner[0]["price"]) == 12345.0


# ---------------------------------------------------------------------------
# Runner.build(): the dbt-build lifecycle (freshness gate → DAG → test suite)
# ---------------------------------------------------------------------------

def test_build_full_dag_with_checks_and_freshness(runner):
    """VERDICT r2 #5: one entry point runs the whole DAG plus every ported
    test with warn/error semantics. Fixture data must build clean: all
    models materialize, every check in the suite executes, no
    error-severity failures, and both freshness-gated sources report
    within threshold (runner.now = INGEST + 1 day, warn_after = 24h)."""
    res = runner.build(checks=C.CHECKS, freshness=C.FRESHNESS)
    assert set(res.models) == set(runner.registry.names())
    assert len(res.checks) == len(C.CHECKS)
    assert not res.errors, f"build errors: {res.errors}"
    assert {f.source for f in res.freshness} == {
        "transactions", "transaction_items"
    }
    assert all(f.status in ("fresh", "warn") for f in res.freshness)


def test_build_raises_on_error_severity_check(spark):
    """An error-severity check with failure rows must fail the build; the
    same failure at warn severity must not (dbt severity semantics)."""
    from furchild_spark.engine.registry import (
        BuildError, ModelRegistry, Runner,
    )

    reg = ModelRegistry()

    @reg.model(name="m", materialized="view")
    def m(ctx):
        return ctx.source("src")

    src = spark.createDataFrame([(1,), (None,)], "id int")
    mk = lambda sev: [  # noqa: E731
        C.Check("m_id_not_null", "m", lambda df: df.filter(F.col("id").isNull()),
                severity=sev)
    ]
    r = Runner(spark, reg, sources={"src": src}, warehouse_dir=None,
               now=dt.datetime(2024, 1, 1))
    with pytest.raises(BuildError, match="m_id_not_null"):
        r.build(checks=mk("error"), freshness=[])
    res = r.build(checks=mk("warn"), freshness=[])
    assert [w.name for w in res.warnings] == ["m_id_not_null"]
    # raise_on_error=False reports instead of raising
    res2 = r.build(checks=mk("error"), freshness=[], raise_on_error=False)
    assert [e.name for e in res2.errors] == ["m_id_not_null"]


def test_build_freshness_gate_blocks_stale_source(spark):
    """A source whose loaded_at lag exceeds error_after must abort the
    build BEFORE any model materializes (stale bronze must not propagate
    downstream)."""
    from furchild_spark.engine.registry import (
        BuildError, ModelRegistry, Runner,
    )

    reg = ModelRegistry()
    built = []

    @reg.model(name="m", materialized="view")
    def m(ctx):
        built.append(1)
        return ctx.source("src")

    src = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),)], "_AIRBYTE_EXTRACTED_AT timestamp"
    )
    r = Runner(spark, reg, sources={"src": src}, warehouse_dir=None,
               now=dt.datetime(2024, 1, 10))  # 216h lag > 72h error_after
    specs = [C.FreshnessSpec("src")]
    with pytest.raises(BuildError, match="stale sources"):
        r.build(freshness=specs)
    assert not built, "models must not build past a failed freshness gate"
    res = r.build(freshness=specs, raise_on_error=False)
    assert res.freshness[0].status == "error" and not res.models


def test_run_checks_threaded_matches_serial(runner):
    """threads=4 must return the SAME results in the SAME order as the
    serial suite — counts are independent jobs, order is the contract
    (dbt prints tests in manifest order regardless of completion)."""
    serial = C.run_checks(runner.ref, source=runner.source)
    threaded = C.run_checks(runner.ref, threads=4, source=runner.source)
    assert [(r.name, r.failures) for r in serial] == [
        (r.name, r.failures) for r in threaded
    ]


def test_run_checks_one_query_per_model(spark, runner):
    """The suite costs one SQL execution per model with built-in checks
    plus one per other check (the two relationship checks), not one per
    check. Counted in the SQL status store, which sees actions, not the
    jobs AQE splits them into."""
    C.run_checks(runner.ref, source=runner.source)  # materialize the models
    store = spark._jsparkSession.sharedState().statusStore()
    listeners = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        listeners.waitUntilEmpty()
        recent = store.executionsList(max(0, store.executionsCount() - 500), 500)
        return [recent.apply(i).executionId() for i in range(recent.size())]

    last = max(execution_ids(), default=-1)
    C.run_checks(runner.ref, source=runner.source)
    started = [i for i in execution_ids() if i > last]
    relationships = [c for c in C.CHECKS if c.fn is None]
    models = {c.model for c in C.CHECKS if c.fn is not None}
    assert (len(models), len(relationships), len(C.CHECKS)) == (22, 2, 86)
    assert len(started) == len(models) + len(relationships)


def test_warn_if_error_if_threshold_ladder(spark):
    """dbt warn_if/error_if: conditions on the FAILURE COUNT decide the
    status ladder (error_if -> warn_if -> pass); the '!=0' defaults
    reproduce plain severity semantics, so declared thresholds are the
    only behavior change."""
    df = spark.range(50).select(
        F.when(F.col("id") < 20, None).otherwise(F.col("id")).alias("k")
    )  # exactly 20 NULL failures for not_null(k)

    def mk(**kw):
        c = C.Check("t", "m", lambda d: C.not_null(d, "k"), **kw)
        return C.run_checks(lambda n: df, checks=[c])[0]

    # defaults: 20 failures at severity=error -> error
    r = mk()
    assert r.status == "error" and not r.passed
    # error_if '>100': 20 failures -> warn (warn_if default !=0 met)
    r = mk(error_if=">100")
    assert r.status == "warn" and r.passed and r.failures == 20
    # both thresholds above the count -> pass
    r = mk(warn_if=">30", error_if=">100")
    assert r.status == "pass" and r.passed
    # error_if '>=20' met exactly -> error
    r = mk(error_if=">=20")
    assert r.status == "error"
    # severity=warn NEVER errors, whatever error_if says (dbt gating)
    r = mk(severity="warn", error_if="!=0")
    assert r.status == "warn" and r.passed


def test_threshold_condition_validation():
    with pytest.raises(ValueError, match="malformed"):
        C._count_cond(5, "~= 3")
    assert C._count_cond(5, " > 4 ") and not C._count_cond(5, "==0")
