"""The dbt-style CLI drives the same Runner the tests use — assert each
subcommand's happy path and exit-code contract in-process (argv parsing
included; no subprocess, the session is shared)."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest

from furchild_spark.cli import main

FROZEN = "2024-03-05T00:00:00"


@pytest.fixture(scope="module")
def bronze(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_bronze"))
    assert main(["gen-fixtures", "--bronze", d]) == 0
    return d


@pytest.fixture(scope="module")
def built_wh(bronze, spark, tmp_path_factory):
    """One full `run` of the DAG into a parquet warehouse, built once per
    module. Tests that need a built warehouse only as set-up take a copy
    (:func:`_copy_built`), so none of them sees another's writes."""
    wh = str(tmp_path_factory.mktemp("cli_built") / "wh")
    assert main(
        ["run", "--bronze", bronze, "--warehouse", wh, "--now", FROZEN],
        spark=spark,
    ) == 0
    return wh


def _copy_built(built_wh, dst) -> str:
    shutil.copytree(built_wh, str(dst))
    return str(dst)


def test_ls_lists_models(capsys):
    assert main(["ls"]) == 0
    out = capsys.readouterr().out
    assert "stg_orders" in out and "fct_orders" in out
    assert "incremental" in out


def test_run_subset(bronze, spark, capsys):
    rc = main(
        ["run", "--bronze", bronze, "--models", "stg_orders", "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_orders" in out


def test_freshness_exit_zero_when_fresh(bronze, spark):
    rc = main(["freshness", "--bronze", bronze, "--now", FROZEN], spark=spark)
    assert rc == 0


def test_freshness_exit_one_when_stale(bronze, spark):
    # Fixture _AIRBYTE_EXTRACTED_AT tops out ~58 days after FROZEN; a year
    # later every source is past error_after_hours.
    stale_now = (
        dt.datetime.fromisoformat(FROZEN) + dt.timedelta(days=365)
    ).isoformat()
    rc = main(["freshness", "--bronze", bronze, "--now", stale_now], spark=spark)
    assert rc == 1


def test_build_and_test_green(bronze, spark, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    rc = main(
        ["build", "--bronze", bronze, "--warehouse", wh, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    assert "built" in capsys.readouterr().out
    rc = main(
        ["test", "--bronze", bronze, "--warehouse", wh, "--now", FROZEN],
        spark=spark,
    )
    out = capsys.readouterr().out
    # `test` now runs SOURCE tests too (dbt parity). Every model/unit
    # check passes on the fixtures; the ONE honest failure is the
    # HAS_VAT accepted_values source test — the fixtures deliberately
    # carry 'true'/'false' string forms because the REFERENCE's own SQL
    # defends against them (fct_order_items.sql:61), i.e. its declared
    # source contract contradicts its observed data. dbt would report
    # the same red test.
    assert rc == 1
    assert "1 error-severity failures" in out
    failing = [
        ln for ln in out.splitlines()
        if "ERROR" in ln and "rows" in ln
    ]
    assert len(failing) == 1 and "has_vat" in failing[0], failing


def test_show_prints_rows(bronze, spark, capsys):
    rc = main(
        ["show", "stg_customers", "--bronze", bronze, "--now", FROZEN, "-n", "3"],
        spark=spark,
    )
    assert rc == 0
    assert "customer_id" in capsys.readouterr().out


def test_dag_prints_observed_lineage(bronze, spark, capsys):
    rc = main(["dag", "--bronze", bronze, "--now", FROZEN], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    line = next(l for l in out.splitlines() if l.startswith("fct_orders "))
    assert "ref:stg_orders" in line
    assert any("src:" in l for l in out.splitlines())


def test_dag_json_shape(bronze, spark, capsys):
    import json as _json

    rc = main(["dag", "--bronze", bronze, "--now", FROZEN, "--json"],
              spark=spark)
    assert rc == 0
    lineage = _json.loads(capsys.readouterr().out)
    assert "stg_orders" in lineage["fct_orders"]["refs"]


def test_freshness_defaults_to_wall_clock(bronze, spark, capsys):
    """--now omitted must mean the REAL clock (dbt's run_started_at), not
    a silent None that reports every source fresh and crashes the lag
    printout. The 2024 fixtures are years stale against any real run."""
    rc = main(["freshness", "--bronze", bronze], spark=spark)
    assert rc == 1
    out = capsys.readouterr().out
    assert "error" in out


def test_graph_selector_ancestors(bronze, spark, capsys):
    """dbt-style +model: building fct_orders must pull its staging
    ancestors into the run set."""
    rc = main(
        ["run", "--bronze", bronze, "--models", "+fct_orders",
         "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built fct_orders" in out
    assert "built stg_orders" in out
    assert "built stg_transactions" in out


def test_graph_selector_descendants(bronze, spark, capsys):
    rc = main(
        ["run", "--bronze", bronze, "--models", "stg_orders+",
         "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_orders" in out
    assert "built fct_orders" in out  # downstream of stg_orders
    assert "built stg_customers" not in out  # not in stg_orders' cone


def test_graph_selector_unknown_model_errors(bronze, spark):
    with pytest.raises(SystemExit):
        main(
            ["run", "--bronze", bronze, "--models", "+nope", "--now", FROZEN],
            spark=spark,
        )


def test_show_explain_prints_plan(bronze, spark, capsys):
    rc = main(
        ["show", "stg_orders", "--bronze", bronze, "--now", FROZEN,
         "--explain"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    # the plan-lint discipline, operationalized for users: the printed
    # plan must show the staging model's not-null key filters reaching
    # the bronze scan (PushedFilters), not a post-scan Filter only
    assert "PushedFilters: [" in out
    assert "IsNotNull" in out


def test_graph_selector_malformed_is_usage_error(bronze, spark):
    """Malformed selectors exit 2 (argparse's usage-error code), not 1."""
    with pytest.raises(SystemExit) as e:
        main(["run", "--bronze", bronze, "--models", "++fct_orders",
              "--now", FROZEN], spark=spark)
    assert e.value.code == 2


def test_show_explain_writes_nothing_to_warehouse(bronze, spark, tmp_path,
                                                  capsys):
    wh = str(tmp_path / "wh_explain")
    rc = main(
        ["show", "fct_orders", "--bronze", bronze, "--warehouse", wh,
         "--now", FROZEN, "--explain"],
        spark=spark,
    )
    assert rc == 0
    assert "Physical Plan" in capsys.readouterr().out
    import os

    assert not os.path.exists(wh) or os.listdir(wh) == []


def test_parse_now_normalizes_aware_iso_to_naive_utc():
    """Offset-carrying ISO --now values must land as NAIVE UTC — the
    freshness lag subtracts naive bronze timestamps, and aware-minus-
    naive raises TypeError (r5 ADVICE)."""
    from furchild_spark.cli import _parse_now

    got = _parse_now("2024-03-05T02:00:00+02:00")
    assert got.tzinfo is None
    assert got == dt.datetime(2024, 3, 5, 0, 0, 0)
    # naive input passes through untouched
    assert _parse_now(FROZEN) == dt.datetime.fromisoformat(FROZEN)


def test_test_models_filters_check_suite(bronze, spark, tmp_path, capsys):
    """`test --models stg_items` runs ONLY checks attached to stg_items
    (dbt `dbt test --models` semantics) — previously the flag was
    silently ignored and the full suite ran (r5 ADVICE)."""
    from furchild_spark.engine import checks as C

    wh = str(tmp_path / "wh_testsel")
    assert main(
        ["run", "--bronze", bronze, "--warehouse", wh, "--models",
         "stg_items", "--now", FROZEN],
        spark=spark,
    ) == 0
    capsys.readouterr()
    rc = main(
        ["test", "--bronze", bronze, "--warehouse", wh, "--models",
         "stg_items", "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    want = sum(1 for c in C.CHECKS if c.model == "stg_items")
    assert want > 0
    assert f"{want} checks" in out
    # nothing outside the selection ran
    assert "stg_transactions_order_id_unique" not in out


def test_run_threads_flag(bronze, spark, capsys):
    """`run --threads 4` (dbt --threads analog) builds the selected cone
    concurrently — same outputs as a serial run, just submitted from a
    thread pool with per-thread FAIR scheduler pools."""
    rc = main(
        ["run", "--bronze", bronze, "--models", "+fct_orders",
         "--threads", "4", "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built fct_orders" in out
    assert "built stg_orders" in out


def test_maintain_history_compact_vacuum(bronze, spark, tmp_path, capsys):
    """The OPTIMIZE/VACUUM ops surface: after a full + incremental txlog
    build, `maintain` prints history, compacts small files into a new
    bit-identical version, vacuums old versions, and leaves the table
    readable at head."""
    wh = str(tmp_path / "wh_maint")
    for extra in ([], ["--incremental"]):
        assert main(
            ["run", "--bronze", bronze, "--warehouse", wh,
             "--table-format", "txlog", "--models", "fct_orders",
             "--now", FROZEN] + extra,
            spark=spark,
        ) == 0
    capsys.readouterr()
    rc = main(
        ["maintain", "--warehouse", wh, "--history", "--compact",
         "--vacuum", "--retain-last", "1", "--min-age-seconds", "0"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "fct_orders v1 overwrite" in out
    assert "compact ->" in out
    assert "vacuum removed" in out

    from furchild_spark.engine.txlog import TxTable

    assert TxTable(spark, f"{wh}/fct_orders").snapshot().count() > 0


def test_maintain_requires_an_action(tmp_path):
    import os

    wh = str(tmp_path / "wh_empty")
    os.makedirs(wh)
    with pytest.raises(SystemExit) as e:
        main(["maintain", "--warehouse", wh])
    assert e.value.code == 2


def test_docs_manifest_shape(bronze, spark, tmp_path, capsys):
    """`docs` (dbt docs generate analog) emits one JSON artifact with
    configs, observed dependencies, resolved column types, and attached
    checks — enough to navigate the warehouse without executing it."""
    import json

    out_path = str(tmp_path / "docs.json")
    rc = main(
        ["docs", "--bronze", bronze, "--output", out_path, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    doc = json.loads(open(out_path).read())
    fo = doc["nodes"]["fct_orders"]
    assert fo["materialized"] == "incremental"
    assert "order_sk" in fo["columns"]
    assert "stg_orders" in fo["depends_on"]["refs"]
    items = doc["nodes"]["stg_items"]
    assert any(
        c["name"].startswith("stg_items") for c in items["checks"]
    )
    # dbt 1.5 governance surface on every node (dbt manifest parity)
    assert fo["access"] == "protected" and fo["group"] is None
    assert doc["nodes"]["agg_orders_daily"]["group"] == "reporting"
    assert "transactions" in doc["sources"]
    assert any(f["source"] == "transactions" for f in doc["freshness"])


def test_freshness_writes_sources_artifact(bronze, spark, tmp_path, capsys):
    """dbt's sources.json analog: freshness --output writes per-source
    status + lag + the declared thresholds, matching the printed table."""
    import json

    out_path = str(tmp_path / "sources.json")
    rc = main(
        ["freshness", "--bronze", bronze, "--now", FROZEN,
         "--output", out_path],
        spark=spark,
    )
    printed = capsys.readouterr().out
    art = json.loads(open(out_path).read())
    assert art["results"], "empty artifact"
    statuses = set()
    for r in art["results"]:
        assert set(r) == {
            "source", "status", "lag_hours", "loaded_at_col",
            "warn_after_hours", "error_after_hours",
        }
        assert r["source"] in printed and r["status"] in printed
        statuses.add(r["status"])
    assert rc == (1 if "error" in statuses else 0)


def test_show_and_freshness_honor_vars(bronze, spark, capsys):
    """--vars flows uniformly into EVERY subcommand's runner (run/build
    and the probe paths alike): `show stg_items` with an overridden
    vat_rate must print different ex-VAT prices than the default — the
    var reaches the model through the same _make_runner seam freshness
    and show --explain use."""
    assert main(
        ["show", "stg_items", "--bronze", bronze, "-n", "500"], spark=spark
    ) == 0
    base = capsys.readouterr().out
    assert main(
        ["show", "stg_items", "--bronze", bronze, "-n", "500",
         "--vars", '{"vat_rate": 1.0}'],
        spark=spark,
    ) == 0
    overridden = capsys.readouterr().out
    assert base != overridden  # vat division visibly changed prices
    # freshness accepts --vars without changing its own semantics
    rc = main(
        ["freshness", "--bronze", bronze, "--now", FROZEN,
         "--vars", '{"vat_rate": 1.0}'],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert "lag=" in out and rc in (0, 1)


def test_docs_catalog_matches_warehouse_and_lineage(
    bronze, spark, built_wh, tmp_path, capsys
):
    """dbt docs generate with a built warehouse: (1) the artifact's
    node/edge set equals Runner.lineage; (2) the catalog section's
    column types equal the MATERIALIZED schemas (read back with Spark);
    (3) row counts equal the tables' counts; (4) descriptions and the
    declared contracts are present; (5) the --html render is a
    self-contained page naming every model. The catalog is built from
    parquet footers only — no Spark job."""
    import json
    import os

    from furchild_spark.engine.registry import Runner
    from furchild_spark.models import registry

    wh = _copy_built(built_wh, tmp_path / "docs_wh")
    capsys.readouterr()
    out_path = str(tmp_path / "docs.json")
    html_path = str(tmp_path / "catalog.html")
    rc = main(
        ["docs", "--bronze", bronze, "--warehouse", wh,
         "--output", out_path, "--html", html_path, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    doc = json.loads(open(out_path).read())

    # (1) node/edge parity with an independent probe Runner
    probe = Runner(
        spark, registry,
        sources=lambda n: spark.read.parquet(os.path.join(bronze, f"{n}.parquet")),
        now=__import__("datetime").datetime.fromisoformat(FROZEN),
    )
    for name in registry.names():
        probe.ref(name)
    assert set(doc["nodes"]) == set(probe.lineage)
    for name, lin in probe.lineage.items():
        assert doc["nodes"][name]["depends_on"] == lin, name

    # (2)+(3) catalog stats vs materialized reality
    cat = doc["catalog"]
    assert cat, "warehouse catalog section missing"
    for name in ("stg_orders", "fct_orders", "dim_orders"):
        t = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(wh, name)
        )
        want = {f.name: f.dataType.simpleString() for f in t.schema.fields}
        assert cat[name]["columns"] == want, name
        assert cat[name]["row_count"] == t.count(), name
        assert cat[name]["bytes"] > 0 and cat[name]["files"] >= 1
    # views are correctly absent from the catalog half
    for name, node in doc["nodes"].items():
        if node["materialized"] in ("view", "ephemeral"):
            assert name not in cat

    # (4) descriptions + contracts surfaced
    assert doc["nodes"]["dim_orders"]["description"].startswith(
        "Order dim"
    )
    assert doc["nodes"]["dim_orders"]["contract"]["columns"]["order_sk"] == "string"

    # (5) static HTML render — models AND the exposures section
    html = open(html_path).read()
    assert html.startswith("<!doctype html>")
    for name in doc["nodes"]:
        assert name in html
    assert "exposure:dashboard" in html and "orders_dashboard" in html


def test_docs_catalog_txlog_backend(bronze, spark, tmp_path, capsys):
    """The catalog half on the txlog backend answers from the commit
    manifest: row counts O(1), version surfaced."""
    import json

    wh = str(tmp_path / "docs_txwh")
    assert main(
        ["run", "--bronze", bronze, "--warehouse", wh, "--now", FROZEN,
         "--table-format", "txlog", "--models", "stg_orders"],
        spark=spark,
    ) == 0
    capsys.readouterr()
    out_path = str(tmp_path / "docs_tx.json")
    rc = main(
        ["docs", "--bronze", bronze, "--warehouse", wh,
         "--table-format", "txlog", "--output", out_path, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    doc = json.loads(open(out_path).read())
    entry = doc["catalog"]["stg_orders"]
    from furchild_spark.engine.txlog import TxTable

    tx = TxTable(spark, str(tmp_path / "docs_txwh" / "stg_orders"))
    assert entry["row_count"] == tx.count()
    assert entry["version"] == tx.current_version()
    assert entry["columns"] == {
        f.name: f.dataType.simpleString()
        for f in tx.snapshot().schema.fields
    }


def test_defer_to_prod_warehouse(bronze, spark, built_wh, tmp_path, capsys):
    """dbt --defer: a dev run of ONE mart against a built prod warehouse
    reads its staging upstreams from prod — the dev warehouse ends up
    holding exactly the selected model, nothing else rebuilt."""
    import os

    prod = _copy_built(built_wh, tmp_path / "prod_wh")
    capsys.readouterr()

    dev = str(tmp_path / "dev_wh")
    rc = main(
        ["run", "--bronze", bronze, "--warehouse", dev, "--models",
         "fct_orders", "--defer-to", prod, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built fct_orders" in out
    dev_tables = {
        d for d in os.listdir(dev) if os.path.isdir(os.path.join(dev, d))
    }
    assert dev_tables == {"fct_orders"}, dev_tables
    # deferred upstreams recorded in run results
    import json as _json

    rr = _json.load(open(os.path.join(dev, "run_results.json")))["results"]
    assert rr["stg_orders"]["status"] == "deferred"
    # and the deferred-input build matches the all-local prod build
    prod_n = spark.read.parquet(os.path.join(prod, "fct_orders")).count()
    dev_n = spark.read.parquet(os.path.join(dev, "fct_orders")).count()
    assert prod_n == dev_n > 0


def test_run_full_refresh_flag(bronze, spark, tmp_path, capsys):
    """`run --full-refresh -s fct_orders` forces the from-scratch branch
    of an incremental model and overwrite-materializes it (reference
    fct_orders.sql:1-5 config shape)."""
    wh = str(tmp_path / "wh")
    rc = main(["run", "--bronze", bronze, "--warehouse", wh,
               "--models", "fct_orders", "--now", FROZEN], spark=spark)
    assert rc == 0
    baseline = capsys.readouterr().out
    assert "built fct_orders" in baseline
    # incremental re-run, then a full refresh — both succeed and the
    # refreshed table matches the initial full build's row count
    rc = main(["run", "--bronze", bronze, "--warehouse", wh, "--incremental",
               "--models", "fct_orders", "--now", FROZEN], spark=spark)
    assert rc == 0
    capsys.readouterr()
    rc = main(["run", "--bronze", bronze, "--warehouse", wh, "--incremental",
               "--full-refresh", "--models", "fct_orders", "--now", FROZEN],
              spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "built fct_orders" in out
    import re
    n0 = re.search(r"built fct_orders: (\d+) rows", baseline).group(1)
    n2 = re.search(r"built fct_orders: (\d+) rows", out).group(1)
    assert n0 == n2


def test_clone_zero_copy_dev_warehouse(bronze, spark, tmp_path, capsys):
    """`clone --from-warehouse prod --warehouse dev`: txlog tables
    shallow-clone in O(metadata) — manifests point at prod's files, no
    data bytes copied — and the dev clone serves reads immediately."""
    import os

    prod = str(tmp_path / "prod")
    rc = main(["run", "--bronze", bronze, "--warehouse", prod,
               "--models", "stg_orders", "--table-format", "txlog",
               "--now", FROZEN], spark=spark)
    assert rc == 0
    capsys.readouterr()
    dev = str(tmp_path / "dev")
    rc = main(["clone", "--from-warehouse", prod, "--warehouse", dev,
               "--models", "stg_orders"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "cloned stg_orders" in out and "zero-copy" in out
    # no data bytes landed in the clone
    assert not os.path.isdir(os.path.join(dev, "stg_orders", "data"))
    from furchild_spark.engine.txlog import TxTable

    assert (TxTable(spark, os.path.join(dev, "stg_orders")).snapshot().count()
            == TxTable(spark, os.path.join(prod, "stg_orders")).snapshot().count())
    # cloning onto an existing table refuses (exit 1), prod untouched
    rc = main(["clone", "--from-warehouse", prod, "--warehouse", dev,
               "--models", "stg_orders"], spark=spark)
    assert rc == 1


def test_exclude_subtracts_from_selection(bronze, spark, capsys):
    """dbt --exclude: exclusion wins over --models."""
    rc = main(
        ["run", "--bronze", bronze,
         "--models", "stg_orders,stg_customers",
         "--exclude", "stg_customers", "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_orders" in out
    assert "built stg_customers" not in out


def test_exclude_descendant_cone(bronze, spark, capsys):
    """--exclude fct_orders+ removes fct_orders AND its descendants from
    a stg_orders+ selection; the staging ancestors still build."""
    rc = main(
        ["run", "--bronze", bronze, "--models", "stg_orders+",
         "--exclude", "fct_orders+", "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_orders" in out
    assert "built fct_orders:" not in out  # (":" — fct_order_items differs)
    assert "built fct_customers" not in out  # descendant of fct_orders
    assert "built agg_orders_daily" not in out  # descendant of fct_orders


def test_exclude_without_models_is_everything_minus(bronze, spark, capsys):
    """No --models + --exclude = full registry minus the exclusion (the
    selection can no longer be the implicit None). Exercised through
    `test`, which is selection-driven but builds nothing."""
    rc = main(
        ["test", "--bronze", bronze, "--exclude", "stg_orders",
         "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "stg_orders_order_id_unique" not in out
    assert "checks" in out  # others still ran


def test_exclude_unknown_model_exits_2(bronze, spark):
    with pytest.raises(SystemExit) as e:
        main(
            ["run", "--bronze", bronze, "--exclude", "nope",
             "--now", FROZEN],
            spark=spark,
        )
    assert e.value.code == 2


def test_exclude_rejects_state_selectors(bronze, spark):
    with pytest.raises(SystemExit) as e:
        main(
            ["run", "--bronze", bronze, "--exclude", "state:modified",
             "--now", FROZEN],
            spark=spark,
        )
    assert e.value.code == 2


def test_snapshot_subcommand_scd2_lifecycle(bronze, spark, tmp_path, capsys):
    """`snapshot` materializes ONLY snapshot models: first run
    initializes the SCD2 table, an unchanged re-run opens no new
    versions, and no staging tables leak into the warehouse."""
    import os

    wh = str(tmp_path / "wh_snap")
    rc = main(
        ["snapshot", "--bronze", bronze, "--warehouse", wh, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "snapshotted snap_customers" in out
    listed = set(os.listdir(wh))
    assert "snap_customers" in listed
    assert "stg_customers" not in listed  # snapshots read sources

    first = spark.read.parquet(os.path.join(wh, "snap_customers"))
    n1 = first.count()
    assert {"valid_from", "valid_to"} <= set(first.columns)
    assert first.filter("valid_to IS NULL").count() == n1  # all current

    later = "2024-03-06T00:00:00"
    rc = main(
        ["snapshot", "--bronze", bronze, "--warehouse", wh, "--now", later],
        spark=spark,
    )
    assert rc == 0
    again = spark.read.parquet(os.path.join(wh, "snap_customers"))
    assert again.count() == n1  # nothing changed -> no new versions


def test_snapshot_requires_warehouse(bronze, spark):
    with pytest.raises(SystemExit) as e:
        main(["snapshot", "--bronze", bronze, "--now", FROZEN], spark=spark)
    assert e.value.code == 2


def test_run_empty_flag_writes_schemas_not_data(bronze, spark, tmp_path, capsys):
    """dbt 1.8 `run --empty`: the whole DAG executes against zero-row
    inputs — every table materializes with its REAL schema and zero
    rows (the cheap CI dry run), and a subsequent full run of the same
    warehouse produces identical schemas with data."""
    import os

    wh = str(tmp_path / "wh_empty")
    rc = main(
        ["run", "--bronze", bronze, "--warehouse", wh, "--models",
         "fct_orders", "--now", FROZEN, "--empty"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built fct_orders: 0 rows" in out
    empty_schema = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(os.path.join(wh, "fct_orders")).schema
    }

    wh2 = str(tmp_path / "wh_full")
    rc = main(
        ["run", "--bronze", bronze, "--warehouse", wh2, "--models",
         "fct_orders", "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    capsys.readouterr()
    full = spark.read.parquet(os.path.join(wh2, "fct_orders"))
    # the dry run writes unpartitioned (a partitioned zero-row write has
    # no files to carry a footer), so compare as name->type: same columns,
    # same types, independent of partition-column position
    assert {f.name: f.dataType.simpleString() for f in full.schema} == (
        empty_schema
    )
    assert full.count() > 0


def test_empty_run_manifest_matches_full_run(bronze, spark, built_wh,
                                             tmp_path, capsys):
    """State-selector fingerprints must be dry-run invariant: an --empty
    run's manifest.json equals a full run's (otherwise every model would
    read state:modified after a CI dry run)."""
    import json
    import os

    wh_e = str(tmp_path / "wh_e")
    assert main(["run", "--bronze", bronze, "--warehouse", wh_e,
                 "--now", FROZEN, "--empty"], spark=spark) == 0
    wh_f = _copy_built(built_wh, tmp_path / "wh_f")
    capsys.readouterr()
    m_e = json.load(open(os.path.join(wh_e, "manifest.json")))
    m_f = json.load(open(os.path.join(wh_f, "manifest.json")))
    assert m_e == m_f


def test_exposures_in_ls_dag_docs_and_selector(bronze, spark, tmp_path, capsys):
    """dbt exposures: declared downstream consumers appear in ls (typed),
    dag (as sink edges), docs (their own section), and exposure:NAME
    selects exactly the exposure's dependency set."""
    import json
    import os

    assert main(["ls"]) == 0
    out = capsys.readouterr().out
    assert "orders_dashboard" in out and "type=dashboard" in out
    assert "ltv_model" in out and "type=ml" in out

    assert main(["dag", "--bronze", bronze, "--now", FROZEN],
                spark=spark) == 0
    out = capsys.readouterr().out
    assert "orders_dashboard [exposure:dashboard] <- ref:fct_orders" in out

    doc_path = str(tmp_path / "docs.json")
    assert main(["docs", "--bronze", bronze, "--now", FROZEN,
                 "--output", doc_path], spark=spark) == 0
    capsys.readouterr()
    doc = json.load(open(doc_path))
    assert doc["exposures"]["ltv_model"]["depends_on"] == [
        "cohort_revenue_ltv", "first_channel_ltv"
    ]
    assert doc["exposures"]["orders_dashboard"]["type"] == "dashboard"

    wh = str(tmp_path / "wh_exp")
    rc = main(["run", "--bronze", bronze, "--warehouse", wh, "--models",
               "exposure:ltv_model", "--now", FROZEN], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "built cohort_revenue_ltv" in out
    assert "built first_channel_ltv" in out
    # exposure deps only — unrelated marts not selected
    assert "built agg_orders_daily" not in out
    tables = {d for d in os.listdir(wh) if os.path.isdir(os.path.join(wh, d))}
    assert {"cohort_revenue_ltv", "first_channel_ltv"} <= tables


def test_exposure_selector_rejects_unknown_and_descendants(bronze, spark):
    with pytest.raises(SystemExit):
        main(["run", "--bronze", bronze, "--models", "exposure:nope",
              "--now", FROZEN], spark=spark)
    with pytest.raises(SystemExit):
        main(["run", "--bronze", bronze, "--models", "exposure:ltv_model+",
              "--now", FROZEN], spark=spark)


def test_tag_selector_builds_tagged_models(bronze, spark, tmp_path, capsys):
    """dbt tag selectors: `--models tag:nightly` expands to exactly the
    models carrying the tag (the two daily aggregates), graph operators
    compose (+tag:NAME pulls ancestors), unknown tags are usage errors."""
    import os

    wh = str(tmp_path / "wh_tag")
    rc = main(["run", "--bronze", bronze, "--warehouse", wh, "--models",
               "tag:nightly", "--now", FROZEN], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "built agg_orders_daily" in out
    assert "built agg_items_daily" in out
    tables = {d for d in os.listdir(wh) if os.path.isdir(os.path.join(wh, d))}
    # both tagged models (plus their ref()-materialized upstreams, which
    # build as part of dependency resolution) — but nothing outside the
    # tagged models' ancestor cones
    assert {"agg_orders_daily", "agg_items_daily"} <= tables
    assert "cohort_revenue_ltv" not in tables
    assert "dim_promo" not in tables

    # +tag: pulls ancestor cones
    wh2 = str(tmp_path / "wh_tagplus")
    rc = main(["run", "--bronze", bronze, "--warehouse", wh2, "--models",
               "+tag:nightly", "--now", FROZEN], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "built agg_orders_daily" in out
    assert "built fct_order_items" in out  # upstream of both aggregates

    with pytest.raises(SystemExit):
        main(["run", "--bronze", bronze, "--models", "tag:nope",
              "--now", FROZEN], spark=spark)


def test_at_operator_composes_with_tag_selector(bronze, spark, capsys):
    """r10 ADVICE: dbt's '@' operator composes with ANY selector method —
    '@tag:nightly' = the tagged models, their descendants, and the
    ancestors of those descendants (here: descendant-free aggregates, so
    @ ≡ + on this DAG); previously it fell through to 'unknown model'."""
    assert main(["ls", "--bronze", bronze, "--models", "@tag:nightly",
                 "--now", FROZEN], spark=spark) == 0
    out = capsys.readouterr().out
    assert "agg_orders_daily" in out and "agg_items_daily" in out
    assert "fct_order_items" in out  # ancestor pulled in by @
    assert "dim_promo" not in out
    # '@tag:X+' is contradictory — explicit usage error, not a crash
    with pytest.raises(SystemExit):
        main(["ls", "--bronze", bronze, "--models", "@tag:nightly+",
              "--now", FROZEN], spark=spark)


def test_known_red_allowlist_gates_exit_code(bronze, spark, built_wh,
                                             tmp_path, capsys):
    """r10 ADVICE: `test --known-red NAME` lets CI gate on UNEXPECTED
    failures only — the deliberate HAS_VAT source-contract red is
    reported (KNOWN-RED) but no longer fails the exit code."""
    wh = _copy_built(built_wh, tmp_path / "wh_kr")
    capsys.readouterr()
    rc = main(
        ["test", "--bronze", bronze, "--warehouse", wh, "--now", FROZEN,
         "--known-red", "source_transaction_items_has_vat_accepted_values"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "known-red" in out and "0 error-severity failures" in out


def test_compile_subcommand(capsys):
    """`compile` (dbt compile analog): renders + dialect-rewrites a
    reference model to Spark SQL text without a Spark session; unknown
    models are usage errors."""
    import pytest as _pytest

    from furchild_spark.engine.dbt_yaml import reference_dir

    if reference_dir() is None:
        _pytest.skip("reference dbt project not present")
    assert main(["compile", "stg_transactions"]) == 0
    out = capsys.readouterr().out
    assert "{src__bronze__transactions}" in out
    assert "cast(id as string)" in out          # varchar -> string
    assert "ORDER\\\\-|ORDER|ORD\\\\-" in out or "ORDER\\-|ORDER|ORD\\-" in out
    assert "-- config: {'materialized': 'view'}" in out
    with pytest.raises(SystemExit):
        main(["compile", "nope_model"])


def test_sql_models_flag_runs_reference_sql(bronze, spark, tmp_path,
                                            capsys):
    """`run --sql-models` materializes the DAG with the reference's own
    .sql files as the executable source for every compilable model, and
    the resulting warehouse passes the full ported dbt test suite — the
    reference's SQL output satisfies the reference's own tests, through
    the normal CLI lifecycle."""
    from furchild_spark.engine.dbt_yaml import reference_dir

    if reference_dir() is None:
        pytest.skip("reference dbt project not present")
    wh = str(tmp_path / "wh_sql")
    rc = main(["run", "--bronze", bronze, "--warehouse", wh, "--now",
               FROZEN, "--sql-models"], spark=spark)
    assert rc == 0
    assert "built stg_transactions" in capsys.readouterr().out
    rc = main(
        ["test", "--bronze", bronze, "--warehouse", wh, "--now", FROZEN,
         "--sql-models",
         "--known-red", "source_transaction_items_has_vat_accepted_values"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "0 error-severity failures" in out


def test_model_access_groups_enforced(spark):
    """dbt 1.5 governance (r10 VERDICT #6): a private model only
    resolves from its own group — the cross-group ref errors at PLAN
    time (before anything runs), the same-group ref passes; bad access
    values and group-less private models fail at REGISTRATION."""
    from furchild_spark.engine.registry import ModelRegistry, Runner

    reg = ModelRegistry()

    @reg.model(name="core_base", group="core", access="private")
    def core_base(ctx):
        return ctx.spark.range(3)

    @reg.model(name="core_use", group="core")
    def core_use(ctx):
        return ctx.ref("core_base")

    @reg.model(name="other_use", group="analytics")
    def other_use(ctx):
        return ctx.ref("core_base")

    r = Runner(spark, reg, sources=lambda n: None, warehouse_dir=None)
    assert r.ref("core_use").count() == 3  # same group passes
    with pytest.raises(ValueError, match="private"):
        r.ref("other_use")

    with pytest.raises(ValueError, match="unknown access"):
        reg.model(name="bad", access="secret")(lambda ctx: None)
    with pytest.raises(ValueError, match="group"):
        reg.model(name="bad2", access="private")(lambda ctx: None)


def test_group_selector(bronze, spark, capsys):
    """dbt group: selector — the two reporting-group aggregates (and
    only them) match; unknown groups are usage errors."""
    assert main(["ls", "--models", "group:reporting"]) == 0
    out = capsys.readouterr().out
    assert "agg_orders_daily" in out and "agg_items_daily" in out
    assert "fct_orders" not in out
    with pytest.raises(SystemExit):
        main(["ls", "--models", "group:nope"])


def test_warn_error_flag_promotes_warns(bronze, spark, built_wh, tmp_path,
                                        capsys):
    """dbt --warn-error: the fixtures carry warn-severity check failures
    (email shape, country length) that a default `test` reports but
    passes; under --warn-error they fail the suite — and `build
    --warn-error` exits 1 on the same warnings."""
    wh = _copy_built(built_wh, tmp_path / "wh_we")
    capsys.readouterr()
    # the default run carries exactly ONE error-severity failure — the
    # honest HAS_VAT source-contract red (see test_build_and_test_green)
    assert main(["test", "--bronze", bronze, "--warehouse", wh,
                 "--now", FROZEN], spark=spark) == 1
    out = capsys.readouterr().out
    assert " WARN (" in out and "1 error-severity failures" in out

    rc = main(["test", "--bronze", bronze, "--warehouse", wh,
               "--now", FROZEN, "--warn-error"], spark=spark)
    assert rc == 1
    out = capsys.readouterr().out
    n_warn = out.count(" WARN (")
    assert f"{n_warn + 1} error-severity failures" in out

    wh2 = str(tmp_path / "wh_we2")
    rc = main(["build", "--bronze", bronze, "--warehouse", wh2,
               "--now", FROZEN, "--warn-error"], spark=spark)
    assert rc == 1
    assert "WARN-AS-ERROR:" in capsys.readouterr().out


def test_ls_takes_selectors(bronze, spark, capsys):
    """dbt ls: tag:/name selectors filter the listing without Spark;
    graph selectors walk the observed DAG (needs --bronze)."""
    assert main(["ls", "--models", "tag:nightly"]) == 0
    out = capsys.readouterr().out
    assert "agg_orders_daily" in out and "agg_items_daily" in out
    assert "fct_orders" not in out and "exposure" not in out

    assert main(["ls", "--bronze", bronze, "--models", "+agg_orders_daily",
                 "--now", FROZEN], spark=spark) == 0
    out = capsys.readouterr().out
    assert "agg_orders_daily" in out and "fct_order_items" in out
    assert "dim_promo" not in out

    with pytest.raises(SystemExit):
        main(["ls", "--models", "+agg_orders_daily"])  # graph needs bronze


def test_maintain_restore_rolls_back_as_new_commit(bronze, spark, tmp_path,
                                                   capsys):
    """`maintain --restore N --models m`: Delta RESTORE semantics — the
    table's contents return to version N as a NEW commit, history
    intact; a blanket restore without --models is a usage error, and an
    unknown version exits 1."""
    wh = str(tmp_path / "wh_restore")
    for extra in ([], ["--incremental"]):
        assert main(
            ["run", "--bronze", bronze, "--warehouse", wh,
             "--table-format", "txlog", "--models", "fct_orders",
             "--now", FROZEN] + extra,
            spark=spark,
        ) == 0
    capsys.readouterr()
    from furchild_spark.engine.txlog import TxTable

    tx = TxTable(spark, f"{wh}/fct_orders")
    v1_rows = tx.snapshot(version=1).count()
    head = tx.current_version()
    assert head >= 2
    rc = main(
        ["maintain", "--warehouse", wh, "--models", "fct_orders",
         "--restore", "1"],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "restored to v1" in out
    tx2 = TxTable(spark, f"{wh}/fct_orders")
    assert tx2.current_version() == head + 1           # new commit
    assert tx2.snapshot().count() == v1_rows           # v1 contents
    assert tx2.snapshot(version=head).count() >= 0     # history intact

    with pytest.raises(SystemExit):
        main(["maintain", "--warehouse", wh, "--restore", "1"])
    assert main(
        ["maintain", "--warehouse", wh, "--models", "fct_orders",
         "--restore", "99"],
        spark=spark,
    ) == 1


def test_at_operator_selects_descendants_and_their_ancestors(
    bronze, spark, capsys
):
    """dbt's @model: the model, its descendants, and the ancestors of
    those descendants — e.g. @stg_items pulls the revenue chain
    (descendants via fct_orders_revenue) AND first_channel_ltv's OTHER
    parents stg_transactions/stg_orders, which neither stg_items+ nor
    +stg_items would select."""
    rc = main(
        ["run", "--bronze", bronze, "--models", "@stg_items",
         "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_items" in out
    assert "built fct_orders_revenue" in out  # descendant
    assert "built stg_transactions" in out  # ancestor of a descendant
    assert "built fct_order_items" not in out  # raw-id space, no edge
    assert "built dim_date" not in out  # unrelated


def test_at_operator_is_select_only(bronze, spark):
    with pytest.raises(SystemExit) as e:
        main(["run", "--bronze", bronze, "--models", "stg_items",
              "--exclude", "@stg_items", "--now", FROZEN], spark=spark)
    assert e.value.code == 2


def test_at_operator_does_not_compose_with_plus(bronze, spark):
    with pytest.raises(SystemExit) as e:
        main(["run", "--bronze", bronze, "--models", "@stg_items+",
              "--now", FROZEN], spark=spark)
    assert e.value.code == 2


@pytest.fixture()
def selectors_yml(tmp_path):
    p = tmp_path / "selectors.yml"
    p.write_text(
        """
selectors:
  - name: nightly_aggs
    description: tagged nightly models plus the fct_orders cone
    definition: "tag:nightly,+fct_orders"
  - name: items_world
    definition:
      method: fqn
      value: stg_items
      children_of_parents: true
  - name: orders_minus_marts
    definition:
      union:
        - "+fct_orders"
        - method: tag
          value: nightly
        - exclude:
            - "fct_orders"
            - "tag:aggregate"
  - name: staging_facts_overlap
    definition:
      intersection:
        - "+fct_order_items"
        - "+fct_orders"
"""
    )
    return str(p)


def test_named_selector_string_definition(bronze, spark, selectors_yml,
                                          capsys):
    """A selectors.yml definition in the CLI token grammar: tag: + graph
    operator union."""
    rc = main(
        ["run", "--bronze", bronze, "--selector", "nightly_aggs",
         "--selectors-file", selectors_yml, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built agg_orders_daily" in out  # tag:nightly
    assert "built fct_orders" in out
    assert "built stg_orders" in out  # ancestor cone of fct_orders
    assert "built dim_promo" not in out


def test_named_selector_method_value_at(bronze, spark, selectors_yml,
                                        capsys):
    rc = main(
        ["run", "--bronze", bronze, "--selector", "items_world",
         "--selectors-file", selectors_yml, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built fct_orders_revenue" in out  # descendant
    assert "built stg_transactions" in out  # ancestor of a descendant


def test_named_selector_union_with_exclude_and_cli_exclude(
    bronze, spark, selectors_yml, capsys
):
    """A union mixing tag:, +cone, and an exclude arm — plus CLI
    --exclude composing on top (exclusion wins)."""
    rc = main(
        ["run", "--bronze", bronze, "--selector", "orders_minus_marts",
         "--selectors-file", selectors_yml, "--exclude", "stg_users",
         "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_orders" in out  # from +fct_orders
    assert "built fct_orders" not in out  # excluded by the selector arm
    assert "built agg_orders_daily" not in out  # tag:aggregate excluded
    assert "built stg_users" not in out  # CLI --exclude wins


def test_named_selector_intersection(bronze, spark, selectors_yml,
                                     capsys):
    rc = main(
        ["run", "--bronze", bronze, "--selector", "staging_facts_overlap",
         "--selectors-file", selectors_yml, "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    # the overlap of the two ancestor cones: fct_order_items and the
    # shared staging parents, but not fct_orders itself nor its extra
    # ancestors (stg_addresses/stg_users)
    assert "built fct_order_items" in out
    assert "built stg_order_items" in out
    assert "built fct_orders" not in out
    assert "built stg_addresses" not in out


def test_named_selector_errors(bronze, spark, selectors_yml):
    with pytest.raises(SystemExit) as e:
        main(["run", "--bronze", bronze, "--selector", "nope",
              "--selectors-file", selectors_yml, "--now", FROZEN],
             spark=spark)
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["run", "--bronze", bronze, "--selector", "nightly_aggs",
              "--models", "stg_items",
              "--selectors-file", selectors_yml, "--now", FROZEN],
             spark=spark)
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        main(["run", "--bronze", bronze, "--selector", "nightly_aggs",
              "--selectors-file", "/nonexistent/selectors.yml",
              "--now", FROZEN], spark=spark)
    assert e.value.code == 2


def test_default_selector_used_when_no_selection(bronze, spark, tmp_path,
                                                 capsys):
    """dbt's `default: true` selector: with no --models/--selector, the
    selectors file's default entry IS the selection; an explicit
    selection still wins."""
    p = tmp_path / "selectors.yml"
    p.write_text(
        "selectors:\n"
        "  - name: just_users\n"
        "    default: true\n"
        "    definition: \"stg_users\"\n"
    )
    rc = main(
        ["run", "--bronze", bronze, "--selectors-file", str(p),
         "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_users" in out
    assert "built stg_orders" not in out
    # explicit --models overrides the default selector
    rc = main(
        ["run", "--bronze", bronze, "--selectors-file", str(p),
         "--models", "stg_items", "--now", FROZEN],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "built stg_items" in out
    assert "built stg_users" not in out
    # two defaults is a usage error
    p.write_text(
        "selectors:\n"
        "  - name: a\n    default: true\n    definition: \"stg_users\"\n"
        "  - name: b\n    default: true\n    definition: \"stg_items\"\n"
    )
    with pytest.raises(SystemExit) as e:
        main(["run", "--bronze", bronze, "--selectors-file", str(p),
              "--now", FROZEN], spark=spark)
    assert e.value.code == 2
