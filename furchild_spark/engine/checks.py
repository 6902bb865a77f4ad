"""Data-test harness: the dbt generic + singular tests as failure-row
DataFrames (reference models/staging/schema.yml:102-263, tests/*.sql,
SURVEY §5).

Semantics mirror dbt exactly: each check compiles to a DataFrame whose
ROWS ARE FAILURES; a run counts rows — 0 = pass. ``severity='warn'``
checks report without failing the suite (reference
tests/stg_addresses_country_len.sql:1 etc.).

Every built-in check (the generics below and the singular tests) is
stated once, as a failure condition: a boolean Column, TRUE on a failing
row. ``run_checks`` folds the conditions of every built-in check on one
model into a single aggregate of ``count_if`` columns, so the suite is
one Spark action per model, not per check (+ one shuffle per distinct
``unique`` key). Relationship checks and opaque callables stay one count
each.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from furchild_spark.functions import shims as S


# ---------------------------------------------------------------------------
# generic checks (dbt-core + dbt_utils equivalents)
# ---------------------------------------------------------------------------

_FAILED = "__check_failed"

# dbt generic test kind -> row-filter builder (filled by @_builder)
_GENERIC: dict[str, Callable[..., DataFrame]] = {}


def _failure_rows(df: DataFrame, condition: Column) -> DataFrame:
    """The rows of ``df`` on which ``condition`` is TRUE — a NULL result
    is no failure, like dbt's ``where``. The condition is projected
    before the filter, so it may hold a window function."""
    return (
        df.select("*", condition.alias(_FAILED))
        .filter(F.col(_FAILED))
        .drop(_FAILED)
    )


def _builder(condition: Callable[..., Column]) -> Callable[..., DataFrame]:
    """The dbt row filter ``builder(df, *args) -> failure rows`` of a
    failure ``condition(*args) -> Column``; run_checks reaches the
    condition itself through ``builder.condition``."""

    def builder(df: DataFrame, *args) -> DataFrame:
        return _failure_rows(df, condition(*args))

    builder.__name__ = builder.__qualname__ = condition.__name__
    builder.__doc__ = condition.__doc__
    builder.condition = condition
    _GENERIC[condition.__name__] = builder
    return builder


def _duplicated(cols: list[str]) -> Column:
    """TRUE on rows whose key occurs more than once and has no NULL part:
    exactly the rows that grouping by the key and semi-joining the groups
    with ``count > 1`` back returns (a NULL key never joins)."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*cols))
    return reduce(Column.__and__, (F.col(c).isNotNull() for c in cols), n > 1)


@_builder
def not_null(col: str) -> Column:
    return F.col(col).isNull()


@_builder
def unique(col: str) -> Column:
    """dbt `unique`: rows whose key value occurs more than once
    (ref tests/stg_product_brands__unique_brand_id.sql:2-7)."""
    return _duplicated([col])


@_builder
def accepted_values(col: str, values: list) -> Column:
    """dbt `accepted_values`. When every declared value is numeric (dbt's
    `quote: false` tests, e.g. HAS_VAT in [0, 1], schema.yml:80-83) the
    comparison is NUMERIC like dbt's compiled `NOT IN (0, 1)` — a DOUBLE
    column's 1.0 matches the declared 1, and '01' matches 1 — with
    ``try_cast`` so a malformed row ('true' → NULL-on-cast) still counts
    as the violation it is instead of ERRORing under ANSI mode. String
    declarations compare as strings. NULL column values PASS, matching
    dbt's `NOT IN` three-valued logic (a NULL is never "not in" the list);
    use a separate `not_null` test to reject NULLs."""
    numeric = bool(values) and all(
        isinstance(v, (int, float)) and not isinstance(v, bool)
        for v in values
    )
    if numeric:
        c = F.col(col).cast("string").try_cast("double")
        bad = c.isNull() | ~c.isin([float(v) for v in values])
    else:
        bad = ~F.col(col).cast("string").isin([str(v) for v in values])
    return F.col(col).isNotNull() & bad


@_builder
def expression_is_true(expression: Column | str) -> Column:
    """dbt_utils.expression_is_true: rows where the expression evaluates to
    FALSE. NULL results are NOT failures — dbt compiles the test to
    ``where not (expr)``, and under three-valued logic ``not (NULL)`` is
    NULL, which a WHERE clause filters out; ``e == False`` mirrors that
    exactly."""
    e = F.expr(expression) if isinstance(expression, str) else expression
    return e == False  # noqa: E712 — excludes NULL like dbt


@_builder
def unique_combination_of_columns(cols: list[str]) -> Column:
    return _duplicated(cols)


def relationships(df: DataFrame, col: str, to_df: DataFrame, to_col: str) -> DataFrame:
    """dbt `relationships` (FK): child rows with no parent — the anti-join
    pattern (ref tests/stg_packages_fk_shipment_id_to_shipments.sql:3-6,
    SURVEY §2.3 J7). NULL FKs are not failures (dbt semantics)."""
    parents = to_df.select(F.col(to_col).alias(col)).distinct()
    return (
        df.filter(F.col(col).isNotNull())
        .join(parents, on=col, how="left_anti")
    )


def source_freshness(
    df: DataFrame,
    loaded_at_col: str,
    now: Column,
    warn_after_hours: float = 24,
    error_after_hours: float = 72,
) -> DataFrame:
    """S7 source freshness (ref models/staging/schema.yml:13-15): one row
    with max(loaded_at), lag hours, and warn/error/fresh status."""
    lag_h = (
        F.unix_micros(now) - F.unix_micros(F.max(loaded_at_col).cast("timestamp"))
    ) / F.lit(3600000000.0)
    return df.agg(
        F.max(loaded_at_col).alias("max_loaded_at"),
        lag_h.alias("lag_hours"),
        F.when(lag_h > error_after_hours, "error")
        .when(lag_h > warn_after_hours, "warn")
        .otherwise("fresh")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# the declarative suite (schema.yml + tests/*.sql, ported 1:1)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Check:
    name: str
    model: str
    # model df -> failure rows. A built-in check's fn (from _generic or
    # _singular) also carries ``fn.condition``, which run_checks folds
    # into its model's one aggregate; any other callable is counted alone.
    fn: Callable[[DataFrame], DataFrame]
    severity: str = "error"  # dbt default
    extra_model: str | None = None  # for relationship/FK checks
    # dbt warn_if / error_if (conditions on the FAILURE COUNT, e.g.
    # ">10", ">=100", "!=0"): the status ladder is evaluated top-down —
    # error_if met -> error, else warn_if met -> warn, else pass. The
    # "!=0" defaults reproduce plain dbt severity semantics exactly, so
    # a threshold only changes behavior when declared.
    warn_if: str = "!=0"
    error_if: str = "!=0"
    # dbt relationships-to-source (schema.yml:113-117): (child_column,
    # source_table, parent_field). Resolved at run time via run_checks'
    # ``source`` resolver — a static suite can't hold a bronze DataFrame.
    fk_source: tuple | None = None


def _count_cond(failures: int, cond: str) -> bool:
    """Evaluate a dbt threshold condition string against a count."""
    import re

    m = re.fullmatch(r"\s*(!=|>=|<=|>|<|==)\s*(\d+)\s*", cond)
    if not m:
        raise ValueError(f"malformed warn_if/error_if condition: {cond!r}")
    op, n = m.group(1), int(m.group(2))
    return {
        "!=": failures != n,
        "==": failures == n,
        ">": failures > n,
        ">=": failures >= n,
        "<": failures < n,
        "<=": failures <= n,
    }[op]


def _singular(condition: Callable[[], Column]) -> Callable[[DataFrame], DataFrame]:
    """``Check.fn`` of a built-in check with failure ``condition()``. Only
    this and :func:`_generic` set ``fn.condition``, so a wrapper that
    copies ``spec`` onto a callable of its own stays opaque."""
    fn = lambda df: _failure_rows(df, condition())  # noqa: E731
    fn.condition = condition
    return fn


def _generic(builder, *args):
    fn = _singular(lambda: builder.condition(*args))
    # machine-readable spec so tests/test_dbt_yaml.py can prove this
    # hand-declared suite ≡ the reference's schema.yml test declarations
    fn.spec = (builder.__name__, *args)
    return fn


CHECKS: list[Check] = [
    # ---- schema.yml generics (ref :102-263) ----
    Check("stg_items_transaction_item_id_not_null", "stg_items", _generic(not_null, "transaction_item_id")),
    Check("stg_items_transaction_item_id_unique", "stg_items", _generic(unique, "transaction_item_id")),
    Check("stg_items_transaction_id_not_null", "stg_items", _generic(not_null, "transaction_id")),
    Check("stg_items_quantity_not_null", "stg_items", _generic(not_null, "quantity")),
    Check("stg_items_realized_price_not_null", "stg_items", _generic(not_null, "realized_unit_price_ex_vat")),
    Check("stg_items_realized_price_nonneg", "stg_items", _generic(expression_is_true, "realized_unit_price_ex_vat >= 0")),
    Check("stg_transactions_order_id_not_null", "stg_transactions", _generic(not_null, "order_id")),
    Check("stg_transactions_order_id_unique", "stg_transactions", _generic(unique, "order_id")),
    Check("stg_transactions_order_date_not_null", "stg_transactions", _generic(not_null, "order_date")),
    Check("stg_transactions_customer_id_not_null", "stg_transactions", _generic(not_null, "customer_id")),
    # relationships-to-source (schema.yml:113-117): stg_items children
    # must exist in BRONZE.transactions.ID; severity warn in the
    # reference (raw-vs-normalized id spaces make orphans expected)
    Check(
        "stg_items_transaction_id_fk_bronze_transactions", "stg_items",
        None, severity="warn",
        fk_source=("transaction_id", "transactions", "ID"),
    ),
    Check("stg_orders_order_id_not_null", "stg_orders", _generic(not_null, "order_id")),
    Check("stg_orders_order_id_unique", "stg_orders", _generic(unique, "order_id")),
    Check("stg_orders_created_at_utc_not_null", "stg_orders", _generic(not_null, "created_at_utc")),
    Check("stg_order_items_order_item_id_not_null", "stg_order_items", _generic(not_null, "order_item_id")),
    Check("stg_order_items_order_item_id_unique", "stg_order_items", _generic(unique, "order_item_id")),
    Check("stg_order_items_order_id_not_null", "stg_order_items", _generic(not_null, "order_id")),
    Check("stg_order_items_product_id_not_null", "stg_order_items", _generic(not_null, "product_id")),
    Check("stg_customers_customer_id_not_null", "stg_customers", _generic(not_null, "customer_id")),
    Check("stg_customers_customer_id_unique", "stg_customers", _generic(unique, "customer_id")),
    Check("stg_customers_email_primary_not_null", "stg_customers", _generic(not_null, "email_primary")),
    Check("stg_invoice_payments_payment_id_not_null", "stg_invoice_payments", _generic(not_null, "payment_id")),
    Check("stg_invoice_payments_payment_id_unique", "stg_invoice_payments", _generic(unique, "payment_id")),
    Check("stg_invoice_payments_amount_paid_not_null", "stg_invoice_payments", _generic(not_null, "amount_paid")),
    Check("stg_invoice_payments_amount_paid_nonneg", "stg_invoice_payments", _generic(expression_is_true, "amount_paid >= 0")),
    Check("stg_invoice_payments_total_not_null", "stg_invoice_payments", _generic(not_null, "total_amount")),
    Check("stg_invoice_payments_total_ge_paid", "stg_invoice_payments", _generic(expression_is_true, "total_amount >= amount_paid")),
    Check("stg_invoices_ar_invoice_id_not_null", "stg_invoices_ar", _generic(not_null, "invoice_id")),
    Check("stg_invoices_ar_invoice_id_unique", "stg_invoices_ar", _generic(unique, "invoice_id")),
    Check("stg_invoices_ar_invoice_number_not_null", "stg_invoices_ar", _generic(not_null, "invoice_number")),
    Check("stg_invoices_ar_customer_id_not_null", "stg_invoices_ar", _generic(not_null, "customer_id")),
    Check("stg_invoices_ar_total_not_null", "stg_invoices_ar", _generic(not_null, "total_amount")),
    Check("stg_invoices_ar_balance_not_null", "stg_invoices_ar", _generic(not_null, "balance")),
    Check("stg_invoices_ar_paid_not_null", "stg_invoices_ar", _generic(not_null, "amount_paid")),
    Check("stg_invoices_ar_total_nonneg", "stg_invoices_ar", _generic(expression_is_true, "total_amount >= 0")),
    Check("stg_invoices_ar_balance_nonneg", "stg_invoices_ar", _generic(expression_is_true, "balance >= 0")),
    Check("stg_invoices_ar_paid_nonneg", "stg_invoices_ar", _generic(expression_is_true, "amount_paid >= 0")),
    Check("stg_invoices_ar_paid_le_total", "stg_invoices_ar", _generic(expression_is_true, "amount_paid <= total_amount")),
    Check("stg_invoices_ar_status_accepted", "stg_invoices_ar", _generic(accepted_values, "status_canonical", ["paid", "partially_paid", "unpaid"])),
    Check("stg_shipments_shipment_id_not_null", "stg_shipments", _generic(not_null, "shipment_id")),
    Check("stg_shipments_shipment_id_unique", "stg_shipments", _generic(unique, "shipment_id")),
    Check("stg_shipments_status_accepted", "stg_shipments", _generic(accepted_values, "status_canonical", ["shipped", "in_transit", "delivered", "failed", "returned"]), severity="warn"),
    # dim_orders.yml:36-43
    Check("dim_orders_first_order_invariant", "dim_orders", _generic(expression_is_true, "is_first_order = (order_rank_for_customer = 1)")),
    Check("dim_orders_rank_unique_per_customer", "dim_orders", _generic(unique_combination_of_columns, ["customer_id", "order_rank_for_customer"])),
    # ---- marts generics (per-model yml files under models/marts/) ----
    # dim_customer.yml
    Check("dim_customer_customer_key_not_null", "dim_customer", _generic(not_null, "customer_key")),
    Check("dim_customer_customer_key_unique", "dim_customer", _generic(unique, "customer_key")),
    Check("dim_customer_customer_id_not_null", "dim_customer", _generic(not_null, "customer_id")),
    # dim_orders.yml column tests
    Check("dim_orders_order_sk_not_null", "dim_orders", _generic(not_null, "order_sk")),
    Check("dim_orders_order_sk_unique", "dim_orders", _generic(unique, "order_sk")),
    Check("dim_orders_order_id_not_null", "dim_orders", _generic(not_null, "order_id")),
    Check("dim_orders_order_id_unique", "dim_orders", _generic(unique, "order_id")),
    # fct_customer.yml
    Check("fct_customers_customer_id_not_null", "fct_customers", _generic(not_null, "customer_id")),
    Check("fct_customers_customer_id_unique", "fct_customers", _generic(unique, "customer_id")),
    # fct_order_items.yml
    Check("fct_order_items_order_item_sk_not_null", "fct_order_items", _generic(not_null, "order_item_sk")),
    Check("fct_order_items_order_item_sk_unique", "fct_order_items", _generic(unique, "order_item_sk")),
    Check("fct_order_items_order_id_not_null", "fct_order_items", _generic(not_null, "order_id")),
    Check("fct_order_items_product_id_not_null", "fct_order_items", _generic(not_null, "product_id")),
    # fct_orders.yml
    Check("fct_orders_order_sk_not_null", "fct_orders", _generic(not_null, "order_sk")),
    Check("fct_orders_order_sk_unique", "fct_orders", _generic(unique, "order_sk")),
    Check("fct_orders_order_id_not_null", "fct_orders", _generic(not_null, "order_id")),
    Check("fct_orders_order_id_unique", "fct_orders", _generic(unique, "order_id")),
    # revenue_ltv.yml
    Check("fct_orders_revenue_order_id_not_null", "fct_orders_revenue", _generic(not_null, "order_id")),
    Check("fct_orders_revenue_order_id_unique", "fct_orders_revenue", _generic(unique, "order_id")),
    Check("fct_orders_revenue_customer_id_not_null", "fct_orders_revenue", _generic(not_null, "customer_id")),
    Check("fct_orders_revenue_order_date_not_null", "fct_orders_revenue", _generic(not_null, "order_date")),
    Check("fct_orders_revenue_revenue_not_null", "fct_orders_revenue", _generic(not_null, "order_revenue_ex_vat")),
    Check("fct_customer_monthly_revenue_customer_id_not_null", "fct_customer_monthly_revenue", _generic(not_null, "customer_id")),
    Check("fct_customer_monthly_revenue_first_order_date_not_null", "fct_customer_monthly_revenue", _generic(not_null, "first_order_date")),
    Check("fct_customer_monthly_revenue_month_start_not_null", "fct_customer_monthly_revenue", _generic(not_null, "month_start")),
    Check("fct_customer_monthly_revenue_months_since_acq_not_null", "fct_customer_monthly_revenue", _generic(not_null, "months_since_acq")),
    Check("customer_revenue_ltv_customer_id_not_null", "customer_revenue_ltv", _generic(not_null, "customer_id")),
    Check("customer_revenue_ltv_first_order_date_not_null", "customer_revenue_ltv", _generic(not_null, "first_order_date")),
    Check("cohort_revenue_ltv_cohort_month_not_null", "cohort_revenue_ltv", _generic(not_null, "cohort_month")),
    # ---- singular tests (tests/*.sql, all severity warn) ----
    Check(
        "stg_addresses_country_len", "stg_addresses",
        _singular(lambda: (
            F.col("country_code").isNotNull()
            & ~F.length("country_code").isin(2, 3)
        )),
        severity="warn",
    ),
    Check(
        "stg_addresses_email_shape", "stg_addresses",
        _singular(lambda: (
            F.col("email").isNotNull() & (F.instr(F.col("email"), "@") <= 1)
        )),
        severity="warn",
    ),
    Check(
        "stg_addresses_latlon_range", "stg_addresses",
        _singular(lambda: (
            (F.col("latitude").isNotNull() & ~F.col("latitude").between(-90, 90))
            | (F.col("longitude").isNotNull() & ~F.col("longitude").between(-180, 180))
        )),
        severity="warn",
    ),
    Check(
        "stg_packages_delivered_at_is_date", "stg_packages",
        _singular(lambda: (
            F.col("delivered_at").isNotNull()
            & S.try_to_date(F.col("delivered_at").cast("string")).isNull()
        )),
        severity="warn",
    ),
    Check(
        "stg_packages_fk_shipment_id_to_shipments", "stg_packages",
        None, severity="warn", extra_model="stg_shipments",
    ),
    Check("stg_packages_not_null_package_id", "stg_packages", _generic(not_null, "package_id"), severity="warn"),
    Check("stg_packages_shipment_id_not_null", "stg_packages", _generic(not_null, "shipment_id"), severity="warn"),
    Check("stg_product_brands_unique_brand_id", "stg_product_brands", _generic(unique, "brand_id"), severity="warn"),
    Check("stg_product_categories_unique_category_id", "stg_product_categories", _generic(unique, "category_id"), severity="warn"),
    Check("stg_product_details_not_null_product_id", "stg_product_details", _generic(not_null, "product_id"), severity="warn"),
    Check(
        "stg_shipments_delivered_after_shipped", "stg_shipments",
        _singular(lambda: (
            F.col("delivered_at").isNotNull()
            & F.col("shipped_at").isNotNull()
            & (F.col("delivered_at") < F.col("shipped_at"))
        )),
        severity="warn",
    ),
    Check(
        "stg_shipments_shipped_at_is_date", "stg_shipments",
        _singular(lambda: (
            F.col("shipped_at").isNotNull()
            & S.try_to_date(F.col("shipped_at").cast("string")).isNull()
        )),
        severity="warn",
    ),
    Check(
        "stg_shipments_tracking_number_shape", "stg_shipments",
        _singular(lambda: (
            F.col("tracking_number").isNotNull() & (F.length("tracking_number") < 1)
        )),
        severity="warn",
    ),
]


# ---------------------------------------------------------------------------
# source tests (schema.yml sources: block — dbt runs these too)
# ---------------------------------------------------------------------------

# (source_table, column, kind, params, severity) — declarative so the YAML
# agreement test can compare, runnable via run_source_checks. Mirrors
# models/staging/schema.yml:28-92 (bronze transactions/transaction_items).
SOURCE_CHECKS: list[tuple] = [
    ("transactions", "ID", "not_null", (), "error"),
    ("transactions", "ID", "unique", (), "error"),
    ("transactions", "USER_ID", "not_null", (), "error"),
    ("transactions", "TRANSACTION_DATE", "not_null", (), "error"),
    ("transaction_items", "ID", "not_null", (), "error"),
    ("transaction_items", "TRANSACTION_ID", "not_null", (), "error"),
    ("transaction_items", "QUANTITY", "not_null", (), "error"),
    ("transaction_items", "PRICE", "not_null", (), "error"),
    ("transaction_items", "HAS_VAT", "accepted_values", ((0, 1),), "error"),
]


def run_source_checks(
    source: Callable[[str], DataFrame],
    specs: list[tuple] | None = None,
) -> list["CheckResult"]:
    """Execute the source-table test suite against a bronze resolver —
    dbt tests sources exactly like models: the tests are generic checks
    owned by ``source:<table>``, so run_checks folds them into one
    aggregate per bronze table."""
    suite = [
        Check(
            f"source_{tbl}_{col}_{kind}".lower(), f"source:{tbl}",
            _generic(_GENERIC[kind], col, *params), severity,
        )
        for tbl, col, kind, params, severity in (
            SOURCE_CHECKS if specs is None else specs
        )
    ]
    return run_checks(lambda owner: source(owner.split(":", 1)[1]), suite)


@dataclass(frozen=True)
class CheckResult:
    name: str
    model: str
    severity: str
    failures: int
    # where the failure rows landed (store_failures runs only)
    failures_path: str | None = None
    # dbt threshold conditions the run was evaluated under
    warn_if: str = "!=0"
    error_if: str = "!=0"

    @property
    def status(self) -> str:
        """dbt's status ladder: error_if (gated by severity='error')
        first, then warn_if, else pass."""
        if self.severity == "error" and _count_cond(self.failures, self.error_if):
            return "error"
        if _count_cond(self.failures, self.warn_if):
            return "warn"
        return "pass"

    @property
    def passed(self) -> bool:
        return self.status != "error"


def _fold_counts(df: DataFrame, conditions: list[Column]) -> list[int]:
    """The number of rows of ``df`` on which each failure condition is
    TRUE, all from one aggregate — one Spark action however many checks.
    The conditions are projected first, so each ``unique`` window runs
    below the aggregate rather than inside it."""
    flags = [f"_{i}" for i in range(len(conditions))]
    row = (
        df.select(*(c.alias(f) for c, f in zip(conditions, flags)))
        .agg(*(F.count_if(f) for f in flags))
        .first()
    )
    return list(row)


def run_checks(
    ref: Callable[[str], DataFrame],
    checks: list[Check] | None = None,
    models: set[str] | None = None,
    threads: int = 1,
    store_failures_dir: str | None = None,
    source: Callable[[str], DataFrame] | None = None,
) -> list[CheckResult]:
    """Execute the suite against a ``ref`` resolver (e.g. ``runner.ref``).
    ``models`` restricts to checks attached to those models (dbt's node
    selection: tests run only for selected nodes).

    The built-in checks of one model (those whose ``fn`` carries a
    ``condition``) are counted together, by one aggregate over
    ``ref(model)``; every other check — relationships, opaque callables —
    is one count of its own. ``threads`` runs these per-model and
    per-check counts on a thread pool (dbt runs tests on its thread pool
    too); on a cluster a serial suite leaves executors idle between the
    narrow stages. Requires a thread-safe ``ref`` — the Runner's is
    (per-model locks). Result order matches the suite order regardless
    of completion order.

    ``store_failures_dir`` is dbt's ``--store-failures``: each check's
    failure rows are also WRITTEN to ``<dir>/<check_name>`` as parquet
    (dbt's ``dbt_test__audit`` tables), so the triage rows are on disk
    instead of vanishing with the count. The counts come from the same
    per-model aggregates as without it. A passing check stores an empty
    table (schema preserved), exactly like dbt."""
    suite = [
        c
        for c in (CHECKS if checks is None else checks)
        if models is None or c.model in models
    ]

    def rows(c: Check) -> DataFrame:
        df = ref(c.model)
        if c.name == "stg_packages_fk_shipment_id_to_shipments":
            return relationships(
                df, "shipment_id", ref(c.extra_model), "shipment_id"
            )
        if c.fk_source is not None:
            if source is None:
                raise ValueError(
                    f"check {c.name} is a relationships-to-source test and "
                    "needs run_checks(..., source=<bronze resolver>)"
                )
            col, tbl, fld = c.fk_source
            return relationships(df, col, source(tbl), fld)
        return c.fn(df)

    def path(c: Check) -> str | None:
        if store_failures_dir is None:
            return None
        return os.path.join(store_failures_dir, c.name)

    def folds(c: Check) -> bool:
        return hasattr(c.fn, "condition")

    # suite positions per unit of work: one unit per model with built-in
    # checks, one per other check, in order of first appearance
    units: dict[tuple, list[int]] = {}
    for i, c in enumerate(suite):
        key = ("model", c.model) if folds(c) else ("check", i)
        units.setdefault(key, []).append(i)

    def count(unit: list[int]) -> list[int]:
        batch = [suite[i] for i in unit]
        if store_failures_dir is not None:
            for c in batch:
                rows(c).write.mode("overwrite").parquet(path(c))
        if not folds(batch[0]):
            return [rows(batch[0]).count()]
        return _fold_counts(
            ref(batch[0].model), [c.fn.condition() for c in batch]
        )

    if threads <= 1 or len(units) <= 1:
        counted = [count(u) for u in units.values()]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=threads, thread_name_prefix="checks"
        ) as pool:
            counted = list(pool.map(count, units.values()))
    failures = {
        i: n
        for unit, got in zip(units.values(), counted)
        for i, n in zip(unit, got)
    }
    return [
        CheckResult(
            c.name, c.model, c.severity, failures[i], path(c),
            warn_if=c.warn_if, error_if=c.error_if,
        )
        for i, c in enumerate(suite)
    ]


# ---------------------------------------------------------------------------
# source freshness suite (schema.yml source-level config, ported 1:1)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class FreshnessSpec:
    """One source's freshness contract. The reference declares the
    source-level thresholds warn 24h / error 72h
    (models/staging/schema.yml:13-15) and pins ``loaded_at_field:
    _AIRBYTE_EXTRACTED_AT`` on the ingest-audited bronze tables
    (schema.yml:28,50)."""

    source: str
    loaded_at_col: str = "_AIRBYTE_EXTRACTED_AT"
    warn_after_hours: float = 24
    error_after_hours: float = 72


FRESHNESS: list[FreshnessSpec] = [
    FreshnessSpec("transactions"),
    FreshnessSpec("transaction_items"),
]


@dataclass(frozen=True)
class FreshnessResult:
    source: str
    status: str  # fresh | warn | error
    lag_hours: float


def run_freshness(
    source: Callable[[str], DataFrame],
    now,
    specs: list[FreshnessSpec] | None = None,
) -> list[FreshnessResult]:
    """Evaluate each spec against its bronze source (one tiny agg scan per
    source — the max(loaded_at) aggregate is map-side-combined, so this is
    cheap even on a 100 TB source). ``now`` is a datetime (the Runner's
    frozen clock) or a Column."""
    now_col = now if isinstance(now, Column) else F.lit(now).cast("timestamp")
    results = []
    for spec in (FRESHNESS if specs is None else specs):
        row = source_freshness(
            source(spec.source),
            spec.loaded_at_col,
            now_col,
            spec.warn_after_hours,
            spec.error_after_hours,
        ).first()
        results.append(
            FreshnessResult(spec.source, row["status"], row["lag_hours"])
        )
    return results
