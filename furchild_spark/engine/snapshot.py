"""SCD Type-2 snapshots: dbt's ``snapshot`` materialization on parquet.

The reference repo ships an empty ``snapshots/`` directory — the dbt
feature slot exists but is unused — so this is an engine-completeness
capability: a user migrating a dbt project expects ``timestamp`` and
``check`` snapshot strategies to exist. Semantics mirror dbt's
(columns ``scd_id`` / ``valid_from`` / ``valid_to`` correspond to
``dbt_scd_id`` / ``dbt_valid_from`` / ``dbt_valid_to``):

- every key's history is a chain of ``[valid_from, valid_to)`` intervals;
  the open (current) version has ``valid_to IS NULL``;
- ``timestamp`` strategy: a source row is a new version when its
  ``updated_at`` is strictly newer than the current version's — late
  redelivery of an old or identical timestamp is a no-op (idempotent);
- ``check`` strategy: a new version when any ``check_cols`` value differs
  (null-safe compare); ``valid_from`` is the run's ``now``;
- closing a version sets its ``valid_to`` to the replacement's
  ``valid_from`` (adjacent intervals, dbt-identical);
- hard deletes are ignored (dbt's default): a key absent from the source
  keeps its open row.

Scale (100 TB): one run = one keyed left join (source × current-rows) +
one anti join — both shuffle on ``unique_key`` only; history rows
(``valid_to IS NOT NULL``) are unioned through untouched, never joined.
The commit reuses the crash-safe staged-dir swap from
:mod:`materialize` (write ``__staged`` → rename swap → ``recover()`` on
restart), so a mid-commit crash never loses the previous snapshot.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import materialize as mat

SNAP_COLS = ("scd_id", "valid_from", "valid_to")


def _scd_id(unique_key: str):
    return F.md5(
        F.concat_ws(
            "|",
            F.col(unique_key).cast("string"),
            F.col("valid_from").cast("string"),
        )
    )


def _stamp_first(source: DataFrame, unique_key: str, valid_from) -> DataFrame:
    return (
        source.withColumn("valid_from", valid_from)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("scd_id", _scd_id(unique_key))
    )


def snapshot_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    unique_key: str,
    strategy: str = "timestamp",
    updated_at: str | None = None,
    check_cols: list[str] | None = None,
    now: dt.datetime | None = None,
) -> DataFrame:
    """Apply one snapshot run of ``source`` onto the SCD2 table at ``path``
    and return the new table. First run initializes every source row as an
    open version."""
    validate_snapshot_source(source, unique_key, strategy, updated_at)
    existing = (
        mat.read_table(spark, path) if mat.parquet_exists(spark, path) else None
    )
    merged = scd2_apply(
        source,
        existing,
        unique_key,
        strategy=strategy,
        updated_at=updated_at,
        check_cols=check_cols,
        now=now,
    )
    if existing is None:
        return mat.overwrite(spark, path, merged)
    mat._stage_and_swap(spark, path, merged)
    return mat.read_table(spark, path)


def validate_snapshot_source(
    source: DataFrame,
    unique_key: str,
    strategy: str = "timestamp",
    updated_at: str | None = None,
) -> None:
    """Reject source batches that would silently corrupt the SCD2 chain
    (dbt documents the same preconditions but fails later and worse):

    - NULL ``unique_key`` rows: the left join can never match them, so
      each run would re-insert another open copy (idempotency broken);
    - duplicate keys within one batch: two open versions + duplicated
      closed rows in a single run;
    - NULL ``updated_at`` under the timestamp strategy: three-valued
      logic makes the row invisible to change detection forever.

    One small aggregation job per snapshot run — snapshot runs are
    already write-heavy, and a loud precondition beats silent chain
    corruption."""
    checks = [
        F.sum(F.col(unique_key).isNull().cast("int")).alias("null_keys"),
        (F.count(F.lit(1)) - F.count_distinct(F.col(unique_key))).alias(
            "dup_keys"
        ),
    ]
    if strategy == "timestamp" and updated_at:
        checks.append(
            F.sum(F.col(updated_at).isNull().cast("int")).alias("null_ts")
        )
    row = source.agg(*checks).first()
    problems = {k: v for k, v in row.asDict().items() if v}
    if problems:
        raise ValueError(
            f"snapshot source violates SCD2 preconditions: {problems} "
            f"(unique_key={unique_key!r} must be unique and non-null"
            + (f"; {updated_at!r} must be non-null" if updated_at else "")
            + ")"
        )


def scd2_apply(
    source: DataFrame,
    existing: DataFrame | None,
    unique_key: str,
    strategy: str = "timestamp",
    updated_at: str | None = None,
    check_cols: list[str] | None = None,
    now: dt.datetime | None = None,
) -> DataFrame:
    """The pure SCD2 transform: one snapshot run of ``source`` against the
    ``existing`` SCD2 table (None = first run), returning the merged table
    as an unpersisted DataFrame. Storage-agnostic — ``snapshot_merge``
    wraps it with the parquet staged-swap commit, and the Runner's txlog
    backend commits it through :class:`~furchild_spark.engine.txlog.TxTable`
    for concurrent-reader atomicity + time travel."""
    if strategy == "timestamp":
        if not updated_at:
            raise ValueError("timestamp strategy requires updated_at")
        new_valid_from = F.col(updated_at).cast("timestamp")
    elif strategy == "check":
        if not check_cols:
            raise ValueError("check strategy requires check_cols")
        if now is None:
            raise ValueError("check strategy requires now (the run's clock)")
        new_valid_from = F.lit(now).cast("timestamp")
    else:
        raise ValueError(f"unknown snapshot strategy: {strategy}")

    if any(c in source.columns for c in SNAP_COLS):
        raise ValueError(f"source must not already carry {SNAP_COLS}")
    if check_cols and unique_key in check_cols:
        raise ValueError(
            "check_cols must not include the unique_key (the key is the "
            "join identity; a key 'change' is a new key, not a new version)"
        )

    if existing is None:
        return _stamp_first(source, unique_key, new_valid_from)

    history = existing.filter(F.col("valid_to").isNotNull())
    current = existing.filter(F.col("valid_to").isNull())

    # one keyed join decides everything: rows with no current version are
    # brand-new keys; matched rows are new versions iff `changed`.
    # append_new_columns evolution: a column the source grew that the
    # existing table lacks has no __cur_ side — it reads as NULL below,
    # so evolution never crashes the join and (for check strategy) a
    # newly-tracked column counts as changed exactly when it is non-null.
    cur_cmp = current.select(
        F.col(unique_key).alias("__key"),
        *[
            F.col(c).alias(f"__cur_{c}")
            for c in source.columns
            if c != unique_key and c in existing.columns
        ],
    )

    def cur(c):
        return (
            F.col(f"__cur_{c}")
            if c in existing.columns
            else F.lit(None)
        )

    joined = source.join(
        cur_cmp, source[unique_key] == cur_cmp["__key"], "left"
    )
    if strategy == "timestamp":
        changed = F.col(updated_at).cast("timestamp") > cur(
            updated_at
        ).cast("timestamp")
    else:
        changed = F.lit(False)
        for c in check_cols:
            changed = changed | ~F.col(c).eqNullSafe(cur(c))
    is_new_key = F.col("__key").isNull()

    inserts = (
        joined.filter(is_new_key | changed)
        .select(*source.columns)
        .withColumn("valid_from", new_valid_from)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("scd_id", _scd_id(unique_key))
    )

    # close the superseded versions: valid_to = replacement's valid_from
    closing = (
        joined.filter(~is_new_key & changed)
        .select(
            F.col("__key").alias(unique_key),
            new_valid_from.alias("__close_at"),
        )
    )
    closed = (
        current.join(closing, on=unique_key, how="inner")
        .withColumn("valid_to", F.col("__close_at"))
        .drop("__close_at")
    )
    still_open = current.join(
        closing.select(unique_key), on=unique_key, how="left_anti"
    )

    return (
        history.unionByName(still_open, allowMissingColumns=True)
        .unionByName(closed, allowMissingColumns=True)
        .unionByName(inserts, allowMissingColumns=True)
    )
