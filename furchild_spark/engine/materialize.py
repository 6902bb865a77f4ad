"""Materializers: overwrite / incremental upsert-merge on plain parquet.

The reference's incremental models are Snowflake ``MERGE`` on a
``unique_key`` with a 7-day lookback filter (reference
``models/marts/commerce/facts/fct_orders.sql:1-5,23-25,213-215``). The
canonical Spark implementation is Delta Lake / Iceberg ``MERGE INTO``; this
container ships neither, so the merge is expressed with pure DataFrame ops:

    kept    = existing.join(updates, key, "left_anti")     -- rows not touched
    merged  = kept UNION BY NAME updates                   -- upsert

Scale design (100 TB):

- **Partition-scoped merge.** When the model declares ``partition_by``,
  only the partitions present in ``updates`` are read (partition-pruned
  scan), anti-joined, and rewritten via *dynamic partition overwrite* —
  a 7-day incremental touches ~7 date partitions, never the full table
  (the reference's lookback IS a partition-pruning analog, SURVEY §4).
  Assumption (documented, asserted nowhere cheaper): the partition column
  is immutable per unique_key — true for the date-derived partition
  columns used here. Delta MERGE with a partition predicate makes the
  same bargain.
- **Crash-safe commit** for the unpartitioned path: write to ``__staged``,
  rename live → ``__old``, rename staged → live, delete ``__old``. A crash
  between the renames leaves ``__old`` intact; :func:`recover` restores it
  on the next run instead of silently treating the table as fresh (the
  failure mode the round-1 delete-then-rename had).
- Schema evolution: ``append_new_columns`` (reference ``dbt_project.yml:34``)
  via ``unionByName(allowMissingColumns=True)`` + ``mergeSchema`` reads;
  ``sync_all_columns`` is a plain overwrite (new schema wins,
  ``dim_customer.sql:6``).

The Runner does not call this module directly: ``engine/store.py`` picks
this backend or :mod:`txlog` once per run (``Runner(table_format=...)``).
The streaming sinks and the vector-index artifacts write here directly.
:func:`merge_rows` and :func:`predicates_expr` are the key-merge core and
the ``(col, op, value)`` grammar the txlog backend shares.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf), jvm


def _hpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def recover(spark: SparkSession, path: str) -> bool:
    """Restore a table lost to a crash mid-swap (live dir missing but
    ``__old`` present). Returns True if a recovery happened."""
    fs, jvm = _fs(spark, path)
    live, old = _hpath(jvm, path), _hpath(jvm, path + "__old")
    if not fs.exists(live) and fs.exists(old):
        _rename_or_raise(fs, old, live)
        return True
    return False


# Ceiling on driver-collected distinct scope/partition values in scoped
# merges. The collect is bounded BY CONSTRUCTION in healthy pipelines (a
# batch touches few partitions); a key-granular column silently degrades
# to an O(table) rewrite AND an unbounded driver collect — fail loudly
# instead. limit(cap+1) keeps the probe itself driver-safe.
MAX_SCOPE_VALUES = 100_000


def collect_scope_values(df: DataFrame, cols, what: str) -> list:
    """Distinct values/tuples of ``cols`` in ``df``, capped at
    :data:`MAX_SCOPE_VALUES` — raises a clear error above the cap."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    rows = df.select(*cols).distinct().limit(MAX_SCOPE_VALUES + 1).collect()
    if len(rows) > MAX_SCOPE_VALUES:
        raise ValueError(
            f"{what}: over {MAX_SCOPE_VALUES:,} distinct values of "
            f"{cols} in one batch — a scope/partition column this "
            "granular degenerates the scoped merge to a full rewrite and "
            "an unbounded driver collect; cluster on a coarser column or "
            "use an unscoped merge"
        )
    return rows


def parquet_exists(spark: SparkSession, path: str) -> bool:
    recover(spark, path)
    fs, jvm = _fs(spark, path)
    p = _hpath(jvm, path)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            return True
    return False


# mergeSchema fast-path bound: a table with at most this many data files
# gets its footers compared driver-side (pyarrow, ~1 ms/footer) so the
# common no-evolution case can skip Spark's DISTRIBUTED mergeSchema
# schema-inference job — measured 0.5-0.9 s of fixed cost per read_table
# call in the streaming/e2e entries (guide §1.2: remove work, then tune).
# Above the bound (real cluster-scale tables) the driver must not walk
# files one by one, so the original distributed merge runs unchanged.
_SCHEMA_FASTPATH_MAX_FILES = 64


def _uniform_local_schema(path: str) -> bool | None:
    """True if ``path`` is a local directory whose ≤ bound parquet footers
    all carry byte-identical Arrow schemas; None when the fast path cannot
    decide (non-local URI, too many files, unreadable footer) — the caller
    must then fall back to Spark's own mergeSchema. False = schemas
    genuinely differ (evolution happened)."""
    local = path
    if local.startswith("file://"):
        local = local[len("file:"):]
    elif "://" in local or local.startswith("file:"):
        return None
    if not os.path.isdir(local):
        return None
    files = []
    for root, _dirs, names in os.walk(local):
        for n in names:
            if n.endswith(".parquet"):
                files.append(os.path.join(root, n))
                if len(files) > _SCHEMA_FASTPATH_MAX_FILES:
                    return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        first = pq.read_schema(files[0])
        for f in files[1:]:
            if not pq.read_schema(f).equals(first):
                return False
    except Exception:
        return None
    return True


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read back a materialized table; mergeSchema so append_new_columns
    evolution is visible across files written by different runs.

    Fast path (r11): when every footer under the table carries the SAME
    schema — the overwhelmingly common case; evolution is the exception —
    the plain parquet read is identical to the merged one, and skipping
    ``mergeSchema`` skips the distributed footer-merge job Spark runs
    eagerly at DataFrame construction. The check is driver-side pyarrow
    over at most ``_SCHEMA_FASTPATH_MAX_FILES`` (64) footers: bounded
    driver work locally, and at cluster scale (more files) the
    distributed merge runs exactly as before.

    Concurrent-reader safety across the staged-dir swap: in the window
    between the two commit renames the live dir does not exist, but the
    previous committed version is intact at ``__old`` — prefer it, so a
    reader never observes a half-renamed table. (The remaining race — the
    writer deleting ``__old`` between our existence check and the scan —
    is inherent to plain-filesystem tables; a transactional format
    (Delta/Iceberg) is the upgrade path for multi-writer clusters.)"""
    fs, jvm = _fs(spark, path)
    if not fs.exists(_hpath(jvm, path)) and fs.exists(_hpath(jvm, path + "__old")):
        path = path + "__old"
    if _uniform_local_schema(path):
        return spark.read.parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` signals some failures (existing
    destination on HDFS, missing source) by returning False instead of
    raising; treating that as success would silently skip a commit while
    e.g. a streaming checkpoint still advances past the batch. Fail loudly
    so the caller (and its checkpoint) sees the broken commit."""
    if not fs.rename(src, dst):
        raise IOError(f"commit rename failed: {src} -> {dst}")


def _swap_in(spark: SparkSession, path: str, staged_suffix: str = "__staged") -> None:
    """Atomically-ish promote ``path__staged`` to ``path``: clear any stale
    ``__old`` left by a crash after a previous swap's second rename, then
    live → ``__old``, staged → live, drop ``__old``. A crash between the
    renames is repaired by :func:`recover`; readers in the window fall back
    to ``__old`` via :func:`read_table`."""
    fs, jvm = _fs(spark, path)
    staged, live, old = (
        _hpath(jvm, path + staged_suffix),
        _hpath(jvm, path),
        _hpath(jvm, path + "__old"),
    )
    if fs.exists(old):
        # stale from a crash between a previous swap's second rename and
        # its delete — the live dir is the committed version; clear it so
        # rename(live, old) cannot nest-or-fail on an existing destination
        fs.delete(old, True)
    _rename_or_raise(fs, live, old)
    _rename_or_raise(fs, staged, live)
    fs.delete(old, True)


def _stage(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Write ``df`` to ``path__staged``. A staged dir already there is a
    crashed write's leftover, never the live copy, so it is cleared
    first."""
    fs, jvm = _fs(spark, path)
    staged = _hpath(jvm, path + "__staged")
    if fs.exists(staged):
        fs.delete(staged, True)
    df.write.mode("overwrite").parquet(path + "__staged")


def _stage_and_swap(spark: SparkSession, path: str, df: DataFrame) -> None:
    """:func:`_stage` ``df``, then promote it with :func:`_swap_in`."""
    _stage(spark, path, df)
    _swap_in(spark, path)


def _read_back_hinted(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read back a table THIS call just wrote UNPARTITIONED: every footer
    under ``path`` was written from one frame in one job, so its schema
    is exactly that frame's schema (names, order, types, nullability —
    Spark maps non-null to parquet ``required`` and back). Passing it
    explicitly skips the schema-inference job Spark otherwise runs at
    DataFrame construction (one 1-task job + footer read per read-back;
    measured 106 parquet-construction jobs in the 68-materialization DAG
    entry). Partitioned or appended tables must NOT use this: partition
    columns live in directory names (inference appends + type-infers
    them) and appended files may carry evolved schemas."""
    return spark.read.schema(schema).parquet(path)


def overwrite(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: tuple[str, ...] = (),
    return_table: bool = True,
) -> DataFrame | None:
    """``return_table=False`` skips constructing the read-back DataFrame
    (schema inference is paid at construction, ~0.2-0.5 s measured) —
    for the many call sites that write fire-and-forget (sidecar heals,
    index artifacts) and never look at the return value."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if not return_table:
        return None
    if partition_by:
        return read_table(spark, path)
    return _read_back_hinted(spark, path, df.schema)


def append_rows(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: tuple[str, ...] = (),
    return_table: bool = True,
) -> DataFrame | None:
    """dbt ``incremental_strategy='append'``: blind insert, no key
    matching. O(batch) — nothing existing is read or rewritten, the new
    files simply land next to the old ones (per partition dir when
    partitioned). The right strategy for immutable event streams where a
    key can never arrive twice; duplicates are the CALLER's contract, as
    in dbt."""
    recover(spark, path)
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return read_table(spark, path) if return_table else None


def insert_overwrite(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: tuple[str, ...],
    return_table: bool = True,
) -> DataFrame | None:
    """dbt ``incremental_strategy='insert_overwrite'``: replace exactly
    the partitions present in ``df`` (Spark dynamic partition overwrite);
    every other partition directory is untouched — never read, never
    rewritten. The classic Spark-warehouse incremental strategy at 100 TB
    for partition-grain recomputation (no per-key matching — a partition
    is rebuilt wholesale, so late data means re-emitting its WHOLE
    partition, which is exactly dbt's contract for this strategy)."""
    if not partition_by:
        raise ValueError("insert_overwrite requires partition_by")
    recover(spark, path)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return read_table(spark, path) if return_table else None


def replace_slice(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    event_time: str,
    lo,
    hi,
    return_table: bool = True,
) -> DataFrame | None:
    """Replace the ``lo <= event_time < hi`` slice of the table with
    ``df`` — the microbatch materialization primitive. Rows outside the
    window (including NULL event times) survive; the caller guarantees
    ``df``'s rows fall inside the window (dbt's microbatch contract).

    Parquet backend: filter + union + crash-safe staged swap — O(table)
    per batch, always correct. The O(touched-files) path is the txlog
    backend's ``replace_where`` (footer-stat file skipping on the
    event-time range); at 100 TB use that or declare a time-derived
    ``partition_by`` and the insert_overwrite strategy instead."""
    recover(spark, path)
    existing = read_table(spark, path)
    in_window = (F.col(event_time) >= F.lit(lo)) & (F.col(event_time) < F.lit(hi))
    kept = existing.filter(~F.coalesce(in_window, F.lit(False)))
    merged = kept.unionByName(df, allowMissingColumns=True)
    _stage_and_swap(spark, path, merged)
    if not return_table:
        return None
    return _read_back_hinted(spark, path, merged.schema)


def predicate_expr(col: str, op: str, val):
    """One ``(col, op, value)`` comparison as a Column — the one
    definition of the predicate grammar, shared with txlog (snapshot
    pruning, merge windows, replace_where, delete), so the same
    ``incremental_predicates`` triples drive BOTH backends."""
    c = F.col(col)
    return {
        "==": c == F.lit(val),
        "<": c < F.lit(val),
        "<=": c <= F.lit(val),
        ">": c > F.lit(val),
        ">=": c >= F.lit(val),
    }[op]


def predicates_expr(predicates):
    """The AND of a non-empty list of ``(col, op, value)`` triples."""
    pred = None
    for col, op, val in predicates:
        c = predicate_expr(col, op, val)
        pred = c if pred is None else (pred & c)
    return pred


def merge_rows(
    existing: DataFrame,
    updates: DataFrame,
    keys,
    predicates=(),
    keep_newer_ts: str | None = None,
    allow_missing: bool = True,
) -> DataFrame:
    """The key-merge core of every upsert in both backends: existing
    rows whose key appears in ``updates`` are replaced, all others
    survive, new keys are inserted. With ``predicates`` only the
    in-window slice of ``existing`` enters the anti-join; the out-window
    slice (NULL counts as out) unions back verbatim. ``allow_missing`` is
    ``unionByName(allowMissingColumns=...)``: parquet always evolves,
    txlog only when the caller allows it."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    out_window = None
    if predicates:
        pred = predicates_expr(predicates)
        out_window = existing.filter(~F.coalesce(pred, F.lit(False)))
        existing = existing.filter(pred)
    if keep_newer_ts is not None:
        # drop updates older than the already-materialized row for their
        # key (one pruned join on (key, ts) — the conditional-merge
        # predicate expressed relationally)
        ex_ts = existing.select(
            *keys, F.col(keep_newer_ts).alias("__existing_ts")
        )
        updates = (
            updates.join(ex_ts, on=keys, how="left")
            .filter(
                F.col("__existing_ts").isNull()
                | (F.col(keep_newer_ts) >= F.col("__existing_ts"))
            )
            .drop("__existing_ts")
        )
    # left_anti dedups its right side by definition — no explicit
    # distinct (it would add a full aggregate + exchange to every merge)
    kept = existing.join(updates.select(*keys), keys, "left_anti")
    merged = kept.unionByName(updates, allowMissingColumns=allow_missing)
    if out_window is not None:
        merged = out_window.unionByName(
            merged, allowMissingColumns=allow_missing
        )
    return merged


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    unique_key: str,
    partition_by: tuple[str, ...] = (),
    keep_newer_ts: str | None = None,
    predicates: tuple = (),
    return_table: bool = True,
) -> DataFrame | None:
    """Upsert ``updates`` into the parquet table at ``path`` on ``unique_key``.

    WHEN MATCHED → update (the new row wins), WHEN NOT MATCHED → insert;
    identical to the reference's dbt incremental merge semantics.

    ``keep_newer_ts``: name of a timestamp column — when set, a matched
    update only replaces the existing row if its timestamp is >= the
    existing row's (WHEN MATCHED **AND** ``u.ts >= e.ts``). This makes the
    merge safe under out-of-order delivery: a late-arriving file carrying
    an OLDER version of a key can no longer clobber a newer row (the
    failure mode of blind new-row-wins in streaming micro-batch sinks).
    Ties go to the update (idempotent redelivery of the newest version).

    ``predicates``: dbt ``incremental_predicates`` — ``(col, op, value)``
    triples ANDed together. Existing rows that do NOT satisfy every
    predicate (NULL counts as not satisfying, SQL merge semantics) are
    carried forward UNTOUCHED and never enter the key-match join — the
    merge's expensive side is pruned to the predicate window.
    CONTRACT (dbt's own): incoming keys only ever live inside the
    window; a key whose existing row sits outside it would duplicate.
    """
    recover(spark, path)
    if partition_by:
        return _merge_partition_scoped(
            spark, path, updates, unique_key, partition_by, keep_newer_ts,
            predicates, return_table,
        )
    return _merge_full(
        spark, path, updates, unique_key, keep_newer_ts, predicates,
        return_table,
    )


def _merge_partition_scoped(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    unique_key: str,
    partition_by: tuple[str, ...],
    keep_newer_ts: str | None = None,
    predicates: tuple = (),
    return_table: bool = True,
) -> DataFrame | None:
    """Merge touching only the partitions present in ``updates``.

    The ``isin`` filter on the partition columns prunes the existing-table
    scan to those directories; dynamic partition overwrite rewrites exactly
    the same set. Blast radius of a mid-commit crash = the touched
    partitions (vs the whole table for a global swap); a transactional
    format (Delta/Iceberg) is the upgrade path, and the Runner call-site
    is the only change needed.
    """
    # updates may be consumed twice (values + write) — tiny driver-side
    # collect of distinct partition tuples, bounded by partition count
    # (and capped: see collect_scope_values)
    touched = collect_scope_values(
        updates, partition_by, "partitioned merge"
    )
    if not touched:
        return read_table(spark, path) if return_table else None

    existing = read_table(spark, path)
    cond = None
    for row in touched:
        row_cond = None
        for col in partition_by:
            c = (
                F.col(col).isNull()
                if row[col] is None
                else (F.col(col) == F.lit(row[col]))
            )
            row_cond = c if row_cond is None else (row_cond & c)
        cond = row_cond if cond is None else (cond | row_cond)
    # incremental_predicates: in-window rows key-match; out-window rows
    # of the SAME touched partitions carry forward verbatim (they rewrite
    # with their partition either way — the prune is the join side, the
    # point of the dbt config)
    merged = merge_rows(
        existing.filter(cond), updates, unique_key, predicates, keep_newer_ts
    )
    # break lineage so Spark allows overwriting a path we also read from;
    # only the touched partitions' rows are materialized
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return read_table(spark, path) if return_table else None


def _merge_full(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    unique_key: str,
    keep_newer_ts: str | None = None,
    predicates: tuple = (),
    return_table: bool = True,
) -> DataFrame | None:
    """Global merge with a crash-safe directory swap. With
    ``predicates``, only the in-window slice of the existing table
    enters the anti-join; the out-window slice unions back verbatim."""
    merged = merge_rows(
        read_table(spark, path), updates, unique_key, predicates, keep_newer_ts
    )
    _stage_and_swap(spark, path, merged)
    if not return_table:
        return None
    return _read_back_hinted(spark, path, merged.schema)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_key: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
) -> None:
    """Materialize as a BUCKETED parquet table (catalog-registered, external
    path): rows are hash-clustered into ``num_buckets`` files per partition
    by ``bucket_key``, and the layout is recorded in the catalog.

    This is the co-location contract the big fact⋈fact joins need at 100 TB:
    two tables bucketed on the same key with the same bucket count join (and
    groupBy on the key aggregates) with ZERO exchanges — the shuffle is paid
    once at write time, then amortized over every downstream read
    (tests/test_bucketing.py asserts the exchange-free plan). ``sort_by``
    additionally orders within buckets so sort-merge joins skip their sort.
    """
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, *keys)
    )
    if sort_by is not None:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table_name)


def compact(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction for parquet tables fed by streaming/incremental
    sinks: rewrite the table into ``ceil(total_bytes / target)`` files using
    the same crash-safe staged-dir swap as the merge path. Returns the new
    file count.

    Micro-batch merges and per-trigger appends accumulate files far below
    the scan-efficient size; at 100 TB the resulting open/seek overhead and
    tiny row groups dominate scan time. Compaction is a maintenance op —
    data is unchanged (no shuffle: ``coalesce`` only glues splits), readers
    see either the old or the new layout atomically.
    """
    fs, jvm = _fs(spark, path)
    live = _hpath(jvm, path)
    total = fs.getContentSummary(live).getLength()
    n_files = max(1, -(-total // target_file_bytes))  # ceil

    df = spark.read.parquet(path).coalesce(int(n_files))
    _stage_and_swap(spark, path, df.localCheckpoint(eager=True))
    out_fs_files = [
        f
        for f in fs.listStatus(live)
        if f.getPath().getName().startswith("part-")
    ]
    return len(out_fs_files)


# -- dry-run markers (dbt --empty) -------------------------------------------
# A table materialized by an --empty run is a SCHEMA artifact, not data:
# if a later incremental run treated it as an existing target, the model's
# is_incremental() branch would merge the lookback window into a zero-row
# base and silently drop all history. The marker file records "this dir
# was written by a dry run"; has_existing() ignores marked tables, so the
# first real build takes the from-scratch branch (and clears the marker).

DRY_RUN_MARKER = "_dry_run"


def mark_dry_run(spark: SparkSession, path: str) -> None:
    fs, jvm = _fs(spark, path)
    fs.create(_hpath(jvm, f"{path}/{DRY_RUN_MARKER}"), True).close()


def clear_dry_run(spark: SparkSession, path: str) -> None:
    fs, jvm = _fs(spark, path)
    fs.delete(_hpath(jvm, f"{path}/{DRY_RUN_MARKER}"), False)


def is_dry_run(spark: SparkSession, path: str) -> bool:
    fs, jvm = _fs(spark, path)
    return fs.exists(_hpath(jvm, f"{path}/{DRY_RUN_MARKER}"))
