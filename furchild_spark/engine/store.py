"""Warehouse table stores: the one place a run's storage backend is chosen.

``Runner(table_format=...)`` and the CLI's ``--table-format`` name a
backend; :func:`make_store` turns that name into one of the two stores
below, and the Runner, the :func:`~.hooks.compact_txlog` hook and the
``docs`` catalog talk only to the store they get:

- :class:`ParquetStore` — plain parquet dirs committed by the crash-safe
  staged-dir swap (:mod:`.materialize`);
- :class:`TxlogStore` — :class:`~.txlog.TxTable` manifests: atomic
  commits, snapshot isolation, file-scoped merges.

Both offer the same calls, each taking the table ``path`` and its
:class:`~.registry.Model` (``None`` for a table no model declares). A
write returns the frame the Runner caches for the model: on parquet the
read-back of the table the call just wrote (schema-hinted where
:mod:`.materialize` can), on txlog the new ``snapshot()``. The stores
call :mod:`.materialize`, :mod:`.snapshot` and ``TxTable`` through their
public names, so anything that wraps those names sees every write.
"""

from __future__ import annotations

import os

from . import materialize as mat
from . import snapshot as snap
from . import txlog


def _scd2_options(model, now) -> dict:
    """The snapshot config of ``model`` as ``scd2_apply`` keywords."""
    return {
        "strategy": model.snapshot_strategy,
        "updated_at": model.updated_at,
        "check_cols": list(model.check_cols) if model.check_cols else None,
        "now": now,
    }


class ParquetStore:
    """Plain parquet directories (:mod:`.materialize`)."""

    def __init__(self, spark) -> None:
        self.spark = spark

    def exists(self, path: str, model=None) -> bool:
        return mat.parquet_exists(self.spark, path)

    def read(self, path: str, model=None):
        return mat.read_table(self.spark, path)

    def overwrite(self, path: str, model, df, partition_by=()):
        return mat.overwrite(self.spark, path, df, partition_by=partition_by)

    def append(self, path: str, model, df):
        return mat.append_rows(
            self.spark, path, df, partition_by=model.partition_by
        )

    def insert_overwrite(self, path: str, model, df):
        return mat.insert_overwrite(self.spark, path, df, model.partition_by)

    def merge(self, path: str, model, df):
        return mat.merge_upsert(
            self.spark, path, df, model.unique_key,
            partition_by=model.partition_by,
            predicates=model.incremental_predicates,
        )

    def snapshot(self, path: str, model, df, now):
        return snap.snapshot_merge(
            self.spark, path, df, model.unique_key, **_scd2_options(model, now)
        )

    def replace_slice(self, path: str, model, df, lo, hi) -> None:
        mat.replace_slice(
            self.spark, path, df, model.event_time, lo, hi, return_table=False
        )

    def compact(self, path: str, model, small_file_bytes: int) -> None:
        """No-op: parquet tables are compacted by the maintenance call
        :func:`materialize.compact`, not by a model hook."""

    def stats(self, path: str) -> dict | None:
        """Row count / bytes / file count / schema from parquet FOOTERS —
        pyarrow, driver-side, no Spark job. Walks recursively so
        partition_by subdirectories (insert_overwrite layouts) are
        covered; skips staged/old swap dirs, which are not the committed
        table."""
        import json as _json

        import pyarrow.parquet as pq

        if not os.path.isdir(path):
            return None
        rows, nbytes, nfiles = 0, 0, 0
        schema: dict[str, str] = {}
        part_vals: dict[str, list] = {}
        for root, dirs, files in os.walk(path):
            dirs[:] = [
                d for d in dirs
                if not d.endswith(("__staged", "__old")) and not d.startswith(".")
            ]
            # Hive-style partition directories (partition_by layouts): the
            # partition columns live in PATHS, never in footers — collect
            # their values so the catalog schema matches what a Spark read
            # of the table resolves
            for d in dirs:
                if "=" in d:
                    k, _, v = d.partition("=")
                    part_vals.setdefault(k, []).append(v)
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                fp = os.path.join(root, f)
                md = pq.ParquetFile(fp).metadata
                rows += md.num_rows
                nbytes += os.path.getsize(fp)
                nfiles += 1
                # Spark stamps its OWN schema JSON into the footer's
                # key-value metadata — exact Spark type names (timestamp
                # vs timestamp_ntz survive), still zero data reads. Merged
                # across files so append_new_columns evolution is visible.
                kv = md.metadata or {}
                sj = kv.get(b"org.apache.spark.sql.parquet.row.metadata")
                if sj:
                    from pyspark.sql.types import StructType

                    for fld in StructType.fromJson(_json.loads(sj)).fields:
                        schema.setdefault(fld.name, fld.dataType.simpleString())
                else:  # non-Spark writer: fall back to arrow names
                    sch = pq.read_schema(fp)
                    for n, t in zip(sch.names, sch.types):
                        schema.setdefault(n, str(t))
        if nfiles == 0:
            return None
        for k, vals in part_vals.items():
            schema.setdefault(k, _infer_partition_type(vals))
        return {
            "row_count": rows,
            "bytes": nbytes,
            "files": nfiles,
            "columns": schema,
        }


def _infer_partition_type(vals: list) -> str:
    """Spark's partition-column type inference, the subset these
    warehouses produce: int -> bigint-if-needed -> date -> timestamp ->
    double -> string."""
    import datetime as _dt

    vals = [v for v in vals if v != "__HIVE_DEFAULT_PARTITION__"]

    def all_parse(fn) -> bool:
        try:
            for v in vals:
                fn(v)
            return bool(vals)
        except (ValueError, TypeError):
            return False

    if all_parse(int):
        return (
            "int"
            if all(-(2**31) <= int(v) < 2**31 for v in vals)
            else "bigint"
        )
    if all_parse(_dt.date.fromisoformat):
        return "date"
    if all_parse(
        lambda v: _dt.datetime.fromisoformat(v.replace("%3A", ":"))
    ):
        return "timestamp"
    if all_parse(float):
        return "double"
    return "string"


class TxlogStore:
    """Transaction-logged tables (:class:`~.txlog.TxTable`)."""

    def __init__(self, spark, target_files: int | None = None) -> None:
        self.spark = spark
        # explicit data-file count for clustered writes. Small
        # fixture-scale batches need it because AQE folds a column-only
        # range repartition into one file (killing file-scoped merges);
        # at scale None is right — AQE sizes files from data volume.
        self.target_files = target_files

    def table(self, path: str, model=None) -> txlog.TxTable:
        """The TxTable at ``path``. New data files cluster+carry footer
        stats on the model's partition_by columns — plus the event_time
        column for microbatch models, so each batch's ``replace_where``
        slice prunes to the touched files instead of rewriting the whole
        table (r6 ADVICE)."""
        cluster = tuple(model.partition_by) if model else ()
        stats = cluster
        if model is not None and model.event_time:
            stats = tuple(dict.fromkeys(cluster + (model.event_time,)))
        if model is not None and model.incremental_predicates:
            # footer stats on the predicate columns are what lets the
            # merge prune whole files to the predicate window — and
            # clustering on them gives each file a narrow range to
            # prune against (without it every file straddles the window)
            pcols = tuple(p[0] for p in model.incremental_predicates)
            cluster = tuple(dict.fromkeys(cluster + pcols))
            stats = tuple(dict.fromkeys(stats + pcols))
        tx = txlog.TxTable(self.spark, path, cluster_by=cluster, stats_cols=stats)
        tx.target_files = self.target_files
        return tx

    def exists(self, path: str, model=None) -> bool:
        return self.table(path, model).exists()

    def read(self, path: str, model=None):
        return self.table(path, model).snapshot()

    def overwrite(self, path: str, model, df, partition_by=()):
        tx = self.table(path, model)
        tx.overwrite(df)
        return tx.snapshot()

    def append(self, path: str, model, df):
        tx = self.table(path, model)
        tx.append(df)
        return tx.snapshot()

    def insert_overwrite(self, path: str, model, df):
        if len(model.partition_by) != 1:
            raise ValueError(
                f"model {model.name}: txlog insert_overwrite needs exactly "
                "one partition_by column (the file-scope key)"
            )
        tx = self.table(path, model)
        tx.replace_scope(df, model.partition_by[0])
        return tx.snapshot()

    def merge(self, path: str, model, df):
        tx = self.table(path, model)
        # file-scoped merge when a single partition column is declared
        # (the same stable-scope precondition as the parquet backend's
        # partition-scoped overwrite)
        scope = model.partition_by[0] if len(model.partition_by) == 1 else None
        tx.merge(
            df, [model.unique_key], scope_col=scope,
            predicates=model.incremental_predicates,
        )
        return tx.snapshot()

    def snapshot(self, path: str, model, df, now):
        snap.validate_snapshot_source(
            df, model.unique_key, model.snapshot_strategy, model.updated_at
        )
        tx = self.table(path, model)
        opts = _scd2_options(model, now)
        # compare-and-swap: losing a concurrent-writer race re-runs the
        # SCD2 transform on the winner's snapshot instead of clobbering
        # it with a stale merge
        tx.transform(
            lambda current: snap.scd2_apply(df, current, model.unique_key, **opts),
            op="snapshot",
        )
        return tx.snapshot()

    def replace_slice(self, path: str, model, df, lo, hi) -> None:
        et = model.event_time
        self.table(path, model).replace_where(df, [(et, ">=", lo), (et, "<", hi)])

    def compact(self, path: str, model, small_file_bytes: int) -> None:
        """The ``OPTIMIZE`` post-hook body; a table with no commit yet
        is left alone."""
        tx = self.table(path, model)
        if tx.exists():
            tx.compact(small_file_bytes=small_file_bytes)

    def stats(self, path: str) -> dict | None:
        """Stats from the txlog commit manifest: row count is O(1)
        (recorded at commit from the writers' footers), bytes/files/schema
        come from the manifest's file list — still zero data reads."""
        from pyspark.sql.types import StructType

        tx = self.table(path)
        if not tx.exists():
            return None
        v = tx.current_version()
        m = tx._read_manifest(v)
        schema = StructType.fromJson(m["schema"])
        nbytes = 0
        for e in m["files"]:
            try:
                nbytes += os.path.getsize(tx._abs(e["path"]))
            except OSError:
                pass
        return {
            "row_count": m["num_rows"],
            "bytes": nbytes,
            "files": len(m["files"]),
            "columns": {f.name: f.dataType.simpleString() for f in schema.fields},
            "version": v,
        }


def make_store(spark, table_format: str, tx_target_files: int | None = None):
    """The store for ``table_format`` ("parquet" or "txlog");
    ``tx_target_files`` only applies to txlog writes."""
    if table_format == "parquet":
        return ParquetStore(spark)
    if table_format == "txlog":
        return TxlogStore(spark, tx_target_files)
    raise ValueError(f"unknown table_format {table_format!r}")
