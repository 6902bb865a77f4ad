"""``spark.read.format("txlog")`` — a PySpark 4 Python DataSource over
the engine's transactional table format (engine/txlog.py), batch AND
structured-streaming.

The reference's warehouse is Snowflake tables; this repo's analog is the
txlog format, which until now was reachable only through the
:class:`~furchild_spark.engine.txlog.TxTable` API. Registering it as a
native data source gives the Delta-style UX on public Spark surface
(``pyspark.sql.datasource``, Spark 4.0+):

- ``spark.read.format("txlog").load(path)`` — snapshot-isolated batch
  read of the latest (or ``versionAsOf``) commit: the file list comes
  from one immutable manifest, so concurrent commits/vacuums of other
  versions never change what a query reads.
- **File-pruning filter pushdown**: :meth:`TxLogReader.pushFilters`
  receives Catalyst's translated predicates and drops every data file
  whose manifest footer stats PROVE it cannot match (the same zone-map
  logic ``TxTable.snapshot(where=...)`` uses). All filters are returned
  as "unsupported" so Spark still applies them row-level — pruning is
  purely a scan reduction, correctness never depends on it. At 100 TB
  this is the difference between scanning a partition's worth of files
  and scanning the table.
- ``spark.readStream.format("txlog").load(path)`` — a version-offset
  micro-batch stream (Delta streaming-source parity): each txlog COMMIT
  is an offset; a batch emits exactly the data files ADDED between two
  versions. Add-only commits (``txlog.ADD_ONLY_OPS``: append and
  stream_append) stream exactly-once by construction (files are
  immutable, offsets are durable versions). Other commits
  (merge/replace/delete/overwrite/restore/stream_merge/...) raise unless
  ``ignoreChanges=true``, which emits newly added files and skips
  removals — dbt/Delta's documented semantics for streaming from a
  mutating table.

Workers read the parquet files with pyarrow (Arrow batches go straight
back to the JVM — no per-row Python), reconciling each file's physical
schema against the manifest schema so ``append_new_columns`` evolution
yields nulls for columns an old file predates, exactly like
``TxTable.snapshot``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _table(table_dir: str, stats_cols: tuple[str, ...] = ()):
    """The format's own :class:`TxTable` over ``table_dir`` — log reads,
    file skipping, footer stats, bloom and the commit loop are all its.
    ``spark=None``: only the filesystem/pyarrow half is used. Imported on
    call, so importing this module does not import the engine package."""
    from furchild_spark.engine.txlog import TxTable

    return TxTable(None, table_dir, stats_cols=stats_cols)


def _head_version(table_dir: str) -> int:
    v = _table(table_dir).current_version()
    if v == 0:
        raise ValueError(f"{table_dir}: not a txlog table (no _txlog dir)")
    return v


def _translate_filters(filters):
    """Catalyst Filter objects -> (col, op, value) triples for manifest
    pruning. Only top-level single-column comparisons translate; every
    other shape is simply not used for pruning (and ALL filters are
    re-applied by Spark row-level regardless)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    ops = {
        EqualTo: "==",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    out = []
    for f in filters:
        op = ops.get(type(f))
        if op is None or len(f.attribute) != 1:
            continue
        out.append((f.attribute[0], op, f.value))
    return out


class _FilesPartition(InputPartition):
    def __init__(self, paths: list[str], schema_json: str):
        self.paths = paths
        self.schema_json = schema_json


def _nullable(schema: StructType) -> StructType:
    """Widen every field to nullable — what Spark's own parquet reads
    do with a user schema. The manifest records the WRITER's nullability
    (a lit() column comes in non-null), but schema evolution means older
    files legitimately read back null for later columns; declaring the
    writer's tighter nullability at the READ boundary would NPE in the
    JVM on those rows."""
    import copy

    out = copy.deepcopy(schema)
    for f in out.fields:
        f.nullable = True
    return out


def _read_files_arrow(partition):
    """Yield Arrow record batches for the partition's files, reconciled
    to the manifest schema (missing evolved columns -> nulls, column
    order normalized). Runs on executors; pyarrow-only, no Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = _nullable(StructType.fromJson(json.loads(partition.schema_json)))
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(target)
    for path in partition.paths:
        t = pq.read_table(path)
        cols = []
        for field in arrow_schema:
            if field.name in t.schema.names:
                cols.append(t.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(t.num_rows, type=field.type))
        for batch in pa.Table.from_arrays(cols, schema=arrow_schema).to_batches():
            yield batch


class TxLogReader(DataSourceReader):
    def __init__(self, table_dir: str, version: int):
        self.table_dir = table_dir
        self.manifest = _table(table_dir)._read_manifest(version)
        self.predicates: list = []

    def pushFilters(self, filters):
        self.predicates = _translate_filters(filters)
        # everything is "unsupported": Spark keeps row-level filtering,
        # we keep the translated triples for manifest file pruning
        return filters

    def partitions(self):
        tx = _table(self.table_dir)
        schema_json = json.dumps(self.manifest["schema"])
        entries = self.manifest["files"]
        if self.predicates:
            # the format's own conservative zone-map/bloom skipping — ONE
            # pruning semantics, whichever door the read comes through
            entries = [
                e for e in entries if tx._file_may_match(e, self.predicates)
            ]
        parts = [
            _FilesPartition([tx._abs(e["path"])], schema_json)
            for e in entries
        ]
        # an empty table (or fully pruned scan) still needs ≥1 partition
        return parts or [_FilesPartition([], schema_json)]

    def read(self, partition):
        yield from _read_files_arrow(partition)


class TxLogStreamReader(DataSourceStreamReader):
    def __init__(self, table_dir: str, options: dict):
        self.table_dir = table_dir
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        start = options.get("startingversion")
        # default: stream the whole table from its first commit
        self.start_version = int(start) if start is not None else 0

    def initialOffset(self):
        return {"version": self.start_version}

    def latestOffset(self):
        return {"version": _head_version(self.table_dir)}

    def partitions(self, start: dict, end: dict):
        from furchild_spark.engine.txlog import ADD_ONLY_OPS

        tx = _table(self.table_dir)
        v0, v1 = int(start["version"]), int(end["version"])
        prev_paths: set = set()
        if v0 > 0:
            prev_paths = {e["path"] for e in tx._read_manifest(v0)["files"]}
        parts = []
        for v in range(v0 + 1, v1 + 1):
            m = tx._read_manifest(v)
            # version 1 is always the table's initial population
            if (
                v > 1
                and m["op"] not in ADD_ONLY_OPS
                and not self.ignore_changes
            ):
                raise ValueError(
                    f"txlog stream: version {v} is a {m['op']!r} commit — "
                    "streaming a mutating table re-emits rewritten rows; "
                    "pass ignoreChanges=true to stream newly added files "
                    "and skip removals (Delta semantics)"
                )
            cur = {e["path"] for e in m["files"]}
            new = cur - prev_paths
            if new:
                parts.append(
                    _FilesPartition(
                        [tx._abs(p) for p in sorted(new)],
                        json.dumps(m["schema"]),
                    )
                )
            prev_paths = cur
        if not parts:
            schema = tx._read_manifest(max(v1, 1))["schema"] if tx.exists() else {}
            parts = [_FilesPartition([], json.dumps(schema))]
        return parts

    def read(self, partition):
        yield from _read_files_arrow(partition)

    def commit(self, end):
        pass  # offsets are durable txlog versions; nothing to release


class _TxWriteMessage(WriterCommitMessage):
    def __init__(self, entries: list[dict], rows: int):
        self.entries = entries
        self.rows = rows


def _written(messages) -> tuple[list[dict], int]:
    """(file entries, rows) the tasks of one write reported."""
    return (
        [e for m in messages if m for e in m.entries],
        sum(m.rows for m in messages if m),
    )


class TxLogArrowWriter(DataSourceArrowWriter):
    """``df.write.format("txlog")`` — the write half of the source.

    Each executor task streams its Arrow batches into ONE immutable
    parquet file under a fresh ``data/<uuid>/`` dir and returns the
    manifest entry (relative path, row count, footer min/max stats and
    bloom filter for ``statsCols``, built by ``TxTable._file_entry``) as
    its commit message; the driver's :meth:`commit` then publishes a
    manifest through ``TxTable._commit_loop`` — the one commit loop
    every TxTable write uses, hard-link claim and re-plan on a lost race
    included. Files from failed/aborted attempts are never referenced by
    any manifest (and :meth:`abort` unlinks the reported ones), so
    readers can't see partial writes — vacuum sweeps any orphans a hard
    crash leaves.

    ``mode("append")`` is TxTable's add-only commit: it carries the
    prior version's files by reference (O(new data), never a rewrite)
    and runs ``TxTable.append``'s schema check, so a missing, new or
    retyped column raises and commits nothing — schema evolution stays an
    explicit
    ``TxTable.append(allow_evolution=True)`` decision, not a write-path
    default. ``clusterBy`` layout is also TxTable's job (it needs a
    repartition the sink cannot impose); ``statsCols`` still lets an
    unclustered write record skipping stats."""

    def __init__(self, table_dir: str, schema: StructType, overwrite: bool,
                 options: dict):
        self.table_dir = table_dir
        self.schema = schema
        self.overwrite = overwrite
        cols = options.get("statscols", "")
        self.stats_cols = tuple(c.strip() for c in cols.split(",") if c.strip())

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        writer = None
        rel = None
        rows = 0
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                commit_id = uuid.uuid4().hex
                out_dir = os.path.join(self.table_dir, "data", commit_id)
                os.makedirs(out_dir, exist_ok=True)
                rel = os.path.join("data", commit_id, "part-0.parquet")
                writer = pq.ParquetWriter(
                    os.path.join(self.table_dir, rel), batch.schema
                )
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:
            return _TxWriteMessage([], 0)  # empty task: nothing to commit
        writer.close()
        entry = _table(self.table_dir, self.stats_cols)._file_entry(rel)
        return _TxWriteMessage([entry], entry["rows"])

    def commit(self, messages):
        tx = _table(self.table_dir)
        entries, rows = _written(messages)
        add = tx._add_plan(self.schema, lambda: (entries, rows), "append")

        def plan(base, head):
            if self.overwrite or head is None:
                return tx._manifest_for(
                    None, "overwrite", entries, rows, schema=self.schema
                )
            return add(base, head)

        tx._commit_loop(plan)

    def abort(self, messages):
        for m in messages:
            if not m:
                continue
            for e in m.entries:
                try:
                    os.unlink(os.path.join(self.table_dir, e["path"]))
                except FileNotFoundError:
                    pass


class TxLogStreamArrowWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("txlog")`` — transactional streaming sink.

    Tasks write files exactly like the batch writer (delegated); the
    driver commits each micro-batch as ONE ``stream_append`` manifest —
    TxTable's add-only commit with its schema check — through
    ``TxTable._commit_loop``. With ``txnAppId`` set, the loop's
    watermark check applies: the manifest records the Delta-style
    ``{app_id: batch_id}`` watermark IN THE SAME atomic commit as the
    data (txlog's ``write_stream_batch`` contract), so a redelivered
    batch — Structured Streaming's at-least-once failure mode — finds
    ``batchId <= last_txn``, commits nothing and unlinks its files:
    exactly-once, with no window where data landed but the watermark
    didn't. Without
    ``txnAppId`` the sink is plain at-least-once append; the option is
    deliberately explicit because a WRONG shared app id across two
    queries would silently drop the second query's batches (the same
    reason Delta's foreachBatch idempotence requires explicit
    txnAppId/txnVersion)."""

    def __init__(self, table_dir: str, schema: StructType, options: dict):
        self._w = TxLogArrowWriter(table_dir, schema, False, options)
        self.table_dir = table_dir
        self.schema = schema
        self.txn_app_id = options.get("txnappid")

    def write(self, iterator):
        return self._w.write(iterator)

    def commit(self, messages, batchId):
        tx = _table(self.table_dir)
        entries, rows = _written(messages)
        txn = None if self.txn_app_id is None else (self.txn_app_id, batchId)
        add = tx._add_plan(self.schema, lambda: (entries, rows), "stream_append")
        if tx._commit_loop(add, txn) is None:
            # duplicate delivery: the batch is already inside a committed
            # manifest — drop OUR files (fresh duplicates nothing
            # references)
            self._w.abort(messages)

    def abort(self, messages, batchId):
        self._w.abort(messages)


class TxLogDataSource(DataSource):
    """``format("txlog")``: options ``path`` (table dir), ``versionAsOf``
    (batch time travel), ``startingVersion`` / ``ignoreChanges``
    (stream)."""

    @classmethod
    def name(cls):
        return "txlog"

    def _table_dir(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("txlog source requires a path (load(path))")
        return path

    def _batch_version(self) -> int:
        v = self.options.get("versionasof")
        return int(v) if v is not None else _head_version(self._table_dir())

    def schema(self):
        return _nullable(StructType.fromJson(
            _table(self._table_dir())._read_manifest(self._batch_version())["schema"]
        ))

    def reader(self, schema):
        return TxLogReader(self._table_dir(), self._batch_version())

    def streamReader(self, schema):
        return TxLogStreamReader(self._table_dir(), dict(self.options))

    def writer(self, schema, overwrite):
        return TxLogArrowWriter(
            self._table_dir(), schema, overwrite, dict(self.options)
        )

    def streamWriter(self, schema, overwrite):
        return TxLogStreamArrowWriter(
            self._table_dir(), schema, dict(self.options)
        )


def register(spark) -> None:
    """Idempotently register the source on a session:
    ``spark.dataSource.register(TxLogDataSource)``.

    Also enables ``spark.sql.python.filterPushdown.enabled`` — a runtime
    SQL conf checked at read-planning time: ``TxLogReader.pushFilters``
    (manifest file pruning) raises ``DATA_SOURCE_PUSHDOWN_DISABLED`` on
    any session that does not carry it. The repo's own session factory
    sets it, but externally constructed sessions (the bench driver, a
    bare ``SparkSession.builder``) do not, so the registration helper is
    the one place every consumer of the format must pass through.

    Same-session re-registration replaces silently. A cloned session
    (``newSession()``) raises ``DATA_SOURCE_ALREADY_EXISTS`` on
    re-register; that error is swallowed only when ``format("txlog")``
    then resolves on this session. On Spark 4.1 it does not resolve on a
    clone (the clone's lookup misses the parent's registration, while
    registering collides with it), so register() raises a RuntimeError
    naming that limitation instead of leaving a later read to fail with
    ``DATA_SOURCE_NOT_FOUND``."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    name = TxLogDataSource.name()
    try:
        spark.dataSource.register(TxLogDataSource)
    except Exception as e:  # AnalysisException; avoid the pyspark import
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
        manager = spark._jsparkSession.sessionState().dataSourceManager()
        if not manager.dataSourceExists(name):
            raise RuntimeError(
                f'format("{name}") does not resolve on this session: it is '
                "a newSession() clone of a session that already registered "
                "the source, and a clone can neither see nor re-register "
                "a Python data source of its parent. Read txlog tables on "
                "the session that registered the source, or through "
                "TxTable.snapshot()."
            ) from e
