"""Model registry + DAG runner — the thin dbt replacement (SURVEY.md §3.4).

The reference's orchestration layer is dbt: a manifest DAG of ``ref()`` /
``source()`` edges, topologically executed, each node materialized per its
``materialized=`` config (reference ``dbt_project.yml:18-39``). Here a model
is a plain Python function taking an :class:`ExecutionContext` and returning
a DataFrame; the registry resolves ``ctx.ref()`` recursively (memoized), so
topological order falls out of the call graph — no separate scheduler is
needed, and Catalyst sees the *whole* composed plan when models are views
(letting filter pushdown cross model boundaries, which dbt-on-Snowflake only
gets for views too).

Materialization modes mirror the reference:

- ``table``        → persist parquet to the warehouse dir, read back
                     (reference ``dbt_project.yml:20``)
- ``view``         → lazy DataFrame, inlined by Catalyst
                     (``models/staging/stg_transactions.sql:1``)
- ``ephemeral``    → same as view (CTE inlining)
- ``incremental``  → first run full write; later runs apply the model's
                     ``incremental_strategy`` (the dbt strategy set):
                     ``merge`` upserts on ``unique_key``
                     (``fct_orders.sql:1-5``; materialize.merge_upsert),
                     ``append`` blind-inserts, ``insert_overwrite``
                     replaces exactly the batch's partitions (dynamic
                     partition overwrite / txlog replace_scope), and
                     ``microbatch`` (dbt 1.9) re-runs the model fn once
                     per event-time batch, each batch atomically
                     replacing its own time slice.
"""

from __future__ import annotations

import datetime as dt
import threading
import warnings
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from . import materialize as mat
from .store import make_store

DEFAULT_VARS = {
    # reference dbt_project.yml:12-14
    "vat_rate": 0.05,
    "monthly_discount_rate": 0.009,  # declared but never consumed (SURVEY §0)
}


# -- microbatch calendar arithmetic (naive UTC datetimes, like the rest of
# the engine clock) ---------------------------------------------------------

def _trunc_to(t: dt.datetime, unit: str) -> dt.datetime:
    if unit == "hour":
        return t.replace(minute=0, second=0, microsecond=0)
    if unit == "day":
        return t.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "month":
        return t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    return t.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)


def _add_one(t: dt.datetime, unit: str) -> dt.datetime:
    if unit == "hour":
        return t + dt.timedelta(hours=1)
    if unit == "day":
        return t + dt.timedelta(days=1)
    if unit == "month":
        y, m = divmod(t.month, 12)
        return t.replace(year=t.year + y, month=m + 1)
    return t.replace(year=t.year + 1)


def _sub_one(t: dt.datetime, unit: str) -> dt.datetime:
    if unit == "hour":
        return t - dt.timedelta(hours=1)
    if unit == "day":
        return t - dt.timedelta(days=1)
    if unit == "month":
        if t.month == 1:
            return t.replace(year=t.year - 1, month=12)
        return t.replace(month=t.month - 1)
    return t.replace(year=t.year - 1)


class ContractViolationError(ValueError):
    """The built model's schema or declared constraints diverge from its
    contract; nothing was materialized."""


@dataclass
class Model:
    name: str
    fn: Callable[["ExecutionContext"], DataFrame]
    materialized: str = "table"
    unique_key: str | None = None
    partition_by: tuple[str, ...] = ()
    tags: tuple[str, ...] = ()
    # snapshot-materialization config (dbt snapshot block equivalents)
    snapshot_strategy: str = "timestamp"
    updated_at: str | None = None
    check_cols: tuple[str, ...] | None = None
    # incremental-materialization strategy (dbt incremental_strategy):
    #   merge             upsert on unique_key (default; the reference's shape)
    #   append            blind insert, no key matching
    #   insert_overwrite  replace exactly the partitions present in the batch
    #   microbatch        event-time batches, each replacing its own slice
    incremental_strategy: str = "merge"
    # dbt incremental_predicates (1.4+): (col, op, value) triples ANDed;
    # the merge only key-matches existing rows INSIDE this window —
    # parquet prunes the anti-join side, txlog prunes whole FILES via
    # footer stats (O(window) merges, not O(table)). dbt's own contract:
    # incoming keys only ever live inside the window.
    incremental_predicates: tuple = ()
    # microbatch config (dbt 1.9 names): the event-time column, the batch
    # granularity, and how many PRIOR batches to rebuild for late data
    event_time: str | None = None
    batch_size: str = "day"  # hour | day | month | year
    lookback: int = 1
    # dbt full_refresh config: None obeys the runner's --full-refresh
    # flag; False OPTS OUT (a huge event table you never want rebuilt by
    # a blanket flag — dbt's protection semantics); True forces a
    # from-scratch rebuild on every run.
    full_refresh: bool | None = None
    # dbt pre_hook / post_hook: callables taking the model's
    # ExecutionContext, fired in declaration order around the
    # materialization (pre: before the model fn runs; post: after the
    # table landed). Spark-first twist on dbt's SQL hooks: a hook is
    # arbitrary Python — grant statements become catalog calls, OPTIMIZE
    # becomes engine.hooks.compact_txlog(). Hooks fire only on
    # warehouse-backed runs; view-only probe runners (dag/docs/state
    # fingerprinting) never execute them.
    pre_hook: tuple = ()
    post_hook: tuple = ()
    # dbt model contract (contract: enforced: true): {"columns": {name:
    # spark-type-string, ...}, "not_null": [col, ...]}. Names+types are
    # validated STATICALLY against the built plan's schema (free — no
    # action) before anything materializes; not_null constraints run one
    # pre-write violation count (opt-in cost, the honest Spark analog of
    # a platform-enforced NOT NULL rejecting the write).
    contract: dict | None = None
    # dbt 1.5 model governance: `group` names the owning group (schema.yml
    # groups: blocks declare them); `access` gates who may ref() this
    # model — private: same group only; protected (dbt's default):
    # same package/project (always satisfied in a single-project
    # registry, enforced for completeness); public: anyone. Violations
    # raise at PLAN time (the lazy-DataFrame construction — the engine's
    # analog of dbt's parse-time manifest check), before anything runs.
    group: str | None = None
    access: str = "protected"
    # dbt 1.5 model versions: a versioned model registers one node per
    # version, named `<base>_v<version>` — dbt's default relation name
    # for every version, latest included (teams that want an unsuffixed
    # alias add a view, exactly as dbt docs recommend). `base_name` is
    # the version-family name (`ref('base')` resolves to the latest
    # version); unversioned models leave both fields None.
    version: int | None = None
    base_name: str | None = None
    # dbt 1.6 deprecation_date: past this date the model still builds,
    # but building it or ref()ing it emits a DeprecationWarning (dbt's
    # behavior — a warning event, never a failure)
    deprecation_date: dt.date | None = None


@dataclass
class Exposure:
    """dbt exposure: a declared DOWNSTREAM consumer of models — a
    dashboard, ML pipeline, or application that isn't itself a model but
    belongs in the DAG. Exposures never build; they exist so lineage
    answers "who breaks if this model does", docs list the consumers,
    and selectors can name a consumer's upstream cone
    (``--models exposure:NAME`` = its direct dependencies,
    ``+exposure:NAME`` = the full ancestor cone)."""

    name: str
    exposure_type: str  # dbt's closed set, validated at registration
    depends_on: tuple[str, ...]
    owner: str = ""
    url: str = ""
    description: str = ""


EXPOSURE_TYPES = ("dashboard", "notebook", "analysis", "ml", "application")


class ModelRegistry:
    def __init__(self) -> None:
        self._models: dict[str, Model] = {}
        self._exposures: dict[str, Exposure] = {}
        # dbt 1.5 model versions: base name -> {version: node name};
        # declared latest_version per base (default: max registered)
        self._versions: dict[str, dict[int, str]] = {}
        self._declared_latest: dict[str, int] = {}

    def model(
        self,
        name: str | None = None,
        materialized: str = "table",
        unique_key: str | None = None,
        partition_by: tuple[str, ...] = (),
        tags: tuple[str, ...] = (),
        snapshot_strategy: str = "timestamp",
        updated_at: str | None = None,
        check_cols: tuple[str, ...] | None = None,
        incremental_strategy: str = "merge",
        incremental_predicates: tuple = (),
        event_time: str | None = None,
        batch_size: str = "day",
        lookback: int = 1,
        full_refresh: bool | None = None,
        pre_hook=None,
        post_hook=None,
        contract: dict | None = None,
        group: str | None = None,
        access: str = "protected",
        version: int | None = None,
        latest_version: int | None = None,
        deprecation_date: dt.date | None = None,
    ):
        def deco(fn):
            def _cols(v):
                # a bare string must not explode into per-character tuples
                # (partition_by='order_date' -> ('o','r',...)) — wrap it
                return (v,) if isinstance(v, str) else tuple(v)

            def _hooks(v, label):
                hooks = (v,) if callable(v) else tuple(v or ())
                bad = [h for h in hooks if not callable(h)]
                if bad:
                    raise ValueError(
                        f"model {model_name}: {label} entries must be "
                        f"callables taking an ExecutionContext, got {bad}"
                    )
                return hooks

            model_name = name or fn.__name__
            base = None
            if version is not None:
                # dbt 1.5 model versions: the node (and its relation /
                # warehouse path) is `<base>_v<version>` — dbt's default
                # naming for every version of a versioned model
                if not isinstance(version, int) or version < 1:
                    raise ValueError(
                        f"model {model_name}: version must be a positive "
                        f"int, got {version!r}"
                    )
                base = model_name
                if base in self._models:
                    raise ValueError(
                        f"model {base} is already registered unversioned — "
                        "a name cannot be both a version family and a model"
                    )
                fam = self._versions.setdefault(base, {})
                if version in fam:
                    raise ValueError(
                        f"model {base}: version {version} registered twice"
                    )
                if latest_version is not None:
                    prior = self._declared_latest.get(base)
                    if prior is not None and prior != latest_version:
                        raise ValueError(
                            f"model {base}: conflicting latest_version "
                            f"declarations ({prior} vs {latest_version})"
                        )
                    self._declared_latest[base] = latest_version
                model_name = f"{base}_v{version}"
                fam[version] = model_name
            elif latest_version is not None:
                raise ValueError(
                    f"model {model_name}: latest_version without version "
                    "— declare versions on each instance"
                )
            if version is None and model_name in self._versions:
                raise ValueError(
                    f"model {model_name} is already a version family — "
                    "register new instances with version=N"
                )
            # fail at REGISTRATION, not mid-run on a 100 TB build: every
            # strategy's preconditions are static model config
            if incremental_strategy not in (
                "merge", "append", "insert_overwrite", "microbatch"
            ):
                raise ValueError(
                    f"model {model_name}: unknown incremental_strategy "
                    f"{incremental_strategy!r}"
                )
            if access not in ("private", "protected", "public"):
                raise ValueError(
                    f"model {model_name}: unknown access {access!r} "
                    "(dbt 1.5: private | protected | public)"
                )
            if access == "private" and group is None:
                raise ValueError(
                    f"model {model_name}: access='private' is group-scoped "
                    "— declare a group"
                )
            if incremental_strategy == "insert_overwrite" and not _cols(partition_by):
                raise ValueError(
                    f"model {model_name}: insert_overwrite requires partition_by"
                )
            preds = tuple(tuple(p) for p in (incremental_predicates or ()))
            for p in preds:
                if len(p) != 3 or p[1] not in ("==", "<", "<=", ">", ">="):
                    raise ValueError(
                        f"model {model_name}: incremental_predicates entries "
                        f"must be (col, op, value) with op in ==/</<=/>/>=; "
                        f"got {p!r}"
                    )
            if preds and incremental_strategy != "merge":
                raise ValueError(
                    f"model {model_name}: incremental_predicates only apply "
                    f"to the merge strategy, not {incremental_strategy!r}"
                )
            if incremental_strategy == "microbatch":
                if not event_time:
                    raise ValueError(
                        f"model {model_name}: microbatch requires event_time"
                    )
                if batch_size not in ("hour", "day", "month", "year"):
                    raise ValueError(
                        f"model {model_name}: unknown batch_size {batch_size!r}"
                    )
                if lookback < 0:
                    raise ValueError(
                        f"model {model_name}: lookback must be >= 0"
                    )
            if contract is not None:
                if not isinstance(contract.get("columns"), dict) or not contract["columns"]:
                    raise ValueError(
                        f"model {model_name}: contract needs a non-empty "
                        "'columns' name->type mapping"
                    )
                undeclared_nn = [
                    c for c in contract.get("not_null", ())
                    if c not in contract["columns"]
                ]
                if undeclared_nn:
                    raise ValueError(
                        f"model {model_name}: not_null columns "
                        f"{undeclared_nn} are not in the contract's columns"
                    )
            self._models[model_name] = Model(
                name=model_name,
                fn=fn,
                materialized=materialized,
                unique_key=unique_key,
                partition_by=_cols(partition_by),
                tags=_cols(tags),
                snapshot_strategy=snapshot_strategy,
                updated_at=updated_at,
                check_cols=_cols(check_cols) if check_cols else None,
                incremental_strategy=incremental_strategy,
                incremental_predicates=preds,
                event_time=event_time,
                batch_size=batch_size,
                lookback=lookback,
                full_refresh=full_refresh,
                pre_hook=_hooks(pre_hook, "pre_hook"),
                post_hook=_hooks(post_hook, "post_hook"),
                contract=contract,
                group=group,
                access=access,
                version=version,
                base_name=base,
                deprecation_date=deprecation_date,
            )
            return fn

        return deco

    # -- dbt 1.5 model versions -------------------------------------------
    def versions_of(self, base: str) -> dict[int, str]:
        """{version: node name} for a version family (empty if ``base``
        is not versioned)."""
        return dict(self._versions.get(base, {}))

    def latest_version(self, base: str) -> int | None:
        """The family's latest version: the declared ``latest_version``
        if any registration pinned one, else the max registered version
        (dbt's default). None for unversioned names."""
        if base not in self._versions:
            return None
        return self._declared_latest.get(base, max(self._versions[base]))

    def resolve(self, name: str, v: int | None = None) -> str:
        """Node name for a ref target: versioned bases resolve to
        ``<base>_v<v>`` (latest when unpinned — dbt's unpinned-ref
        rule); exact node names and unversioned models pass through.
        ``name.vN`` (dbt's selection syntax) is accepted as an alias for
        ``name_vN``."""
        if v is not None:
            fam = self._versions.get(name)
            if fam is None:
                raise KeyError(
                    f"ref({name!r}, v={v}): {name} is not a versioned model"
                )
            if v not in fam:
                raise KeyError(
                    f"ref({name!r}, v={v}): no such version "
                    f"(registered: {sorted(fam)})"
                )
            return fam[v]
        if name in self._models:
            return name
        if name in self._versions:
            return self._versions[name][self.latest_version(name)]
        if "." in name:  # dbt selection alias model.vN
            stem, _, tail = name.rpartition(".")
            if tail.startswith("v") and tail[1:].isdigit():
                return self.resolve(stem, int(tail[1:]))
        return name

    def __getitem__(self, name: str) -> Model:
        return self._models[self.resolve(name)]

    def __contains__(self, name: str) -> bool:
        return self.resolve(name) in self._models

    def names(self) -> list[str]:
        return list(self._models)

    def exposure(
        self,
        name: str,
        exposure_type: str,
        depends_on,
        owner: str = "",
        url: str = "",
        description: str = "",
    ) -> Exposure:
        """Declare a dbt exposure. ``depends_on`` model names are
        validated lazily (models may register after exposures in import
        order) — consumers call :meth:`exposures`, which checks every
        edge against the registered models."""
        if exposure_type not in EXPOSURE_TYPES:
            raise ValueError(
                f"exposure {name}: type {exposure_type!r} not in "
                f"{EXPOSURE_TYPES}"
            )
        deps = (depends_on,) if isinstance(depends_on, str) else tuple(
            depends_on
        )
        if not deps:
            raise ValueError(f"exposure {name}: depends_on is empty")
        if name in self._models:
            raise ValueError(f"exposure {name} collides with a model name")
        exp = Exposure(
            name=name, exposure_type=exposure_type, depends_on=deps,
            owner=owner, url=url, description=description,
        )
        self._exposures[name] = exp
        return exp

    def exposures(self) -> dict[str, Exposure]:
        """All declared exposures, with depends_on edges validated."""
        for exp in self._exposures.values():
            missing = [d for d in exp.depends_on if d not in self._models]
            if missing:
                raise ValueError(
                    f"exposure {exp.name}: depends_on unknown models "
                    f"{missing}"
                )
        return dict(self._exposures)


@dataclass
class ExecutionContext:
    """What a model function sees: spark + ref/source/var + incremental state."""

    spark: SparkSession
    runner: "Runner"
    model: Model
    # microbatch window (dbt's model.batch.event_time_start/end): set only
    # while a microbatch model rebuilds one batch; None on every other run
    batch_start: dt.datetime | None = None
    batch_end: dt.datetime | None = None

    def ref(self, name: str, v: int | None = None) -> DataFrame:
        # dbt 1.5 access enforcement at PLAN time (the manifest-compile
        # analog): a private model only resolves from its own group.
        # `protected` (dbt's default) is package-scoped — a single-project
        # registry always satisfies it; `public` is unrestricted.
        target = self.runner.registry[name] if name in self.runner.registry \
            else None
        if target is not None and target.access == "private" and \
                target.group != self.model.group:
            raise ValueError(
                f"model {self.model.name} (group "
                f"{self.model.group or '<none>'}) cannot ref private model "
                f"{name} of group {target.group or '<none>'} — dbt access "
                "rules (declare access: public/protected on the target, or "
                "move the consumer into the group)"
            )
        return self.runner.ref(name, v=v)

    def source(self, name: str) -> DataFrame:
        return self.runner.source(name)

    def var(self, name: str, default=None):
        return self.runner.vars.get(name, default)

    def is_incremental(self) -> bool:
        """True only on incremental models that already have a prior
        materialization — mirrors dbt's ``is_incremental()``."""
        return (
            self.model.materialized == "incremental"
            and self.runner.incremental
            and not self.runner.should_full_refresh(self.model)
            and self.runner.has_existing(self.model.name)
        )

    def existing(self) -> DataFrame | None:
        return self.runner.existing(self.model.name)

    def now(self):
        """Frozen-clock hook (SURVEY §7.4 item 8): tests inject a fixed
        timestamp so lookback predicates and audit columns are deterministic."""
        return self.runner.now

    def filter_batch(self, df: DataFrame, col: str | None = None) -> DataFrame:
        """Prune an input to the current microbatch window — dbt's
        automatic event-time filter on batch-aware refs. No-op outside a
        microbatch rebuild (initial full load, other strategies), so a
        model can apply it unconditionally; at scale the range predicate
        pushes to the scan and prunes time partitions before any task
        runs. ``col`` defaults to the MODEL's event_time column (dbt's
        convention when source and target share the name)."""
        if self.batch_start is None:
            return df
        from pyspark.sql import functions as F

        c = F.col(col or self.model.event_time)
        return df.filter(
            (c >= F.lit(self.batch_start)) & (c < F.lit(self.batch_end))
        )


class Runner:
    """Resolves and materializes models on demand, memoized per run."""

    def __init__(
        self,
        spark: SparkSession,
        registry: ModelRegistry,
        sources: dict[str, DataFrame] | Callable[[str], DataFrame],
        warehouse_dir: str | None = None,
        incremental: bool = False,
        full_refresh: bool = False,
        empty: bool = False,
        variables: dict | None = None,
        now: dt.datetime | None = None,
        cache_refs: bool = False,
        table_format: str = "parquet",
        tx_target_files: int | None = None,
        defer_to: str | None = None,
        backfill_start: dt.datetime | None = None,
        backfill_end: dt.datetime | None = None,
        on_run_start=(),
        on_run_end=(),
    ) -> None:
        """``table_format`` selects the warehouse storage backend. The
        choice is made once, here: ``engine.store.make_store`` returns the
        run's store, and every read, write and hook goes through it.

        - ``"parquet"`` (default): plain parquet dirs with the crash-safe
          staged-dir swap commit — repairable after a crash, but a reader
          concurrent with the swap can glimpse a half-renamed directory.
        - ``"txlog"``: every table/incremental/snapshot model lives in a
          :class:`~furchild_spark.engine.txlog.TxTable` — atomic manifest
          commits (concurrent readers always see a complete version),
          snapshot isolation, optimistic concurrency, time travel and
          vacuum. Incremental models map to ``TxTable.merge`` (file-scoped
          when the model declares a single ``partition_by`` column, so
          merge cost is O(touched files), mirroring Delta/Iceberg
          ``MERGE INTO`` semantics). ``tx_target_files`` is the explicit
          data-file count of its clustered writes (see ``TxlogStore``).

        ``backfill_start`` / ``backfill_end`` are dbt's
        ``--event-time-start/--event-time-end``: an EXPLICIT rebuild
        window for microbatch models. Instead of the derived
        newest-data-minus-lookback window, batches cover exactly
        [start, end) (start truncated down to a batch boundary) — the
        surgical historical repair microbatch exists for: re-process
        three days from last March without touching anything else, at
        per-batch cost. Ignored by every other strategy.

        ``empty`` is dbt 1.8's ``--empty``: a schema-only dry run. Every
        ``source()`` (and every deferred ``ref()`` read) is limited to
        ZERO rows, so the whole DAG executes — model logic runs, contracts
        validate, materializations write real schemas — against no data.
        The CI use: prove a refactor still compiles, wires, and satisfies
        its declared contracts in seconds, before paying the full build.
        Only the INPUTS are limited (dbt's exact rule): an incremental
        model's existing target is read as-is, so an ``--empty`` run
        against a populated warehouse is a no-op merge, not a truncation.

        ``defer_to`` is dbt's ``--defer``: a PRIOR warehouse (usually
        production) whose materialized tables satisfy refs to models NOT
        selected for this run. A dev run of one mart then reads its
        staging upstreams from prod instead of rebuilding them — at
        100 TB the difference between a minutes dev loop and re-running
        the bronze layer. Only refs outside the run's target set defer,
        and only when the table exists there; anything else builds
        normally (dbt's fallback).
        """
        self.store = make_store(spark, table_format, tx_target_files)
        self.spark = spark
        self.registry = registry
        self._sources = sources
        self.warehouse_dir = warehouse_dir
        self.incremental = incremental
        self.full_refresh = full_refresh
        self.empty = empty
        self.cache_refs = cache_refs
        self.defer_to = defer_to
        # dbt on-run-start / on-run-end: project-level hooks around the
        # whole invocation (run and build). Callables taking an
        # ExecutionContext with model=None; on_run_end fires after every
        # target resolved (build: after checks too), even when models
        # failed under on_error='continue' — run_results is complete by
        # then, which is what end-hooks exist to inspect.
        self.on_run_start = tuple(on_run_start)
        self.on_run_end = tuple(on_run_end)
        if (backfill_start is None) != (backfill_end is None):
            raise ValueError("backfill_start and backfill_end go together")
        if backfill_start is not None and backfill_start >= backfill_end:
            raise ValueError("backfill_start must be before backfill_end")
        self.backfill_start = backfill_start
        self.backfill_end = backfill_end
        # set by run(): refs OUTSIDE this set may defer; None = no run
        # in progress, every ref builds (library back-compat)
        self._build_set: set[str] | None = None
        self.vars = {**DEFAULT_VARS, **(variables or {})}
        self.now = now
        self._cache: dict[str, DataFrame] = {}
        # source() resolution cache: a dbt source is a stable relation for
        # the lifetime of one invocation, but a callable `sources` hook
        # typically constructs a fresh DataFrame per call (file listing +
        # schema inference, ~30-80 ms each on parquet dirs) — across a
        # 34-model DAG that fixed cost dominates small-model builds.
        # Caching the RAW resolved frame per name is semantics-preserving
        # within a Runner (new Runner = new resolution, as before).
        self._source_cache: dict[str, DataFrame] = {}
        # observed DAG edges (dbt manifest equivalent), recorded as models
        # build: lineage[name] = {"refs": [...], "sources": [...]}
        self.lineage: dict[str, dict[str, list[str]]] = {}
        # dbt run_results analog: per-model status/seconds, filled as
        # models build. status: success | error | skipped (an upstream
        # failed, so this model never ran its own build).
        self.run_results: dict[str, dict] = {}
        # microbatch models: per-batch [window, status, seconds] entries
        # (dbt's batch-level run results), appended as batches commit
        self.microbatch_results: dict[str, list[dict]] = {}
        # name -> the exception its OWN build raised. A model whose ref()
        # chain hits a recorded failure re-raises the SAME object, so
        # consumers can tell "my upstream failed" (skip) from "I failed"
        # (error) by checking which model the object is recorded under.
        self._failed: dict[str, BaseException] = {}
        # per-THREAD build stack (cycle detection + edge attribution):
        # under run(threads=N) each worker resolves its own ref() chain,
        # and a shared stack would interleave two chains into phantom
        # edges/cycles. Cross-thread cycles can't arise — each model
        # builds on exactly one thread (per-model lock below) and reentry
        # within that thread is detected here.
        self._tls = threading.local()
        self._exists: dict[str, bool] = {}
        # one lock per model so concurrent ref()s of a shared upstream
        # build it exactly ONCE (double-checked against _cache); lock
        # acquisition order follows DAG edges, so on an acyclic graph the
        # wait graph is acyclic too — no deadlock. RLock, not Lock: a
        # same-thread CYCLE (a→b→a) must fall through to _build's stack
        # check and raise the clear cycle error, not deadlock on its own
        # lock before reaching it.
        self._ref_locks: dict[str, threading.RLock] = {}
        self._locks_guard = threading.Lock()

    @property
    def _building(self) -> list[str]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    # -- source / ref resolution ------------------------------------------
    def _record_edge(self, kind: str, name: str) -> None:
        if self._building:
            deps = self.lineage[self._building[-1]][kind]
            if name not in deps:
                deps.append(name)

    def source(self, name: str) -> DataFrame:
        self._record_edge("sources", name)
        df = self._source_cache.get(name)
        if df is None:
            df = self._sources(name) if callable(self._sources) else (
                self._sources[name]
            )
            self._source_cache[name] = df
        # dbt --empty: inputs limited to zero rows, schema intact. limit(0)
        # folds to an empty LocalRelation at plan time — the dry run never
        # scans a data file.
        return df.limit(0) if self.empty else df

    def ref(self, name: str, v: int | None = None) -> DataFrame:
        # dbt 1.5 model versions: an unpinned ref to a versioned model
        # resolves to the LATEST version and warns (dbt's unpinned-ref
        # event — pin with ref(name, v=N) to silence); a ref to a model
        # past its deprecation_date builds but warns (dbt 1.6 — a
        # warning event, never a failure).
        if v is None and name in self.registry._versions:
            warnings.warn(
                f"unpinned ref({name!r}) to a versioned model resolves to "
                f"v{self.registry.latest_version(name)} — pin with "
                f"ref({name!r}, v=N)",
                UserWarning, stacklevel=2,
            )
        name = self.registry.resolve(name, v)
        m = self.registry._models.get(name)
        if m is not None and m.deprecation_date is not None:
            today = self.now.date() if isinstance(self.now, dt.datetime) \
                else self.now
            if today is not None and today > m.deprecation_date:
                warnings.warn(
                    f"model {name} passed its deprecation_date "
                    f"({m.deprecation_date.isoformat()}) — dbt deprecation "
                    "warning",
                    DeprecationWarning, stacklevel=2,
                )
        self._record_edge("refs", name)
        if name not in self._cache:
            with self._locks_guard:
                lock = self._ref_locks.setdefault(name, threading.RLock())
            with lock:
                if name in self._failed:
                    # dbt semantics: a model that failed THIS run is not
                    # retried by later consumers — they skip. Re-raise
                    # the original object so blame stays attributable.
                    raise self._failed[name]
                if name not in self._cache:
                    deferred = self._deferred(name)
                    if deferred is not None:
                        self.run_results[name] = {"status": "deferred"}
                        self._cache[name] = deferred
                        return deferred
                if name not in self._cache:
                    import time as _time

                    t0 = _time.perf_counter()
                    try:
                        df = self._build(self.registry[name])
                    except BaseException as e:
                        # only the ORIGIN records itself failed; a
                        # consumer re-raising an upstream's exception
                        # must not blame itself (its status is skipped,
                        # decided at the run() target level)
                        if not any(f is e for f in self._failed.values()):
                            self._failed[name] = e
                            self.run_results[name] = {
                                "status": "error",
                                "error": f"{type(e).__name__}: {e}",
                                "seconds": round(
                                    _time.perf_counter() - t0, 3
                                ),
                            }
                        raise
                    self.run_results[name] = {
                        "status": "success",
                        "seconds": round(_time.perf_counter() - t0, 3),
                    }
                    # View-only runs (warehouse_dir=None) re-execute a
                    # ref's whole subtree once per consumer; with
                    # cache_refs the first build is persisted so fan-in
                    # models (stg_orders feeds 5+ marts) compute once —
                    # the in-memory analogue of materializing to the
                    # warehouse. Callers own clearCache() hygiene.
                    if self.cache_refs and self.warehouse_dir is None:
                        df = df.persist()
                    self._cache[name] = df
        return self._cache[name]

    def _deferred(self, name: str) -> DataFrame | None:
        """The defer-warehouse table for ``name``, or None when this ref
        must build: no defer configured, no run in progress, the model IS
        a run target (targets always build locally), or the table simply
        isn't materialized there (views never are — they inline)."""
        if (
            self.defer_to is None
            or self._build_set is None
            or name in self._build_set
        ):
            return None
        path = f"{self.defer_to}/{name}"
        if mat.is_dry_run(self.spark, path):
            # a dry-run artifact in the defer warehouse is a schema, not
            # data — build locally instead of reading zero rows
            return None
        model = self.registry._models.get(name)
        if not self.store.exists(path, model):
            return None
        df = self.store.read(path, model)
        if self.empty:
            # --empty limits deferred refs too (they are inputs, not
            # this run's targets)
            df = df.limit(0)
        return df

    # -- incremental state -------------------------------------------------
    def _path(self, name: str) -> str | None:
        if self.warehouse_dir is None:
            return None
        return f"{self.warehouse_dir}/{name}"

    def should_full_refresh(self, model: Model) -> bool:
        """dbt's should_full_refresh(): the model-level ``full_refresh``
        config wins over the run-level flag — ``False`` protects the
        model from a blanket ``--full-refresh``, ``True`` forces a
        rebuild every run, ``None`` obeys the flag."""
        if model.full_refresh is not None:
            return model.full_refresh
        return self.full_refresh

    def has_existing(self, name: str) -> bool:
        path = self._path(name)
        if path is None:
            return False
        # memoized per run: is_incremental() is consulted several times
        # per model (Runner + model-fn branches), and each miss is a
        # recursive listing of the table dir. _build records True after
        # it materializes.
        if name not in self._exists:
            self._exists[name] = self.store.exists(
                path, self.registry._models.get(name)
            ) and not mat.is_dry_run(self.spark, path)
        return self._exists[name]

    def existing(self, name: str) -> DataFrame | None:
        if not self.has_existing(name):
            return None
        return self.store.read(self._path(name), self.registry._models.get(name))

    def _enforce_contract(self, model: Model, df: DataFrame) -> None:
        """dbt model contract (contract: enforced: true): the built
        schema must match the declared columns EXACTLY — same names,
        same types, nothing undeclared (dbt's rule: a contracted model
        is a stable interface, additive drift is a build failure, not a
        surprise for consumers). Name/type validation is static (plan
        schema only — no job); declared ``not_null`` constraints run one
        violation count before anything materializes."""
        c = model.contract
        if c is None:
            return
        declared = {
            k: str(v).replace(" ", "").lower() for k, v in c["columns"].items()
        }
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = sorted(set(declared) - set(actual))
        extra = sorted(set(actual) - set(declared))
        retyped = sorted(
            f"{n} is {actual[n]}, declared {declared[n]}"
            for n in declared.keys() & actual.keys()
            if actual[n] != declared[n]
        )
        if missing or extra or retyped:
            raise ContractViolationError(
                f"model {model.name}: contract violated — "
                f"missing columns {missing}, undeclared columns {extra}, "
                f"type mismatches {retyped}"
            )
        # the name/type check above is static (plan schema, no job); the
        # not_null count below is a Spark ACTION, so it only runs on
        # warehouse-backed builds — view-only probe runners (dag/docs/
        # state fingerprints) promise zero actions and zero side effects
        nn = list(c.get("not_null", ())) if self.warehouse_dir else []
        if nn:
            from pyspark.sql import functions as F

            cond = None
            for col in nn:
                cnd = F.col(col).isNull()
                cond = cnd if cond is None else (cond | cnd)
            viol = df.filter(cond).count()
            if viol:
                raise ContractViolationError(
                    f"model {model.name}: {viol} rows violate "
                    f"not_null({nn}); nothing was materialized"
                )

    # -- build + materialize ------------------------------------------------
    def _build(self, model: Model) -> DataFrame:
        """Hook-wrapped materialization: pre_hooks fire in order before
        the model fn runs, post_hooks after its table landed (dbt
        pre-hook/post-hook placement). Hooks only fire on warehouse-backed
        runs — a view-only probe (dag/docs/state fingerprints) must stay
        side-effect-free. A raising pre-hook aborts the build (nothing
        materializes); a raising post-hook fails the model AFTER the
        table landed, exactly like a failing dbt post-hook statement."""
        fire = self.warehouse_dir is not None and (
            model.pre_hook or model.post_hook
        )
        if fire:
            hook_ctx = ExecutionContext(
                spark=self.spark, runner=self, model=model
            )
            for h in model.pre_hook:
                h(hook_ctx)
        df = self._build_inner(model)
        if fire:
            for h in model.post_hook:
                h(hook_ctx)
        return df

    def _build_inner(self, model: Model) -> DataFrame:
        ctx = ExecutionContext(spark=self.spark, runner=self, model=model)
        if model.name in self._building:
            cycle = " -> ".join(self._building + [model.name])
            raise RuntimeError(f"model dependency cycle: {cycle}")
        self.lineage.setdefault(model.name, {"refs": [], "sources": []})
        if (
            model.materialized == "incremental"
            and model.incremental_strategy == "microbatch"
            and ctx.is_incremental()
        ):
            # the model fn runs once PER BATCH, so the whole fn-call +
            # materialize cycle diverges from the single-shot path below
            return self._build_microbatch(model)
        self._building.append(model.name)
        try:
            df = model.fn(ctx)
        finally:
            self._building.pop()
        self._enforce_contract(model, df)
        path = self._path(model.name)
        if path is None or model.materialized in ("view", "ephemeral"):
            return df
        if self.empty:
            # --empty dry run: a zero-row plan with 1+ empty partitions
            # writes NO parquet files (tasks skip empty output), leaving
            # a dir with no footer to infer a schema from on read-back.
            # A zero-partition LocalRelation of the already-validated
            # schema is the one shape Spark persists as a schema-bearing
            # empty file — and it makes the write metadata-only.
            df = self.spark.createDataFrame([], df.schema)
        if model.materialized == "snapshot":
            # SCD2: applies on EVERY run (dbt `dbt snapshot` semantics) —
            # the first run initializes, later runs version-merge
            assert model.unique_key, f"snapshot model {model.name} needs unique_key"
            out = self.store.snapshot(path, model, df, self.now)
        elif model.materialized == "incremental" and ctx.is_incremental():
            if model.incremental_strategy == "append":
                out = self.store.append(path, model, df)
            elif model.incremental_strategy == "insert_overwrite":
                out = self.store.insert_overwrite(path, model, df)
            else:
                assert model.unique_key, (
                    f"incremental model {model.name} needs unique_key"
                )
                out = self.store.merge(path, model, df)
        else:
            # table / transient / first incremental run → full overwrite.
            # Dry runs write unpartitioned: partitionBy on a zero-row frame
            # emits NO data file (partition dirs need rows), which would
            # leave the table schema-less; the flat empty file keeps every
            # column — including the partition columns — in the footer.
            out = self.store.overwrite(
                path, model, df,
                partition_by=() if self.empty else model.partition_by,
            )
            if self.empty:
                # the artifact is a schema, not data: mark it so a later
                # incremental run full-builds instead of merging the
                # lookback window into a zero-row base
                mat.mark_dry_run(self.spark, path)
                self._exists[model.name] = False
                return out
            # a parquet overwrite replaces the dir, marker included; a
            # txlog overwrite keeps the dir, so the marker goes here
            mat.clear_dry_run(self.spark, path)
        self._exists[model.name] = True
        return out

    def _build_microbatch(self, model: Model) -> DataFrame:
        """Incremental run of a ``microbatch`` model (dbt 1.9): the
        rebuild window is derived from the DATA — the newest event time
        already materialized, truncated to a batch boundary, minus
        ``lookback`` batches (late-arrival re-processing) — and extends
        to the runner clock. The model fn runs once per batch with the
        window exposed (``ctx.batch_start/batch_end``,
        ``ctx.filter_batch``), and each batch's output atomically
        replaces exactly its own event-time slice: txlog via file-scoped
        ``replace_where`` (footer-stat skipping on the event-time range —
        O(touched files)), parquet via the staged-swap slice replace.
        History older than the window is never recomputed NOR rescanned.

        Batches apply independently, in order; a failing batch stops the
        run with earlier batches already committed (dbt's semantics —
        a retry resumes from the derived window, which still covers the
        failed batch). Per-batch status lands in
        ``microbatch_results[model]``."""
        import time as _time

        from pyspark.sql import functions as F

        et, unit = model.event_time, model.batch_size
        path = self._path(model.name)
        if self.backfill_start is not None:
            # explicit backfill window (dbt --event-time-start/end):
            # exactly [start, end), start snapped DOWN to a batch
            # boundary so slices align with the table's batch grid
            start = _trunc_to(self.backfill_start, unit)
            end = self.backfill_end
        else:
            existing = self.existing(model.name)
            hi = existing.agg(F.max(et).alias("hi")).first()["hi"]
            end = self.now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
            anchor = _trunc_to(hi, unit) if hi is not None else _trunc_to(end, unit)
            start = anchor
            for _ in range(model.lookback):
                start = _sub_one(start, unit)
        batches: list[tuple[dt.datetime, dt.datetime]] = []
        b = start
        while b < end:
            batches.append((b, min(_add_one(b, unit), end)))
            b = _add_one(b, unit)
        results = self.microbatch_results.setdefault(model.name, [])
        for b0, b1 in batches:
            t0 = _time.perf_counter()
            bctx = ExecutionContext(
                spark=self.spark, runner=self, model=model,
                batch_start=b0, batch_end=b1,
            )
            self._building.append(model.name)
            try:
                out = model.fn(bctx)
                self._enforce_contract(model, out)
                self.store.replace_slice(path, model, out, b0, b1)
            except BaseException as e:
                results.append({
                    "batch": [b0.isoformat(), b1.isoformat()],
                    "status": "error",
                    "error": f"{type(e).__name__}: {e}",
                    "seconds": round(_time.perf_counter() - t0, 3),
                })
                raise
            finally:
                self._building.pop()
            results.append({
                "batch": [b0.isoformat(), b1.isoformat()],
                "status": "success",
                "seconds": round(_time.perf_counter() - t0, 3),
            })
        self._exists[model.name] = True
        return self.store.read(path, model)

    def run(
        self,
        names: list[str] | None = None,
        threads: int = 1,
        on_error: str = "raise",
        _fire_end_hook: bool = True,
    ) -> dict[str, DataFrame]:
        """Materialize ``names`` (default: every registered model).

        ``threads`` is dbt's ``--threads N``: with N > 1, targets resolve
        on a thread pool so INDEPENDENT DAG branches materialize
        concurrently — Spark job submission is thread-safe, and on a
        cluster this keeps executors busy between the narrow stages of
        one model by running another model's stages alongside (SURVEY
        §3.1 step 4; serial submission under-utilizes wide DAG levels).
        Shared upstreams still build exactly once: every worker's ref()
        chain funnels through the per-model locks, so a thread needing a
        model another thread is building simply waits for that build —
        the recursion itself is the topological schedule, no explicit
        level-barrier needed (a barrier would idle the pool while the
        slowest model of each level finishes).

        Each worker tags its jobs with its own FAIR scheduler pool
        (sessions from engine.session enable FAIR mode) so concurrent
        models round-robin executor slots instead of FIFO head-of-line
        blocking behind the widest plan.

        ``on_error='continue'`` is dbt's default failure behavior: a
        failing model doesn't abort the run — its own status is
        ``error``, targets downstream of it become ``skipped`` (their
        build never ran), and every INDEPENDENT branch still
        materializes. ``run_results`` holds per-model status/seconds
        either way; the returned dict contains successes only. The
        library default stays ``'raise'``.
        """
        if on_error not in ("raise", "continue"):
            raise ValueError(f"unknown on_error {on_error!r}")
        self._fire_run_hooks(self.on_run_start)
        targets = list(names) if names is not None else self.registry.names()
        # defer boundary: targets always build locally; refs outside the
        # set may resolve from the defer warehouse (see _deferred). Left
        # in place after the run so post-run ref()s (checks in build())
        # keep the same resolution rules.
        self._build_set = set(targets)

        def _resolve(name: str):
            try:
                return name, self.ref(name)
            except BaseException as e:
                if on_error == "raise":
                    raise
                # ref() already recorded the ORIGIN's error; any target
                # seeing someone else's exception never built → skipped
                if self.run_results.get(name, {}).get("status") != "error":
                    origin = next(
                        (m for m, f in self._failed.items() if f is e), None
                    )
                    self.run_results[name] = {
                        "status": "skipped",
                        "because": origin,
                    }
                return name, None

        if threads <= 1 or len(targets) <= 1:
            resolved = [_resolve(name) for name in targets]
            if _fire_end_hook:
                self._fire_run_hooks(self.on_run_end)
            return {n: df for n, df in resolved if df is not None}

        from concurrent.futures import ThreadPoolExecutor

        sc = self.spark.sparkContext

        def _build_one(name: str):
            # pinned-thread mode (Spark 3.2+ default) keeps local
            # properties per Python thread, so pools don't bleed
            sc.setLocalProperty(
                "spark.scheduler.pool", f"runner-{threading.get_ident()}"
            )
            try:
                return _resolve(name)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(
            max_workers=threads, thread_name_prefix="runner"
        ) as pool:
            resolved = list(pool.map(_build_one, targets))
        if _fire_end_hook:
            self._fire_run_hooks(self.on_run_end)
        return {n: df for n, df in resolved if df is not None}

    def _fire_run_hooks(self, hooks) -> None:
        if not hooks:
            return
        ctx = ExecutionContext(spark=self.spark, runner=self, model=None)
        for h in hooks:
            h(ctx)

    def register_views(
        self, names: list[str] | None = None, prefix: str = ""
    ) -> list[str]:
        """Expose models to ``spark.sql``: each resolved model becomes a
        temp view named ``prefix + model_name`` (the dbt-on-warehouse
        experience — query marts by name in plain SQL). Views/ephemerals
        register their composed lazy plan, so Catalyst still inlines and
        pushes filters through them; materialized models register the
        read-back table. Returns the registered view names."""
        registered = []
        for name in names or self.registry.names():
            view = prefix + name
            self.ref(name).createOrReplaceTempView(view)
            registered.append(view)
        return registered

    def build(
        self,
        names: list[str] | None = None,
        checks=None,
        freshness=None,
        raise_on_error: bool = True,
        threads: int = 1,
        store_failures_dir: str | None = None,
    ) -> "BuildResult":
        """``dbt build`` lifecycle: source freshness gate → materialize the
        DAG → run the data-test suite, with dbt severity semantics
        (reference ``dbt_project.yml`` + ``models/staging/schema.yml:13-15``).

        1. Freshness first — a source whose lag exceeds ``error_after``
           aborts before any model builds (stale bronze would silently
           propagate into every mart); ``warn`` statuses are reported but
           don't block, mirroring ``dbt source freshness`` gating a
           scheduled ``dbt build``.
        2. Models materialize per their configs (:meth:`run`).
        3. Checks attached to the built models execute; ``error``-severity
           failures are collected (every check still runs — one broken
           model shouldn't hide the rest of the report) and raised as one
           :class:`BuildError`; ``warn`` failures surface in the result.
        """
        from . import checks as C

        # None means NO suites, not "this repo's project suites": the
        # engine is generic, and defaulting to the furchild project's
        # CHECKS/FRESHNESS lists here would crash any other registry
        # (KeyError on its sources before a single model builds). The
        # project's own callers pass checks.CHECKS / checks.FRESHNESS
        # explicitly.
        fresh = C.run_freshness(self.source, self.now, freshness or [])
        stale = [f for f in fresh if f.status == "error"]
        if stale and raise_on_error:
            raise BuildError(
                "stale sources (error_after exceeded): "
                + ", ".join(f"{f.source} lag={f.lag_hours:.1f}h" for f in stale)
            )
        models = (
            {} if stale
            else self.run(names, threads=threads, _fire_end_hook=False)
        )
        check_results = (
            []
            if stale
            else C.run_checks(
                self.ref, checks or [],
                models=set(models) if names is not None else None,
                threads=threads,
                store_failures_dir=store_failures_dir,
                source=self.source,
            )
        )
        result = BuildResult(models=models, checks=check_results, freshness=fresh)
        if not stale:
            self._fire_run_hooks(self.on_run_end)
        if raise_on_error and result.errors:
            raise BuildError(
                "failing error-severity checks: "
                + ", ".join(
                    f"{r.name} ({r.failures} rows)" for r in result.errors
                )
            )
        return result


class BuildError(RuntimeError):
    """A build-blocking failure: stale source past error_after, or an
    error-severity check with failure rows."""


@dataclass
class BuildResult:
    """What a :meth:`Runner.build` run produced, dbt-artifact-style."""

    models: dict[str, DataFrame]
    checks: list
    freshness: list

    @property
    def errors(self) -> list:
        # CheckResult.status applies the dbt warn_if/error_if ladder;
        # with default thresholds it equals the old severity+count test
        return [
            r for r in self.checks if r.status == "error"
        ] + [f for f in self.freshness if f.status == "error"]

    @property
    def warnings(self) -> list:
        return [
            r for r in self.checks if r.status == "warn"
        ] + [f for f in self.freshness if f.status == "warn"]
