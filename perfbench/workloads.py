"""The benchmark's workloads.

Each workload is driven by ``run.py`` through the same steps:
``generate`` (input generation, timed and repeated for ``setup_s``),
``prepare`` (session-side set-up, timed once for ``setup_s``),
``oracles`` (expected rows, untimed), then per iteration ``reset``
(untimed), ``iterate`` (timed), ``verify`` (untimed). ``instrument``
installs the tracer's wrappers for a traced iteration and
``layer_metrics`` turns the recorded spans into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
from concurrent.futures import ThreadPoolExecutor

from perfbench import inputs, oracle

# the sf_dir handed to catalog entries used only for verification: the
# small-scale name keeps their shuffle-partition pin at 8
CHECK_SF = "sf0.01"


def new_files(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` and absent or changed in ``before``."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return len(changed), sum(after[k][0] for k in changed)


class Workload:
    name = ""
    # fewest untraced warm iterations a run measures
    min_warm = 1

    def __init__(self, work: str, seed: int):
        self.spark = None  # set once the session is up; inputs need none
        self.work = work
        self.seed = seed
        self.input_bytes = 0
        self.sizes: dict[str, int] = {}

    def out_dir(self) -> str:
        """Where an iteration's writes land."""
        raise NotImplementedError

    def generate(self) -> None: ...

    def prepare(self) -> None: ...

    def oracles(self) -> None: ...

    def reset(self, first: bool) -> None: ...

    def iterate(self) -> None: ...

    def verify(self) -> tuple[int, list[str]]:
        """(operations checked, failure descriptions)."""
        raise NotImplementedError

    def instrument(self, tracer) -> None: ...

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {}


# -- incremental_merge --------------------------------------------------------

def model_oracle_rows(bronze_dir: str) -> dict:
    """Rows of every ``model__*`` catalog entry's DuckDB port, read from
    ``bronze_dir`` instead of the committed fixtures."""
    from furchild_spark.queries import QUERIES
    from furchild_spark.queries.models_oracle import FIXTURE_DIR

    con = oracle.duckdb_connection()
    try:
        return {
            name: oracle.duckdb_rows(con, q.oracle.replace(FIXTURE_DIR, bronze_dir))
            for name, q in QUERIES.items() if name.startswith("model__")
        }
    finally:
        con.close()


def model_spark_rows(spark, runner) -> dict:
    """Rows of every ``model__*`` entry's projection over ``runner``'s
    models. The entries resolve models through one shared view-only Runner
    per session; for the check that slot holds ``runner``, whose refs
    read the tables the measured run just wrote."""
    from furchild_spark.queries import QUERIES, models_oracle

    key = id(spark._jsparkSession)
    saved = models_oracle._RUNNERS.get(key)
    models_oracle._RUNNERS[key] = runner
    try:
        names = [n for n in QUERIES if n.startswith("model__")]
        dfs = {n: QUERIES[n].fn(spark, CHECK_SF) for n in names}
        with ThreadPoolExecutor(max_workers=4) as pool:
            return dict(zip(names, pool.map(oracle.spark_rows, dfs.values())))
    finally:
        if saved is None:
            models_oracle._RUNNERS.pop(key, None)
        else:
            models_oracle._RUNNERS[key] = saved


class IncrementalMerge(Workload):
    """``Runner(incremental=True, table_format="txlog").build(checks=CHECKS)``
    over a txlog warehouse. The first iteration finds the warehouse empty
    and materializes every model from the base bronze, as the first run
    of an incremental pipeline does. Every later iteration starts from
    that warehouse, lands one bronze delta (new orders plus late updates)
    and runs again: table models rebuild, the incremental facts merge only
    the rows inside the 7-day lookback, and the check suite runs on the
    result."""

    name = "incremental_merge"
    copies = 4
    threads = 4

    def out_dir(self) -> str:
        return f"{self.work}/warehouse"

    def generate(self) -> None:
        base = inputs.base_bronze(self.seed, self.copies)
        delta = inputs.delta_bronze(base, self.seed, self.copies)
        self.base_dir = f"{self.work}/bronze_base"
        self.delta_dir = f"{self.work}/bronze"
        self.base_paths = inputs.write_tables(base, self.base_dir)
        self.delta_paths = inputs.write_tables(delta, self.delta_dir)
        self.rows = {n: len(df) for n, df in delta.items()}
        self.sizes = {n: os.path.getsize(p) for n, p in self.delta_paths.items()}
        self.input_bytes = sum(self.sizes.values())

    def oracles(self) -> None:
        self.expected_base = model_oracle_rows(self.base_dir)
        self.expected = model_oracle_rows(self.delta_dir)

    def reset(self, first: bool) -> None:
        from furchild_spark.engine.registry import Runner
        from furchild_spark.models import registry

        wh = self.out_dir()
        base_wh = f"{self.work}/warehouse_base"
        if not first and not os.path.isdir(base_wh):
            shutil.copytree(wh, base_wh)  # what the first iteration built
        shutil.rmtree(wh, ignore_errors=True)
        if not first:
            shutil.copytree(base_wh, wh)
        paths = self.base_paths if first else self.delta_paths
        self.first = first
        self.runner = Runner(
            self.spark, registry,
            sources=lambda name: self.spark.read.parquet(paths[name]),
            warehouse_dir=wh, incremental=True, table_format="txlog",
            now=inputs.NOW,
        )

    def iterate(self) -> None:
        from furchild_spark.engine.checks import CHECKS

        self.result = self.runner.build(
            checks=CHECKS, threads=self.threads, raise_on_error=False
        )

    def verify(self) -> tuple[int, list[str]]:
        fails = [f"check {r.name}: {r.failures} rows" for r in self.result.errors]
        got = model_spark_rows(self.spark, self.runner)
        expected = self.expected_base if self.first else self.expected
        for name, want in expected.items():
            diff = oracle.mismatch(got[name], want)
            if diff:
                fails.append(f"{name}: {diff}")
        return len(self.result.checks) + len(expected), fails

    # -- tracing --
    def instrument(self, tracer) -> None:
        from furchild_spark.engine import checks, registry as reg, txlog
        from furchild_spark.models import registry

        instrument_materialize(tracer)
        tracer.wrap(reg.Runner, "ref", "registry.ref")
        for model in registry._models.values():
            tracer.wrap(model, "fn", "models.construct")
        self.runner._sources = _traced(tracer, "sources.resolve", self.runner._sources)

        def count_checks(_state, rec, result):
            rec["attrs"]["run"] = len(result)
            rec["attrs"]["failed"] = sum(r.status != "pass" for r in result)

        tracer.wrap(checks, "run_checks", "checks.run", after=count_checks)
        for meth in ("overwrite", "append", "merge", "replace_scope",
                     "replace_where", "transform"):
            tracer.wrap(txlog.TxTable, meth, f"txlog.{meth}",
                        before=_tx_before, after=_tx_after)

    def layer_metrics(self, tracer) -> dict[str, float]:
        m = span_totals(tracer)
        m["registry.models_built"] = sum(
            r.get("status") == "success" for r in self.runner.run_results.values()
        )
        return m


def _traced(tracer, name, fn):
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return traced


def _tx_before(args, _kwargs):
    tx = args[0]
    return tx, tx.history(), inputs.file_sizes(tx.data_dir)


def _tx_after(state, rec, _result):
    tx, hist0, files0 = state
    hist1 = tx.history()
    added, _ = new_files(files0, inputs.file_sizes(tx.data_dir))
    n0 = hist0[-1]["num_files"] if hist0 else 0
    n1 = hist1[-1]["num_files"] if hist1 else 0
    rec["attrs"].update(commits=len(hist1) - len(hist0), files_added=added,
                        files_removed=added - (n1 - n0))


def _mat_before(args, kwargs):
    path = args[1] if len(args) > 1 else kwargs["path"]
    return path, inputs.file_sizes(path)


def _mat_after(state, rec, _result):
    path, before = state
    files, size = new_files(before, inputs.file_sizes(path))
    rec["attrs"].update(files_written=files, bytes_written=size)


def instrument_materialize(tracer) -> None:
    from furchild_spark.engine import materialize, snapshot

    for fn in ("overwrite", "append_rows", "merge_upsert", "insert_overwrite",
               "replace_slice"):
        tracer.wrap(materialize, fn, f"materialize.{fn}",
                    before=_mat_before, after=_mat_after)
    tracer.wrap(snapshot, "snapshot_merge", "materialize.snapshot_merge",
                before=_mat_before, after=_mat_after)


# self time of a layer's spans; a layer missing here reports per span name
LAYER_TIME = {
    "sources": "sources.resolve_s", "models": "models.construct_s",
    "registry": "registry.self_s", "materialize": "materialize.write_s",
    "txlog": "txlog.commit_s", "checks": "checks.s",
}
LAYER_CALLS = {
    "sources": "sources.calls", "models": "models.calls",
    "materialize": "materialize.calls",
}
SPAN_ATTRS = {
    "bytes_written": "materialize.bytes_written",
    "files_written": "materialize.files_written",
    "commits": "txlog.commits", "files_added": "txlog.files_added",
    "files_removed": "txlog.files_removed",
    "run": "checks.run", "failed": "checks.failed",
}


def span_totals(tracer) -> dict[str, float]:
    """Per-layer self time (summed over threads), call counts and summed
    span attributes. Calls and attributes come from a layer's outermost
    spans only, so a public call that makes another call into the same
    layer is not counted twice."""
    self_t = tracer.self_times()
    by_id = {s["id"]: s for s in tracer.spans}
    out: dict[str, float] = {}
    for s in tracer.spans:
        layer = s["name"].split(".")[0]
        time_m = LAYER_TIME.get(layer, f"{s['name']}_s")
        out[time_m] = out.get(time_m, 0.0) + self_t[s["id"]]
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"].split(".")[0] == layer:
            continue
        if layer in LAYER_CALLS:
            out[LAYER_CALLS[layer]] = out.get(LAYER_CALLS[layer], 0) + 1
        for attr, value in s["attrs"].items():
            out[SPAN_ATTRS[attr]] = out.get(SPAN_ATTRS[attr], 0) + value
    return out


# -- stream_dedup -------------------------------------------------------------

# ingest function, catalog entry whose oracle gives the expected rows
STREAM_KINDS = {
    "exact": ("run_streaming_corpus_dedup", "streaming_dedup_e2e"),
    "near": ("run_streaming_neardup_dedup", "streaming_neardup_e2e"),
}


# the rows of a streaming entry's result that came from batch 1
BATCH1 = ("doc_id BETWEEN 100000 AND 199999 OR doc_id < 100000 AND source IN "
          "('src5', 'src6', 'src7', 'src8', 'src9')")


class StreamDedup(Workload):
    """The streaming ingest layer as the catalog's ``streaming_dedup_e2e``
    and ``streaming_neardup_e2e`` entries drive it:
    ``run_streaming_corpus_dedup`` (exact fingerprints) and
    ``run_streaming_neardup_dedup`` (MinHash bands, Jaccard >= 0.5), each
    with its own landing directory, state and accepted table, deduping
    the entries' micro-batches (landed in set-up) against the corpus.
    The first iteration starts from no state: it bootstraps the state
    from the corpus and ingests batch 1 ``availableNow``. Every later
    iteration starts from the state batch 1 left (restored outside the
    timed region) and ingests batch 2, whose copies of batch-1 documents
    must reject against state written by batch 1's trigger."""

    name = "stream_dedup"
    # a warm iteration is short and swings with the host's CPU steal; the
    # median of three keeps one slow iteration out of wall_s
    min_warm = 3

    def out_dir(self) -> str:
        return f"{self.work}/stream"

    def generate(self) -> None:
        docs = inputs.documents(self.seed)
        self.doc_path = inputs.write_tables(
            {"documents": docs}, f"{self.work}/sf0.1")["documents"]
        corpus, batches = inputs.stream_batches(docs)
        self.corpus_path = inputs.write_tables(
            {"corpus": corpus}, f"{self.work}/in")["corpus"]
        self.landing = {
            kind: inputs.write_tables(tables, f"{self.work}/in/{kind}")
            for kind, tables in batches.items()
        }
        self.rows = {"documents": len(docs), "corpus": len(corpus)}
        self.sizes = {}
        for kind, tables in batches.items():
            for b, df in tables.items():
                self.rows[f"{kind}.{b}"] = len(df)
                self.sizes[f"{kind}.{b}"] = os.path.getsize(self.landing[kind][b])
        # a warm iteration reads the batch-2 files it lands
        self.input_bytes = sum(self.sizes[f"{k}.b2"] for k in STREAM_KINDS)

    def prepare(self) -> None:
        from pyspark.sql import types as T

        # the catalog entries run their streams at 8 shuffle partitions
        self.spark.conf.set("spark.sql.shuffle.partitions", "8")
        self.schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ])
        self.corpus = self.spark.read.schema(self.schema).parquet(self.corpus_path)

    def oracles(self) -> None:
        from furchild_spark.queries import QUERIES

        con = oracle.duckdb_connection({"documents": self.doc_path})
        try:
            self.expected, self.expected_b1 = {}, {}
            for kind, (_fn, entry) in STREAM_KINDS.items():
                sql = QUERIES[entry].oracle
                self.expected[kind] = oracle.duckdb_rows(con, sql)
                self.expected_b1[kind] = oracle.duckdb_rows(
                    con, f"SELECT * FROM ({sql}) WHERE {BATCH1}")
        finally:
            con.close()

    def reset(self, first: bool) -> None:
        out, base = self.out_dir(), f"{self.work}/stream_base"
        if not first and not os.path.isdir(base):
            shutil.copytree(out, base)  # the state batch 1 left
        shutil.rmtree(out, ignore_errors=True)
        if not first:
            shutil.copytree(base, out)
        batch = "b1" if first else "b2"
        for kind in STREAM_KINDS:
            landing = f"{out}/{kind}/landing"
            os.makedirs(landing, exist_ok=True)
            shutil.copy(self.landing[kind][batch], f"{landing}/{batch}.parquet")
        self.first = first
        self.tracer = None

    def iterate(self) -> None:
        from furchild_spark.streaming import ingest

        for kind, (fn, _entry) in STREAM_KINDS.items():
            d = f"{self.out_dir()}/{kind}"
            kw = {"fp_path": f"{d}/fingerprints"} if kind == "exact" else {}
            with self._span(f"streaming.{kind}"):
                q = getattr(ingest, fn)(
                    self.spark, src_dir=f"{d}/landing", schema=self.schema,
                    corpus_df=self.corpus, table_path=f"{d}/accepted",
                    id_col="doc_id", text_col="text",
                    checkpoint_dir=f"{d}/ckpt", available_now=True,
                    max_files_per_trigger=1, **kw,
                )
                q.awaitTermination()

    def _span(self, name):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def verify(self) -> tuple[int, list[str]]:
        from furchild_spark.engine import materialize as mat

        expected = self.expected_b1 if self.first else self.expected
        fails = []
        for kind, want in expected.items():
            got = oracle.spark_rows(mat.read_table(
                self.spark, f"{self.out_dir()}/{kind}/accepted"
            ).select("doc_id", "source"))
            diff = oracle.mismatch(got, want)
            if diff:
                fails.append(f"{kind}: {diff}")
        return len(expected), fails

    def instrument(self, tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.tracer = tracer
        instrument_materialize(tracer)
        progress = self.progress = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event): ...

            def onQueryProgress(self, event):
                p = event.progress
                progress.append((p.numInputRows, p.durationMs.get("triggerExecution", 0)))

            def onQueryIdle(self, event): ...

            def onQueryTerminated(self, event): ...

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    def layer_metrics(self, tracer) -> dict[str, float]:
        self.spark.streams.removeListener(self.listener)
        m = span_totals(tracer)
        trig = [d / 1e3 for n, d in self.progress if n > 0]
        m["streaming.triggers"] = len(trig)
        m["streaming.trigger_s_p50"] = statistics.median(trig) if trig else 0.0
        m["streaming.trigger_s_max"] = max(trig, default=0.0)
        m["streaming.input_rows"] = sum(n for n, _ in self.progress)
        return m


WORKLOADS = {w.name: w for w in (IncrementalMerge, StreamDedup)}
