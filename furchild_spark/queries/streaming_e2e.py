"""Driver-checkable END-TO-END streaming entry (SURVEY §2.8).

The two existing streaming catalog entries (`streaming_window_rollup`,
`session_window_rollup`) verify the *window semantics* via batch twins;
this entry runs the real thing: a file-source micro-batch stream
(``trigger(availableNow=True)``, ``maxFilesPerTrigger=1``) through the full
ingest pipeline — watermarked delivery-dedup → ``foreachBatch`` incremental
merge (``streaming/ingest.py:run_ingest``) — into a parquet table, then
returns that final table for the driver's hash compare against a plain
batch oracle.

Determinism argument (why a streaming run can be hash-compared at all):

- The landing dir holds three files: events split into two halves by
  ``event_id``, plus a REDELIVERED copy of the first half (at-least-once
  delivery, the failure mode the watermark dedup exists for).
- ``event_id`` is globally unique, so whatever the micro-batch order or
  watermark state, the merge-on-key collapses every delivery of an event
  to one row; redelivered rows carry identical payloads, so even
  "duplicate slipped past evicted dedup state" converges to the same table.
- Events are time-ordered by ``event_id`` and the slice spans ≪ 7 days, so
  the watermark never drops a first delivery.

Final table ≡ the distinct event rows — the oracle is a plain SELECT.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from furchild_spark.streaming.ingest import land

from .catalog import query, table

_COLS = ["event_id", "user_id", "event_type", "ts", "value"]


@query(
    "streaming_ingest_e2e",
    section="§2.8 streaming end-to-end: availableNow micro-batches → "
    "watermarked dedup → foreachBatch merge → parquet sink",
    oracle="""
SELECT event_id, user_id, event_type, ts, value
FROM events
WHERE event_id < 2000
""",
)
def streaming_ingest_e2e(spark, sf_dir):
    from furchild_spark.engine import materialize as mat
    from furchild_spark.streaming.ingest import run_ingest

    base = tempfile.mkdtemp(prefix="furchild_stream_e2e_")
    landing, table_path, ckpt = f"{base}/landing", f"{base}/table", f"{base}/ckpt"

    src = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select(*_COLS)
    )
    schema = src.schema

    # land two halves + a redelivery of the first half, one file each
    first = src.filter(F.col("event_id") < 1000)
    second = src.filter(F.col("event_id") >= 1000)
    for name, df in [("b1", first), ("b2", second), ("b1_redelivered", first)]:
        land(df, landing, name)

    # state partitions sized to the stream, not the session (see
    # stream_stream_join_e2e — same rationale, measured ~2× on this entry)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = run_ingest(
            spark,
            src_dir=landing,
            schema=schema,
            table_path=table_path,
            unique_key="event_id",
            ts_col="ts",
            checkpoint_dir=ckpt,
            watermark_delay="7 days",
            available_now=True,
            # one file per trigger so dedup state genuinely crosses micro-batches
            max_files_per_trigger=1,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    return mat.read_table(spark, table_path).select(*_COLS)


@query(
    "stream_stream_join_e2e",
    section="§2.8 streaming: stream-stream event-time range join "
    "(watermark-bounded state) run as real micro-batches",
    oracle="""
SELECT v.event_id AS view_id, p.event_id AS purchase_id,
  v.user_id, v.ts AS view_ts, p.ts AS purchase_ts,
  p.value AS purchase_value
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND v.event_id < 4000 AND p.event_id < 4000
""",
)
def stream_stream_join_e2e(spark, sf_dir):
    """REAL stream-stream join: views and purchases land as separate
    file-source streams (two files each, one per micro-batch, so join
    state must buffer across triggers and across the two sides), joined
    on user within a 30-minute attribution window, appended to parquet
    with checkpointed exactly-once commits. Determinism: inner join with
    globally-unique ids emits each qualifying pair exactly once whatever
    the micro-batch interleaving; the 7-day watermark never evicts state
    within the fixture's time span, so the result ≡ the batch join the
    oracle runs.

    Citation: the reference has no streaming surface (SURVEY §2.8) —
    engine extra."""
    from furchild_spark.engine import materialize as mat
    from furchild_spark.streaming.ingest import stream_stream_attribution

    base = tempfile.mkdtemp(prefix="furchild_ssj_e2e_")
    out_path, ckpt = f"{base}/joined", f"{base}/ckpt"

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    views = ev.filter(F.col("event_type") == "view").select(*_COLS)
    purchases = ev.filter(F.col("event_type") == "purchase").select(*_COLS)
    schema = views.schema

    def land_halves(df, sub):
        d = f"{base}/{sub}"
        # two halves, one file each → state must survive trigger boundaries
        land(df.filter(F.col("event_id") % 2 == 0), d, "h1")
        land(df.filter(F.col("event_id") % 2 == 1), d, "h2")
        return d

    v_dir, p_dir = land_halves(views, "views"), land_halves(purchases, "purchases")
    read = lambda d: (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    joined = stream_stream_attribution(read(v_dir), read(p_dir))
    # The state-store partition count is frozen into the checkpoint at
    # first trigger from spark.sql.shuffle.partitions. Size it to the
    # data, not the session default: a stream-stream join runs FOUR
    # stateful operators per micro-batch, so 32 near-empty state
    # partitions × ~5 micro-batches is pure task overhead at fixture
    # scale (measured ~40% of entry wall time). At 100 TB this number
    # comes from cluster cores × state volume, set once at stream start.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return mat.read_table(spark, out_path)


@query(
    "stateful_alerts_e2e",
    section="§2.8 streaming: CUSTOM stateful operator via "
    "applyInPandasWithState — per-user running totals + threshold alerts, "
    "keyed state carried across real micro-batches, full SQL oracle",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, ts,
    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS mic
  FROM events WHERE event_id < 2000
)
SELECT user_id, event_id,
  CAST(row_number() OVER w AS BIGINT) AS seq,
  CAST(SUM(mic) OVER w AS DOUBLE) / CAST(1000000 AS DOUBLE) AS cum_value,
  ((SUM(mic) OVER w) - mic < 500000000 AND SUM(mic) OVER w >= 500000000)
    AS crossed
FROM e
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts ASC, event_id ASC
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
""",
)
def stateful_alerts_e2e(spark, sf_dir):
    """The custom-stateful-operator proof (streaming/stateful.py): a
    REAL availableNow stream (one file per micro-batch) through
    applyInPandasWithState — per-user (seq, cum_micros) state crosses
    the batch boundary — into a parquet sink, returned for the driver's
    hash compare. Determinism: the two landed files partition the
    events by EVENT TIME (every batch-1 row precedes every batch-2 row
    within any user — file mtimes force the source order), rows are
    sorted inside each batch, and the state is exact integer micros —
    so the emitted stream equals the oracle's per-user running-window
    batch computation, making a genuinely stateful streaming run fully
    hash-checkable. Threshold 500.0 → ``crossed`` marks the first
    crossing event per user."""
    import os

    from furchild_spark.streaming.stateful import run_stateful_alerts

    base = tempfile.mkdtemp(prefix="furchild_stateful_e2e_")
    landing, out_path, ckpt = f"{base}/landing", f"{base}/out", f"{base}/ckpt"

    cols = ["user_id", "event_id", "ts", "value"]
    src = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select(*cols)
    )
    split = "2024-01-04"
    halves = [
        ("b1", src.filter(F.col("ts") < F.lit(split).cast("timestamp"))),
        ("b2", src.filter(F.col("ts") >= F.lit(split).cast("timestamp"))),
    ]
    for i, (name, df) in enumerate(halves):
        dst = land(df, landing, name)
        # strictly increasing mtimes pin the file-source batch order
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = run_stateful_alerts(
            spark,
            src_dir=landing,
            schema=src.schema,
            out_path=out_path,
            checkpoint_dir=ckpt,
            threshold=500.0,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    return spark.read.parquet(out_path).select(
        "user_id", "event_id", "seq", "cum_value", "crossed"
    )


_FP = ("md5(COALESCE(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), "
       "''))")


@query(
    "streaming_dedup_e2e",
    section="§2.8 + LLM-dedup streaming: micro-batch document ingest "
    "exact-deduped against a MAINTAINED fingerprint state table "
    "(bootstrapped from the corpus; survivors' fingerprints merge in "
    "per batch), redelivered file proves exactly-once via keyed merges "
    "— the daily-ingest dedup of a training pipeline run as a stream",
    oracle=f"""
WITH b1 AS (
  SELECT doc_id, text, source FROM documents
  WHERE source IN ('src5','src6','src7','src8','src9')
  UNION ALL
  SELECT doc_id + 100000, text, source FROM documents WHERE source = 'src0'
),
b2 AS (
  SELECT doc_id, text, source FROM documents
  WHERE source IN ('src10','src11','src12','src13','src14')
  UNION ALL
  SELECT doc_id + 200000, text, source FROM documents WHERE source = 'src5'
),
cfp AS (
  SELECT DISTINCT {_FP} AS fingerprint FROM documents
  WHERE source IN ('src0','src1','src2','src3','src4')
),
i1 AS (
  SELECT {_FP} AS fingerprint, MIN(doc_id) AS doc_id FROM b1 GROUP BY 1
),
s1 AS (
  SELECT * FROM i1 WHERE fingerprint NOT IN (SELECT fingerprint FROM cfp)
),
i2 AS (
  SELECT {_FP} AS fingerprint, MIN(doc_id) AS doc_id FROM b2 GROUP BY 1
),
s2 AS (
  SELECT * FROM i2 WHERE fingerprint NOT IN (SELECT fingerprint FROM cfp)
    AND fingerprint NOT IN (SELECT fingerprint FROM s1)
)
SELECT b1.doc_id, b1.source FROM b1 JOIN s1 USING (doc_id)
UNION ALL
SELECT b2.doc_id, b2.source FROM b2 JOIN s2 USING (doc_id)
""",
)
def streaming_dedup_e2e(spark, sf_dir):
    """Corpus = src0-src4. The stream lands three single-file
    micro-batches: b1 = src5-src9 PLUS exact copies of every src0 doc
    (re-keyed +100000 — corpus dups, must reject), b2 = src10-src14 PLUS
    copies of every src5 doc (+200000 — dups of batch-1 SURVIVORS, must
    reject against state written by the b1 trigger, not the bootstrap),
    then b1 REDELIVERED (at-least-once delivery; both sinks are keyed
    merges, so it must change nothing). Returns the accepted table; the
    oracle replays bootstrap fingerprints and both survivor rounds
    relationally. maxFilesPerTrigger=1 forces the cross-batch state
    dependency to be real."""
    from furchild_spark.engine import materialize as mat
    from furchild_spark.streaming.ingest import run_streaming_corpus_dedup

    base = tempfile.mkdtemp(prefix="furchild_streamdedup_e2e_")
    landing = f"{base}/landing"
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    b1 = d.filter(
        F.col("source").isin("src5", "src6", "src7", "src8", "src9")
    ).unionByName(
        d.filter(F.col("source") == "src0")
        .withColumn("doc_id", F.col("doc_id") + F.lit(100000))
    )
    b2 = d.filter(
        F.col("source").isin("src10", "src11", "src12", "src13", "src14")
    ).unionByName(
        d.filter(F.col("source") == "src5")
        .withColumn("doc_id", F.col("doc_id") + F.lit(200000))
    )
    for name, df in [("b1", b1), ("b2", b2), ("b1_redelivered", b1)]:
        land(df, landing, name)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = run_streaming_corpus_dedup(
            spark,
            src_dir=landing,
            schema=b1.schema,
            corpus_df=corpus,
            table_path=f"{base}/accepted",
            fp_path=f"{base}/fingerprints",
            id_col="doc_id",
            text_col="text",
            checkpoint_dir=f"{base}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    return mat.read_table(spark, f"{base}/accepted").select(
        "doc_id", "source"
    )


def _mh_side(side: str, src: str) -> str:
    """MinHash band/shingle CTE chain for one doc set ``src`` (a CTE
    exposing (doc_id, text)) — the cross-corpus instantiation of the
    _MINHASH_CTES fragment (16 perms, 4 rows/band, 3-token shingles,
    md5), aliased so several sides coexist in one oracle."""
    toks = ("list_filter(string_split(lower(trim(regexp_replace("
            "text, '\\s+', ' ', 'g'))), ' '), x -> x <> '')")
    return f"""
{side}_tok AS (SELECT doc_id, {toks} AS t FROM {src}),
{side}_sh0 AS (
  SELECT doc_id,
    unnest(list_transform(range(1, CASE WHEN len(t) >= 3 THEN len(t) - 1 ELSE 1 END),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM {side}_tok
),
{side}_sh AS (SELECT DISTINCT doc_id, shingle FROM {side}_sh0),
{side}_mh AS (
  SELECT doc_id, p, MIN(md5(CAST(p AS VARCHAR) || ':' || shingle)) AS minhash
  FROM {side}_sh CROSS JOIN perms GROUP BY doc_id, p
),
{side}_bands AS (
  SELECT doc_id, CAST(p // 4 AS INT) AS band,
         md5(string_agg(minhash, ',' ORDER BY p)) AS band_sig
  FROM {side}_mh GROUP BY doc_id, CAST(p // 4 AS INT)
),
{side}_sz AS (SELECT doc_id, COUNT(*) AS sz FROM {side}_sh GROUP BY doc_id)"""


def _neardup_round(k: int, batch: str, state: str) -> str:
    """One state-vs-batch near-dup round: banded candidates, exact
    Jaccard ≥ 0.5 verify, survivors = batch docs with no verified match."""
    return f"""
cand{k} AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
  FROM {batch}_bands n JOIN {state}_bands o
    ON n.band = o.band AND n.band_sig = o.band_sig
),
inter{k} AS (
  SELECT c.id_new, c.id_old, COUNT(*) AS n_inter
  FROM cand{k} c
  JOIN {batch}_sh a ON a.doc_id = c.id_new
  JOIN {state}_sh b ON b.doc_id = c.id_old AND b.shingle = a.shingle
  GROUP BY 1, 2
),
near{k} AS (
  SELECT DISTINCT i.id_new
  FROM inter{k} i
  JOIN {batch}_sz za ON za.doc_id = i.id_new
  JOIN {state}_sz zb ON zb.doc_id = i.id_old
  WHERE CAST(i.n_inter AS DOUBLE)
        / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) >= 0.5
),
surv{k} AS (
  SELECT doc_id FROM {batch}_tok
  WHERE doc_id NOT IN (SELECT id_new FROM near{k})
)"""


_FPX = ("md5(COALESCE(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), "
        "''))")

_STREAM_NEARDUP_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  WHERE source IN ('src0','src1','src2','src3','src4')
),
b1r AS (
  SELECT doc_id, text, source FROM documents
  WHERE source IN ('src5','src6','src7','src8','src9')
  UNION ALL
  SELECT doc_id + 100000, text || ' zz', source FROM documents
  WHERE source = 'src0'
),
b2r AS (
  SELECT doc_id, text, source FROM documents
  WHERE source IN ('src10','src11','src12','src13','src14')
  UNION ALL
  SELECT doc_id + 200000, text || ' zz', source FROM documents
  WHERE source = 'src5'
),
b1i AS (SELECT {_FPX} AS fp, MIN(doc_id) AS doc_id FROM b1r GROUP BY 1),
b1 AS (SELECT b1r.* FROM b1r JOIN b1i USING (doc_id)),
b2i AS (SELECT {_FPX} AS fp, MIN(doc_id) AS doc_id FROM b2r GROUP BY 1),
b2 AS (SELECT b2r.* FROM b2r JOIN b2i USING (doc_id)),
perms AS (SELECT unnest(range(0, 16)) AS p),
{_mh_side('c1', 'corpus')},
{_mh_side('n1', 'b1')},
{_neardup_round(1, 'n1', 'c1')},
st2 AS (
  SELECT doc_id, text FROM corpus
  UNION ALL
  SELECT b1.doc_id, b1.text FROM b1 JOIN surv1 USING (doc_id)
),
{_mh_side('c2', 'st2')},
{_mh_side('n2', 'b2')},
{_neardup_round(2, 'n2', 'c2')}
SELECT b1.doc_id, b1.source FROM b1 JOIN surv1 USING (doc_id)
UNION ALL
SELECT b2.doc_id, b2.source FROM b2 JOIN surv2 USING (doc_id)
"""


@query(
    "streaming_neardup_e2e",
    section="§2.8 + LLM-dedup streaming NEAR-dup: micro-batches MinHash-"
    "band-matched and exact-Jaccard-verified against the ACCUMULATED "
    "state (corpus + all accepted docs), survivors merged exactly-once; "
    "the near-dup upgrade of streaming_dedup_e2e — batch 2's rejects "
    "depend on state written by batch 1's trigger",
    oracle=_STREAM_NEARDUP_ORACLE,
)
def streaming_neardup_e2e(spark, sf_dir):
    """Corpus = src0-src4. Micro-batch b1 = src5-src9 plus a NEAR-dup
    variant of every src0 doc (one appended token — Jaccard
    (n-2)/(n-1) ≫ 0.5 against the original; re-keyed +100000): the
    variants must reject against the CORPUS state. b2 = src10-src14
    plus variants of src5 docs (+200000): those must reject against
    state written by b1's OWN trigger. Then b1 is REDELIVERED — every
    doc is an exact self-match in state (Jaccard 1), so the keyed merge
    provably no-ops. The oracle replays both rounds: banded candidates,
    exact-Jaccard verify at 0.5, survivor feedback into round-2 state."""
    from furchild_spark.engine import materialize as mat
    from furchild_spark.streaming.ingest import run_streaming_neardup_dedup

    base = tempfile.mkdtemp(prefix="furchild_streamneardup_e2e_")
    landing = f"{base}/landing"
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = d.filter(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )

    def variants(src):
        return (
            d.filter(F.col("source") == src)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz")))
        )

    b1 = d.filter(
        F.col("source").isin("src5", "src6", "src7", "src8", "src9")
    ).unionByName(
        variants("src0").withColumn("doc_id", F.col("doc_id") + F.lit(100000))
    )
    b2 = d.filter(
        F.col("source").isin("src10", "src11", "src12", "src13", "src14")
    ).unionByName(
        variants("src5").withColumn("doc_id", F.col("doc_id") + F.lit(200000))
    )
    for name, df in [("b1", b1), ("b2", b2), ("b1_redelivered", b1)]:
        land(df, landing, name)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = run_streaming_neardup_dedup(
            spark,
            src_dir=landing,
            schema=b1.schema,
            corpus_df=corpus,
            table_path=f"{base}/accepted",
            id_col="doc_id",
            text_col="text",
            checkpoint_dir=f"{base}/ckpt",
            threshold=0.5,
            available_now=True,
            max_files_per_trigger=1,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    return mat.read_table(spark, f"{base}/accepted").select(
        "doc_id", "source"
    )


@query(
    "txlog_stream_sink_e2e",
    section="§2.8 extra: writeStream.format('txlog') — the native "
    "streaming SINK (PySpark 4 Python DataSource): per-micro-batch "
    "stream_append commits with the txnAppId watermark in the same "
    "atomic manifest, redelivered batch provably a no-op",
    oracle="""
SELECT event_id, user_id, event_type, ts, value,
       TRUE AS replay_noop, CAST(2 AS BIGINT) AS n_commits
FROM events
WHERE event_id < 2000
""",
)
def txlog_stream_sink_e2e(spark, sf_dir):
    """The streaming write half of sources/txlog_datasource.py driven
    end-to-end: two landed files stream through ``maxFilesPerTrigger=1``
    (two REAL micro-batches) into ``writeStream.format("txlog")`` with
    ``txnAppId`` — each batch is one atomic ``stream_append`` manifest
    carrying the ``{app_id: batch_id}`` watermark WITH its data. Then
    Structured Streaming's at-least-once failure mode is simulated
    directly: the sink's ``commit`` is re-invoked with the
    already-committed batch id and a fresh duplicate file — the replay
    must commit nothing and unlink the duplicate (``replay_noop``), and
    the version count proves exactly one commit per batch
    (``n_commits``). Rows are globally unique by event_id so the final
    table is order-independent; the result is read back through
    ``spark.read.format("txlog")`` — source and sink halves of the
    data source composed in one entry."""
    import os

    from furchild_spark.engine.txlog import TxTable
    from furchild_spark.sources.txlog_datasource import (
        TxLogStreamArrowWriter,
        _TxWriteMessage,
        register as register_txlog,
    )

    # register() also sets spark.sql.python.filterPushdown.enabled —
    # required for pushFilters() on sessions the repo did not build.
    register_txlog(spark)
    base = tempfile.mkdtemp(prefix="furchild_txlog_sink_e2e_")
    landing, table_path = f"{base}/landing", f"{base}/table"

    src = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select(*_COLS)
    )
    first = src.filter(F.col("event_id") < 1000)
    second = src.filter(F.col("event_id") >= 1000)
    land(first, landing, "b1")
    land(second, landing, "b2")

    q = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream.format("txlog")
        .option("txnAppId", "sink_e2e")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start(table_path)
    )
    q.awaitTermination(120)

    tx = TxTable(spark, table_path)
    n_commits = tx.current_version()

    # simulate at-least-once redelivery of the LAST batch: same batch
    # id, fresh duplicate file — must be a no-op that drops the file
    dup_rel = "data/replay/dup.parquet"
    land(first.limit(5), f"{table_path}/data/replay", "dup")
    w = TxLogStreamArrowWriter(
        table_path, src.schema, {"txnappid": "sink_e2e"}
    )
    w.commit(
        [_TxWriteMessage([{"path": dup_rel, "rows": 5, "stats": {}}], 5)],
        batchId=tx.last_txn("sink_e2e"),
    )
    replay_noop = (
        tx.current_version() == n_commits
        and not os.path.exists(f"{table_path}/{dup_rel}")
    )

    return spark.read.format("txlog").load(table_path).select(
        *_COLS,
        F.lit(replay_noop).alias("replay_noop"),
        F.lit(n_commits).cast("long").alias("n_commits"),
    )
