"""Structured Streaming ingest — continuous bronze landing → incremental
marts.

The reference has no streaming engine of its own; its freshness SLA
(reference ``models/staging/schema.yml:13-15``: warn >24h, error >72h since
``_AIRBYTE_EXTRACTED_AT``) exists because an external EL tool lands bronze
batches continuously and dbt re-runs on a schedule. The Spark-first version
of that contract is a file-source stream feeding the SAME merge
materializer the batch Runner uses (``engine.materialize.merge_upsert``) —
one upsert semantics for both paths, so a table can be kept fresh by a
stream and still be rebuilt by a batch backfill (Kappa-style).

Scale notes (100 TB / 1000 executors):

- ``maxFilesPerTrigger`` bounds micro-batch size: ingest throughput is
  tuned by files-per-trigger × file size, independent of total backlog.
- ``dropDuplicatesWithinWatermark`` keeps dedup state BOUNDED — keys older
  than the watermark are evicted, so state size tracks the late-data
  horizon (the reference's 7-day lookback), not corpus size.
- The sink is ``foreachBatch`` + partition-scoped merge: each micro-batch
  rewrites only the partitions it touches (see materialize.py scale notes).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from furchild_spark.engine import materialize as mat
from furchild_spark.operators.dedup import (
    band_signatures,
    exact_dedup,
    exact_dedup_groups,
    fingerprint,
    jaccard_verify_cross,
    shingle_sets,
)


def read_bronze_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a bronze landing directory (new parquet files
    are discovered per micro-batch — exactly how EL tools land data)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def land(df: DataFrame, src_dir: str, name: str) -> str:
    """Land ``df`` as ONE parquet file ``<src_dir>/<name>.parquet`` — the
    flat layout a file-source stream lists (it discovers files, not a
    tree), and the shape of an EL tool's drop. Spark writes the frame into
    a hidden staging dir inside ``src_dir`` (file sources skip dot-names)
    and the single part file is renamed into place, so a running stream
    never lists a half-written file. Returns the landed file's path."""
    os.makedirs(src_dir, exist_ok=True)
    dst = os.path.join(src_dir, f"{name}.parquet")
    stage = tempfile.mkdtemp(prefix=".land_", dir=src_dir)
    try:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        os.replace(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return dst


def _start(stream: DataFrame, sink, checkpoint_dir: str, available_now: bool):
    """Start ``stream`` into the ``foreachBatch`` ``sink`` —
    ``available_now`` drains the current backlog and stops, otherwise the
    query runs continuously."""
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _upsert(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    unique_key: str,
    partition_by: tuple[str, ...] = (),
    keep_newer_ts: str | None = None,
    return_table: bool = False,
):
    """Merge ``df`` into the parquet table at ``path`` on ``unique_key``,
    or create the table from ``df`` if there is none yet (a sink's first
    trigger). Calls go through the ``mat`` module attribute, so a wrapper
    installed on ``materialize`` sees every sink write."""
    if mat.parquet_exists(spark, path):
        return mat.merge_upsert(
            spark, path, df, unique_key, partition_by,
            keep_newer_ts=keep_newer_ts, return_table=return_table,
        )
    return mat.overwrite(spark, path, df, partition_by, return_table=return_table)


def dedup_within_watermark(
    df: DataFrame, unique_key: str, ts_col: str, delay: str = "7 days"
) -> DataFrame:
    """Collapse at-least-once redeliveries, with state bounded by the
    watermark delay (the streaming twin of the reference's 7-day lookback).

    Dedup identity is ``(unique_key, ts_col)`` — the *delivery*, not the
    business key: the same key at the same timestamp is a redelivered file
    (dropped); the same key at a newer timestamp is an UPDATE and must
    reach the merge sink. Deduping on the key alone would silently eat
    every late-arriving update inside the watermark horizon."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        [unique_key, ts_col]
    )


def merge_sink(
    path: str, unique_key: str, ts_col: str, partition_by: tuple[str, ...] = ()
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: upsert each micro-batch into the parquet table at
    ``path`` with the batch engine's merge. First batch bootstraps the
    table with a plain overwrite.

    A single micro-batch can carry several versions of one key (backlog
    drain); they're collapsed to the latest by ``ts_col`` first so the
    merge's unique-key invariant holds. ACROSS batches the merge is
    conditional on ``ts_col`` too (``keep_newer_ts``): the watermark dedup
    upstream does not guarantee ordered delivery, so a late file carrying
    an older version of a key must not overwrite the newer row already in
    the table — the merge keeps whichever version is newest, making the
    sink order-insensitive (ties go to the incoming row, so redelivery of
    the newest version stays idempotent)."""
    from pyspark.sql import Window

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(unique_key).orderBy(F.desc_nulls_last(ts_col))
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        _upsert(
            batch_df.sparkSession, path, latest, unique_key, partition_by,
            keep_newer_ts=ts_col,
        )

    return sink


def run_ingest(
    spark: SparkSession,
    src_dir: str,
    schema,
    table_path: str,
    unique_key: str,
    ts_col: str,
    checkpoint_dir: str,
    partition_by: tuple[str, ...] = (),
    watermark_delay: str = "7 days",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """End-to-end ingest: bronze stream → watermarked key-dedup →
    incremental merge. ``available_now=True`` drains the current backlog
    and stops (the micro-batch analogue of one dbt incremental run);
    ``False`` runs continuously. ``max_files_per_trigger`` bounds each
    micro-batch (availableNow still drains the whole backlog, in several
    triggers)."""
    stream = read_bronze_stream(spark, src_dir, schema, max_files_per_trigger)
    deduped = dedup_within_watermark(stream, unique_key, ts_col, watermark_delay)
    return _start(
        deduped, merge_sink(table_path, unique_key, ts_col, partition_by),
        checkpoint_dir, available_now,
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str,
    ts_col: str,
    delay: str = "7 days",
) -> DataFrame:
    """Streaming corpus dedup: the streaming twin of
    ``operators.dedup.exact_dedup`` — documents whose normalized-text
    fingerprint was already seen (within the watermark horizon) are dropped
    as they arrive, so downstream training-data shards never ingest the
    duplicate in the first place.

    State holds one md5 per DISTINCT document seen within ``delay`` — the
    watermark evicts older fingerprints, bounding state by the dedup
    horizon, not corpus size. (Exact global dedup over all history is the
    batch operator's job; streaming dedup exists to stop the continuous
    firehose's redundancy near the source.) The key is the batch
    operator's ``fingerprint``, so NULL and blank text are one document
    here as they are there."""
    return (
        stream_df.withColumn("fingerprint", fingerprint(text_col))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def session_window_rollup(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    gap: str = "30 minutes",
    watermark_delay: str | None = None,
) -> DataFrame:
    """Per-user session rollup via Spark's built-in ``session_window`` —
    the merging-interval session operator (an event extends its session to
    ``ts + gap``; overlapping intervals merge). Runs identically in batch
    and streaming; with a watermark, closed sessions emit once and their
    state is evicted (bounded by the late horizon, not user count × time).

    The batch twin of :func:`furchild_spark.operators.curate.session_rollup`
    — same gap semantics at the boundary (a gap of exactly ``gap`` starts a
    new session), different output shape (``session_end`` is ``last event +
    gap``, the interval end, not the last event time). The value sum goes
    through decimal so it is partition-order-insensitive."""
    src = df.withWatermark(ts_col, watermark_delay) if watermark_delay else df
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), F.col(user_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            user_col,
            F.col("n_events").cast("long").alias("n_events"),
            "value_sum",
        )
    )


def stateful_running_totals(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running event count and value sum that survive across micro-batches in
    the state store. Emits one row per key per micro-batch with the
    cumulative totals (update semantics).

    This is the §2.9 escape hatch for stateful logic the built-in windowed
    aggregates can't express (counters, custom sessionizers, CDC folds):
    Arrow-batched per-group pandas with explicit state, never row-at-a-time
    Python. State is one tiny tuple per key; for unbounded key spaces a
    production variant sets ``GroupStateTimeout.ProcessingTimeTimeout`` and
    drops idle keys to keep the store bounded."""
    import pandas as pd  # noqa: F401 (needed by the worker closure)
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "value_sum": [s]})

    return df.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} string, n_events long, value_sum double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup (events per key per window) —
    append-mode safe: a window emits once, when the watermark passes its
    end, so late rows beyond the delay are dropped instead of re-opening
    state. The streaming twin of agg_orders_daily."""
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def stream_stream_attribution(
    views: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "30 minutes",
    watermark_delay: str = "7 days",
) -> DataFrame:
    """Stream-stream INNER join with an event-time range condition: each
    purchase matches the same user's views from the preceding
    ``attribution_window``. Both sides carry watermarks + the time-bound
    join predicate, which is exactly what lets Spark BOUND the join state:
    a buffered view can be evicted once the watermark passes
    ``view_ts + window`` (without the time bound, stream-stream state
    grows forever). Inner-join matches are emitted as found — append-mode
    safe; the watermark governs state eviction, not result admission.

    Scale: state is hash-partitioned by user_id across executors; the
    range predicate keeps per-key state O(events in window), so skewed
    users bound memory by time, not cardinality.
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark_delay)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark_delay)
    return v.join(
        p,
        F.expr(
            "v_user = p_user AND purchase_ts > view_ts "
            f"AND purchase_ts <= view_ts + interval {attribution_window}"
        ),
        "inner",
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def run_streaming_corpus_dedup(
    spark: SparkSession,
    src_dir: str,
    schema,
    corpus_df: DataFrame,
    table_path: str,
    fp_path: str,
    id_col: str,
    text_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
):
    """Streaming corpus dedup — the daily-ingest dedup of a training-data
    pipeline run as a STREAM: each micro-batch of new documents is
    exact-deduped against a MAINTAINED fingerprint table (bootstrapped
    once from the existing corpus) and against itself (min-id survivor
    per fingerprint), survivors merge into the accepted table, and their
    fingerprints merge into the state table — so the next micro-batch
    dedups against everything accepted so far without ever rescanning
    corpus text.

    Scale shape: the state table holds one 32-hex row per DISTINCT
    document ever accepted — the md5-fingerprint projection of the
    corpus, not the corpus. Per batch: one bounded groupBy (map-side
    combined on the batch), one anti-join keyed on the fingerprint
    (shuffles only the batch; AQE broadcasts the batch side against the
    big state when small), two keyed merges. Corpus data files are never
    read after bootstrap and never rewritten.

    Exactly-once: both sinks are unique-key MERGES (doc id / fingerprint),
    so a redelivered file recomputes zero survivors (its fingerprints are
    already state) and the merges no-op — idempotent without relying on
    the checkpoint alone.
    """
    def survivors(df: DataFrame) -> DataFrame:
        # (fingerprint, min id): the batch exact-dedup groups
        return exact_dedup_groups(df, id_col, text_col).select(
            "fingerprint", F.col("keep_id").alias(id_col)
        )

    # bootstrap the state table from the corpus (min-id canonical per
    # fingerprint — one aggregate, run once; in production this table is
    # maintained at ingest, never rebuilt)
    if not mat.parquet_exists(spark, fp_path):
        mat.overwrite(spark, fp_path, survivors(corpus_df), return_table=False)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        state = mat.read_table(s, fp_path)
        intra = survivors(batch_df)
        # never shuffle state: an anti-join with the state table as the
        # right side re-shuffles the ENTIRE fingerprint state per
        # trigger. Broadcasting the batch's fingerprints pre-filters
        # state in one map-side scan; the anti then builds against the
        # tiny intersection (identical result — fingerprints absent from
        # state ∩ batch are absent from state).
        state_hits = state.select("fingerprint").join(
            F.broadcast(intra.select("fingerprint")),
            on="fingerprint", how="left_semi",
        )
        surv = intra.join(
            F.broadcast(state_hits), on="fingerprint", how="left_anti"
        ).localCheckpoint()  # both merges read it; and the accepted-table
        # merge below changes no state it depends on, but the fp merge
        # AFTER it must not recompute against the already-updated table
        accepted = batch_df.join(
            F.broadcast(surv.select(id_col)), on=id_col, how="left_semi"
        )
        _upsert(s, table_path, accepted, id_col)
        mat.merge_upsert(s, fp_path, surv, "fingerprint", return_table=False)

    stream = read_bronze_stream(spark, src_dir, schema, max_files_per_trigger)
    return _start(stream, sink, checkpoint_dir, available_now)


def run_streaming_neardup_dedup(
    spark: SparkSession,
    src_dir: str,
    schema,
    corpus_df: DataFrame,
    table_path: str,
    id_col: str,
    text_col: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
):
    """Streaming NEAR-duplicate dedup — the MinHash upgrade of
    :func:`run_streaming_corpus_dedup`: each micro-batch is first
    exact-deduped within itself (min-id per normalized fingerprint),
    then its banded MinHash candidates against the accumulated state
    (corpus + everything accepted so far) are exact-Jaccard verified;
    docs with a verified near-dup at ``threshold`` are rejected,
    survivors merge into the accepted table, which IS the state the next
    micro-batch dedups against.

    Scale shape: candidates come from the banded equi-join (never
    batch×state all-pairs), and the state side is two MAINTAINED sidecar
    tables written at accept time — ``<table>__bands`` (doc_id, band,
    band_sig) and ``<table>__sets`` (doc_id, shingle array) — bootstrapped
    once from the corpus. Per batch the engine computes signatures for
    the BATCH only and joins them against the sidecars: cost ∝ batch +
    matched candidates, independent of state size (measured 27 s → the
    recompute-from-text stand-in at sf1 vs ~8 s maintained).

    Crash consistency: the accepted-table merge is the commit point.
    Sidecar rows are appended AFTER it, derived from accepted-table
    membership (anti-joined against existing sidecar ids), so a replayed
    batch heals any missing sidecar rows; conversely the band join is
    membership-filtered against accepted∪corpus ids, so an orphan
    sidecar row from a crash between merge and append can never reject
    a doc the accepted table does not vouch for.

    Semantics note (deliberate): near-dups WITHIN one micro-batch both
    survive (state-vs-batch is the contract; intra-batch is exact-only)
    — they are both state afterwards, so every LATER delivery dedups
    against both. Exactly-once: a redelivered file's docs are exact
    self-matches in state (Jaccard 1 ≥ threshold), so they reject and
    the keyed merge no-ops.
    """
    sets_path, bands_path = f"{table_path}__sets", f"{table_path}__bands"

    # bootstrap the sidecar state from the corpus, once — and again if
    # either sidecar is missing: __bands is written second, so a crash
    # between the two writes leaves __sets alone, and every trigger would
    # then fail reading __bands
    if not (
        mat.parquet_exists(spark, sets_path)
        and mat.parquet_exists(spark, bands_path)
    ):
        corpus_sets = shingle_sets(
            corpus_df, id_col, text_col
        ).localCheckpoint()
        mat.overwrite(spark, sets_path, corpus_sets, return_table=False)
        mat.overwrite(
            spark, bands_path, band_signatures(corpus_sets, id_col),
            return_table=False,
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batchd = exact_dedup(
            batch_df, id_col, text_col
        ).localCheckpoint()  # several consumers, and the downstream plans
        # re-read tables this sink writes
        sets_new = shingle_sets(batchd, id_col, text_col).localCheckpoint()
        bands_new = band_signatures(sets_new, id_col)
        # membership filter: only state rows the accepted table (or the
        # corpus) vouches for may reject — an orphan sidecar row from a
        # crash between merge and append is inert until healed
        vouched = corpus_df.select(F.col(id_col))
        if mat.parquet_exists(s, table_path):
            vouched = vouched.unionByName(
                mat.read_table(s, table_path).select(F.col(id_col))
            )
        # one read per sidecar per trigger: nothing below mutates a
        # sidecar before its second use, so the same DataFrame serves the
        # candidate join AND the post-merge heal membership check
        bands_state_df = mat.read_table(s, bands_path)
        sets_state_df = mat.read_table(s, sets_path)
        # Candidate generation never shuffles state: the batch side is
        # bounded by maxFilesPerTrigger, so its band signatures BROADCAST
        # into one map-side pass over the bands sidecar (per-trigger cost
        # ∝ state scan + batch size — the alternative, an equi-join with
        # a vouched-filtered state side, re-shuffled the ENTIRE sidecar
        # and the accepted∪corpus id set on every trigger).
        pairs_raw = (
            bands_state_df.select(
                F.col(id_col).alias("id_old"), "band", "band_sig"
            )
            .join(
                F.broadcast(
                    bands_new.select(
                        F.col(id_col).alias("id_new"), "band", "band_sig"
                    )
                ),
                on=["band", "band_sig"],
            )
            .select("id_new", "id_old")
            .distinct()
            .localCheckpoint()  # batch-bounded tiny; reused 3× below
        )
        # membership check moved from the state side to the candidate
        # side: a candidate may only reject if the accepted table (or the
        # corpus) vouches for its id_old — the same pair set as filtering
        # the sidecar before the band join (the join only restricts
        # id_old further), but checked on batch-bounded ids with map-side
        # scans instead of a full state shuffle per trigger
        vouched_cands = (
            vouched.join(
                F.broadcast(pairs_raw.select(F.col("id_old").alias(id_col))),
                on=id_col, how="left_semi",
            )
            .select(F.col(id_col).alias("id_old"))
        )
        pairs = pairs_raw.join(
            F.broadcast(vouched_cands), on="id_old", how="left_semi"
        )
        # verify only the candidates' state sets: the explode inside the
        # verify must never fan out the whole state shingle table
        # (left_semi/left_anti dedup their right side by definition — no
        # explicit distinct, which would add an aggregate + exchange)
        sets_old = sets_state_df.join(
            F.broadcast(pairs.select(F.col("id_old").alias(id_col))),
            on=id_col, how="left_semi",
        )
        ver = jaccard_verify_cross(
            sets_new, sets_old, pairs, id_col, threshold=threshold,
        )
        near = ver.select(F.col("id_new").alias(id_col))
        surv = batchd.join(F.broadcast(near), on=id_col, how="left_anti")
        # commit point (the merge/overwrite RETURNS the post-merge table,
        # so the heal below reads accepted membership without a re-read)
        accepted = _upsert(s, table_path, surv, id_col, return_table=True)
        # heal the sidecars from accepted membership (idempotent: only
        # rows the sidecar does not already hold are appended). Each
        # sidecar computes its OWN add-set against its OWN membership: a
        # crash between the sets append and the bands append leaves ids
        # present in __sets but absent from __bands, and a shared
        # sets-derived add-set would skip those ids forever — their bands
        # rows would never be written and future near-dups of accepted
        # docs would silently pass.
        # heal joins keep the same never-shuffle-state shape: the batch's
        # ids broadcast into map-side scans of the accepted table and the
        # sidecar id columns; the anti-joins then build against the tiny
        # pre-filtered result instead of shuffling a state-sized side
        batch_ids = sets_new.select(F.col(id_col))
        accepted_new = accepted.select(F.col(id_col)).join(
            F.broadcast(batch_ids), on=id_col, how="left_semi"
        )
        have_sets = sets_state_df.select(F.col(id_col)).join(
            F.broadcast(batch_ids), on=id_col, how="left_semi"
        )
        have_bands = bands_state_df.select(F.col(id_col)).join(
            F.broadcast(batch_ids), on=id_col, how="left_semi"
        )
        # both per-sidecar add-sets in ONE eager checkpoint (a tagged
        # union — one Spark action instead of two; left_anti needs no
        # distinct on its right side): the appends below rewrite what
        # these read, so eager materialization stays load-bearing
        adds = (
            accepted_new.join(
                F.broadcast(have_sets), on=id_col, how="left_anti"
            )
            .withColumn("__sidecar", F.lit("sets"))
            .unionByName(
                accepted_new.join(
                    F.broadcast(have_bands), on=id_col, how="left_anti"
                )
                .withColumn("__sidecar", F.lit("bands"))
            )
            .localCheckpoint()
        )
        add_sets = adds.filter(F.col("__sidecar") == "sets").select(id_col)
        add_bands = adds.filter(F.col("__sidecar") == "bands").select(id_col)
        mat.append_rows(
            s, sets_path,
            sets_new.join(F.broadcast(add_sets), on=id_col, how="left_semi"),
            return_table=False,
        )
        mat.append_rows(
            s, bands_path,
            bands_new.join(F.broadcast(add_bands), on=id_col, how="left_semi"),
            return_table=False,
        )

    stream = read_bronze_stream(spark, src_dir, schema, max_files_per_trigger)
    return _start(stream, sink, checkpoint_dir, available_now)
