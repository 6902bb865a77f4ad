"""Streaming ingest tests: file-stream → watermarked dedup → incremental
merge, and the watermarked windowed rollup.

Each test drains a landing directory with ``availableNow`` (bounded run),
appends a second bronze batch, re-runs against the same checkpoint, and
asserts merge/window semantics — i.e. the exact operational loop the
reference runs via Airbyte-lands-then-dbt-incremental.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from furchild_spark.streaming import ingest

TS = dt.datetime(2024, 6, 1, 12, 0, 0)


def _land(spark, src_dir: str, rows: list[Row], batch: str) -> None:
    """Land one bronze file of ``rows`` into the flat landing dir."""
    ingest.land(spark.createDataFrame(rows), src_dir, batch)


def _schema(spark, rows):
    return spark.createDataFrame(rows).schema


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    return str(src), str(tmp_path / "table"), str(tmp_path / "ckpt")


def _batch1():
    return [
        Row(order_id=str(i), amount=float(10 * i), updated_at=TS + dt.timedelta(minutes=i))
        for i in range(1, 6)
    ]


def _batch2():
    # keys 3..5 updated (newer rows win), 6..7 new
    return [
        Row(order_id=str(i), amount=float(100 * i), updated_at=TS + dt.timedelta(hours=1, minutes=i))
        for i in range(3, 8)
    ]


def test_ingest_bootstrap_then_merge(spark, dirs):
    src, table, ckpt = dirs
    _land(spark, src, _batch1(), "b1")
    schema = _schema(spark, _batch1())

    q = ingest.run_ingest(spark, src, schema, table, "order_id", "updated_at", ckpt)
    q.awaitTermination()
    got = {r["order_id"]: r["amount"] for r in spark.read.parquet(table).collect()}
    assert got == {str(i): 10.0 * i for i in range(1, 6)}

    _land(spark, src, _batch2(), "b2")
    q = ingest.run_ingest(spark, src, schema, table, "order_id", "updated_at", ckpt)
    q.awaitTermination()

    out = spark.read.parquet(table)
    got = {r["order_id"]: r["amount"] for r in out.collect()}
    # keys 1-2 untouched, 3-7 from batch 2 (new row wins)
    assert got == {"1": 10.0, "2": 20.0, **{str(i): 100.0 * i for i in range(3, 8)}}
    # no duplicate keys after the merge
    assert out.count() == out.select("order_id").distinct().count()


def test_ingest_redelivery_is_deduped_within_batch(spark, dirs):
    """The same key delivered twice in one backlog drain lands once."""
    src, table, ckpt = dirs
    rows = _batch1() + [
        Row(order_id="1", amount=10.0, updated_at=TS + dt.timedelta(minutes=1))
    ]
    _land(spark, src, rows, "b1")
    q = ingest.run_ingest(spark, src, _schema(spark, rows), table, "order_id", "updated_at", ckpt)
    q.awaitTermination()
    out = spark.read.parquet(table)
    assert out.count() == 5
    assert out.select("order_id").distinct().count() == 5


def test_windowed_counts_append_and_late_drop(spark, dirs):
    src, _, ckpt = dirs
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        Row(source="a", ts=base + dt.timedelta(seconds=10)),
        Row(source="a", ts=base + dt.timedelta(seconds=20)),
        Row(source="b", ts=base + dt.timedelta(seconds=30)),
        # advances the watermark far past the 12:00 window
        Row(source="a", ts=base + dt.timedelta(minutes=30)),
    ]
    _land(spark, src, rows, "b1")
    out_dir = os.path.join(os.path.dirname(ckpt), "win_out")
    stream = ingest.read_bronze_stream(spark, src, _schema(spark, rows))
    agg = ingest.windowed_counts(stream, "ts", "source", "1 minute", "2 minutes")

    def drain():
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["window_start"].minute, r["source"]): r["n_events"]
            for r in spark.read.parquet(out_dir).collect()
        }

    # the 12:30 row advances the watermark past the 12:00 window's end →
    # that window closes and emits; the 12:30 window itself stays open
    assert drain() == {(0, "a"): 2, (0, "b"): 1}

    # a late row for the already-closed 12:00 window, beyond the watermark
    # → dropped: the emitted results are unchanged (no re-open, no recount)
    _land(spark, src, [Row(source="a", ts=base + dt.timedelta(seconds=40))], "b2")
    assert drain() == {(0, "a"): 2, (0, "b"): 1}


def test_session_window_rollup_streaming_merge_and_close(spark, dirs):
    """Built-in session_window in a real stream: events within the gap merge
    into one session; once the watermark passes session_end + delay the
    session closes and emits exactly once."""
    src, _, ckpt = dirs
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        Row(user="u1", ts=base, v=1.0),
        Row(user="u1", ts=base + dt.timedelta(seconds=50), v=2.0),   # merges
        Row(user="u1", ts=base + dt.timedelta(seconds=200), v=4.0),  # new session
        Row(user="u2", ts=base + dt.timedelta(seconds=10), v=8.0),
        # advances the watermark far enough to close everything above
        Row(user="u3", ts=base + dt.timedelta(hours=2), v=0.5),
    ]
    _land(spark, src, rows, "b1")
    stream = ingest.read_bronze_stream(spark, src, _schema(spark, rows))
    agg = ingest.session_window_rollup(
        stream, "user", "ts", "v", gap="1 minute", watermark_delay="5 minutes"
    )
    out_dir = os.path.join(os.path.dirname(ckpt), "sess_out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user"], r["session_start"].second): (r["n_events"], r["value_sum"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # u1 session 1: events at :00 and :50 merged (gap 60s); session 2 alone
    assert got == {("u1", 0): (2, 3.0), ("u1", 200 % 60): (1, 4.0),
                   ("u2", 10): (1, 8.0)}


def test_streaming_exact_dedup_across_batches(spark, dirs):
    """Duplicate documents (same normalized text) are dropped as they
    arrive — including across micro-batches through the state store — while
    whitespace/case variants of the SAME text count as duplicates and
    genuinely new text passes."""
    src, _, ckpt = dirs
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows1 = [
        Row(doc_id=1, text="The Quick Fox", ts=base),
        Row(doc_id=2, text="  the   quick fox ", ts=base),      # dup (normalized)
        Row(doc_id=3, text="something else", ts=base),
        # NULL and whitespace-only text share the batch operator's
        # fingerprint (md5 of ''): one of them survives, as in exact_dedup
        Row(doc_id=6, text=None, ts=base),
        Row(doc_id=7, text="   ", ts=base),
    ]
    _land(spark, src, rows1, "b1")
    stream = ingest.read_bronze_stream(spark, src, _schema(spark, rows1))
    deduped = ingest.streaming_exact_dedup(stream, "text", "ts", delay="7 days")
    out_dir = os.path.join(os.path.dirname(ckpt), "dedup_out")

    def drain():
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())

    first = drain()
    # doc 2 deduped within the batch, and one of the NULL/blank pair
    assert first in ([1, 3, 6], [1, 3, 7])
    # batch 2: another copy of the fox text (cross-batch dup) + new text
    _land(
        spark, src,
        [Row(doc_id=4, text="THE QUICK FOX", ts=base + dt.timedelta(hours=1)),
         Row(doc_id=5, text="brand new", ts=base + dt.timedelta(hours=1))],
        "b2",
    )
    assert drain() == sorted(first + [5])  # doc 4 dropped by the state store


def test_stream_static_enrichment_join(spark, dirs):
    """Stream-static join: each micro-batch enriches against a (broadcast)
    static dimension — the streaming twin of the facts⋈dims pattern. Rows
    with no dim match pass through with nulls (left join semantics)."""
    src, _, ckpt = dirs
    rows = [Row(k="a", v=1.0), Row(k="b", v=2.0), Row(k="zz", v=9.0)]
    _land(spark, src, rows, "b1")
    dim = F.broadcast(
        spark.createDataFrame([Row(k="a", label="alpha"), Row(k="b", label="beta")])
    )
    stream = ingest.read_bronze_stream(spark, src, _schema(spark, rows))
    enriched = stream.join(dim, on="k", how="left")
    out_dir = os.path.join(os.path.dirname(ckpt), "enrich_out")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["k"]: r["label"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"a": "alpha", "b": "beta", "zz": None}


def test_stateful_running_totals_across_microbatches(spark, dirs):
    """applyInPandasWithState keeps per-key totals in the state store: a
    second backlog drain resumes from the checkpointed state, so totals are
    cumulative across micro-batches, not per-batch."""
    src, _, ckpt = dirs
    rows1 = [Row(k="a", v=1.0), Row(k="a", v=2.0), Row(k="b", v=10.0)]
    _land(spark, src, rows1, "b1")
    stream = ingest.read_bronze_stream(spark, src, _schema(spark, rows1))
    totals = ingest.stateful_running_totals(stream, "k", "v")

    def drain(name):
        # memory sink can't recover from a checkpoint; foreachBatch can —
        # each drain writes its update rows to its own dir, state carries
        # over through the shared checkpoint
        out_dir = os.path.join(os.path.dirname(ckpt), name)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            totals.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["k"]: (r["n_events"], r["value_sum"])
            for r in spark.read.parquet(out_dir).collect()
        }

    assert drain("rt1") == {"a": (2, 3.0), "b": (1, 10.0)}
    _land(spark, src, [Row(k="a", v=4.0), Row(k="c", v=7.0)], "b2")
    # batch 2 emits updates only for the touched keys, with CUMULATIVE totals
    assert drain("rt2") == {"a": (3, 7.0), "c": (1, 7.0)}


def test_neardup_sidecar_heal_is_per_sidecar(spark, tmp_path):
    """Crash-consistency regression: a crash BETWEEN the __sets append
    and the __bands append leaves an accepted doc with shingle rows but
    no band rows. A replayed batch must heal the bands sidecar even
    though the sets sidecar already holds the id (each sidecar computes
    its own add-set) — otherwise future near-dups of that accepted doc
    are never band candidates and silently pass."""
    from furchild_spark.engine import materialize as mat
    from furchild_spark.operators.dedup import shingle_sets

    src = str(tmp_path / "landing")
    accepted = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")

    corpus_rows = [Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta")]
    x = Row(doc_id=2, text="one two three four five six seven eight nine")
    x_var = Row(doc_id=3, text="one two three four five six seven eight nine zz")
    corpus = spark.createDataFrame(corpus_rows)
    schema = corpus.schema

    def run():
        q = ingest.run_streaming_neardup_dedup(
            spark, src_dir=src, schema=schema, corpus_df=corpus,
            table_path=accepted, id_col="doc_id", text_col="text",
            checkpoint_dir=ckpt, threshold=0.5, available_now=True,
        )
        q.awaitTermination()

    # a crash inside the bootstrap, between its two writes, leaves the
    # corpus __sets without __bands: the next start must bootstrap both
    mat.overwrite(
        spark, f"{accepted}__sets", shingle_sets(corpus, "doc_id", "text"),
        return_table=False,
    )

    # batch 1: X is novel -> accepted, sets+bands written
    _land(spark, src, [x], "b1")
    run()
    assert {r.doc_id for r in mat.read_table(spark, accepted).collect()} == {2}

    # simulate the crash: drop X's band rows (sets keep them)
    bands_path = f"{accepted}__bands"
    healthy = (
        mat.read_table(spark, bands_path)
        .filter(F.col("doc_id") != 2)
        .localCheckpoint()
    )
    mat.overwrite(spark, bands_path, healthy)

    # replay batch 1 under a new file name: exact self-match via sets is
    # NOT visible through bands (they're gone), so X re-merges (no-op);
    # the heal must restore X's band rows from bands' OWN membership
    _land(spark, src, [x], "b1_redelivered")
    run()
    healed = mat.read_table(spark, bands_path).filter(F.col("doc_id") == 2)
    assert healed.count() > 0, "bands sidecar was not healed"

    # batch 2: the near-dup variant of X must now be rejected
    _land(spark, src, [x_var], "b2")
    run()
    ids = {r.doc_id for r in mat.read_table(spark, accepted).collect()}
    assert ids == {2}, f"variant should reject against healed bands, got {ids}"
