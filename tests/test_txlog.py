"""Transaction-log table format (engine/txlog.py): the concurrent-reader
atomicity the staged-dir swap lacks (VERDICT r3 gap #4).

Property checklist:
- readers never observe a partial commit (uncommitted data files and
  crashed temp manifests are invisible);
- a snapshot keeps returning ITS version's rows while later commits land
  (snapshot isolation / time travel);
- exactly one of two writers racing for a version wins (optimistic
  concurrency via the hard-link claim), and every re-planning write
  retries onto the winner's snapshot;
- append is O(1) — it reuses the prior manifest's files untouched;
- vacuum removes only unreferenced commit dirs and expired manifests,
  leaving retained snapshots readable.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from furchild_spark.engine.txlog import (
    ConcurrentWriteError,
    NoSuchVersionError,
    TxTable,
)


@pytest.fixture()
def tmp_table(spark):
    base = tempfile.mkdtemp(prefix="txlog_test_")
    return TxTable(spark, os.path.join(base, "t"))


def _rows(n, start=0, val="a"):
    return [Row(k=i, v=val) for i in range(start, start + n)]


def test_overwrite_append_merge_contents(spark, tmp_table):
    t = tmp_table
    assert not t.exists()
    t.overwrite(spark.createDataFrame(_rows(5)))
    assert t.snapshot().count() == 5
    t.append(spark.createDataFrame(_rows(3, start=5)))
    assert t.snapshot().count() == 8
    # merge: keys 4..6 replaced (v='b'), key 100 inserted
    upd = spark.createDataFrame([Row(k=i, v="b") for i in (4, 5, 6, 100)])
    t.merge(upd, ["k"])
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert len(got) == 9
    assert all(got[i] == "b" for i in (4, 5, 6, 100))
    assert all(got[i] == "a" for i in (0, 1, 2, 3, 7))
    # idempotent re-merge of the identical batch
    t.merge(upd, ["k"])
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == got
    assert [h["op"] for h in t.history()] == [
        "overwrite", "append", "merge", "merge",
    ]


def test_uncommitted_data_invisible(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(4)))
    # a writer crashed after writing data files but before committing,
    # and another crashed mid-manifest-write: readers see neither
    t._write_data(spark.createDataFrame(_rows(50, start=100)))
    with open(os.path.join(t.log_dir, "_tmp-deadbeef.json"), "w") as fh:
        fh.write("{ half a manif")
    assert t.current_version() == 1
    assert t.snapshot().count() == 4


def test_snapshot_isolation_and_time_travel(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(4)))
    snap_v1 = t.snapshot()  # plan pinned to version 1's file list
    t.overwrite(spark.createDataFrame(_rows(9, val="z")))
    # the old plan still reads version 1's immutable files
    assert snap_v1.count() == 4
    assert t.snapshot().count() == 9
    assert t.snapshot(version=1).count() == 4
    assert {r["v"] for r in t.snapshot(version=2).collect()} == {"z"}
    with pytest.raises(NoSuchVersionError):
        t.snapshot(version=3)


def test_exactly_one_writer_wins_a_version(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(2)))
    base = t.current_version()
    files, n = t._write_data(spark.createDataFrame(_rows(1, start=10)))
    m = t._manifest_for(spark.createDataFrame(_rows(1, start=10)), "overwrite", files, n)
    assert t._commit(dict(m), base) == base + 1
    # the second writer computed against the same base: its claim MUST fail
    with pytest.raises(ConcurrentWriteError):
        t._commit(dict(m), base)


_RACED_OPS = {
    # op -> (call on the table, committed op name, {k: v} afterwards);
    # the competing append always lands keys 50, 51 with v="w"
    "merge": (
        lambda t, df: t.merge(df([Row(k=0, v="b")]), ["k"]),
        "merge", {0: "b", 1: "a", 2: "a", 3: "a"},
    ),
    "append": (
        lambda t, df: t.append(df([Row(k=9, v="b")])),
        "append", {0: "a", 1: "a", 2: "a", 3: "a", 9: "b"},
    ),
    "replace_where": (
        lambda t, df: t.replace_where(df([Row(k=1, v="b")]), [("k", "==", 1)]),
        "replace", {0: "a", 1: "b", 2: "a", 3: "a"},
    ),
    "delete": (
        lambda t, df: t.delete([("k", "==", 0)]),
        "delete", {1: "a", 2: "a", 3: "a"},
    ),
    "write_stream_batch": (
        lambda t, df: t.write_stream_batch(df([Row(k=9, v="b")]), "app", 0),
        "stream_append", {0: "a", 1: "a", 2: "a", 3: "a", 9: "b"},
    ),
    "compact": (
        lambda t, df: t.compact(),
        "compact", {0: "a", 1: "a", 2: "a", 3: "a"},
    ),
    "transform": (
        lambda t, df: t.transform(lambda cur: cur.withColumn("v", F.upper("v"))),
        "transform", {0: "A", 1: "A", 2: "A", 3: "A", 50: "W", 51: "W"},
    ),
}


@pytest.mark.parametrize("op", list(_RACED_OPS))
def test_write_retries_onto_winners_snapshot(spark, tmp_table, op):
    call, op_name, want = _RACED_OPS[op]
    t = tmp_table
    # two base files, so compact has small files to fold
    t.overwrite(spark.createDataFrame(_rows(4)).repartition(2))
    # interleave: a competing writer lands version 2 between our op's
    # head read and its commit — simulated by wrapping _commit to
    # inject one conflict
    real_commit = t._commit
    state = {"injected": False}

    def racing_commit(manifest, base_version):
        if not state["injected"]:
            state["injected"] = True
            TxTable(t.spark, t.path).append(
                t.spark.createDataFrame(_rows(2, start=50, val="w"))
            )
        return real_commit(manifest, base_version)

    t._commit = racing_commit
    call(t, spark.createDataFrame)
    t._commit = real_commit
    # our op lost version 2 and re-planned onto the winner's head
    assert [h["op"] for h in t.history()] == ["overwrite", "append", op_name]
    # both the competing append and our op's effect survived
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {50: "w", 51: "w", **want}
    if op == "compact":
        assert t.history()[-1]["num_files"] == 1


def test_append_is_o1_reuses_prior_files(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(4)))
    before = {e["path"] for e in t._read_manifest(1)["files"]}
    t.append(spark.createDataFrame(_rows(2, start=4)))
    after = {e["path"] for e in t._read_manifest(2)["files"]}
    assert before < after  # strictly reused + extended


def test_stats_skipping_prunes_files_and_matches_filter(spark):
    base = tempfile.mkdtemp(prefix="txlog_stats_")
    t = TxTable(
        spark, os.path.join(base, "t"), cluster_by=("bucket",), stats_cols=("bucket", "k")
    )
    t.target_files = 4
    df = spark.createDataFrame(
        [Row(k=i, bucket=i // 25, v=str(i)) for i in range(100)]
    )
    t.overwrite(df)
    m = t._read_manifest(1)
    assert all(e["stats"].get("bucket") for e in m["files"])
    pruned = [
        e for e in m["files"] if t._file_may_match(e, [("bucket", "==", 2)])
    ]
    assert len(pruned) < len(m["files"])  # skipping actually skips files
    got = {r["k"] for r in t.snapshot(where=[("bucket", "==", 2)]).collect()}
    want = {r["k"] for r in t.snapshot().filter("bucket = 2").collect()}
    assert got == want == set(range(50, 75))
    # range predicates, conservative on both ends
    got_rng = {
        r["k"] for r in t.snapshot(where=[("k", ">=", 90), ("k", "<", 95)]).collect()
    }
    assert got_rng == set(range(90, 95))


def test_scoped_merge_carries_untouched_files(spark):
    base = tempfile.mkdtemp(prefix="txlog_scoped_")
    t = TxTable(spark, os.path.join(base, "t"), cluster_by=("bucket",))
    t.target_files = 4
    df = spark.createDataFrame(
        [Row(k=i, bucket=i // 25, v="a") for i in range(100)]
    )
    t.overwrite(df)
    before = {e["path"]: e for e in t._read_manifest(1)["files"]}
    # update batch touches ONLY bucket 1 (keys 30..34 replaced, 1000 added)
    upd = spark.createDataFrame(
        [Row(k=i, bucket=1, v="b") for i in (30, 31, 32, 33, 34, 1000)]
    )
    t.merge(upd, ["k"], scope_col="bucket")
    after = {e["path"]: e for e in t._read_manifest(2)["files"]}
    carried = set(before) & set(after)
    assert carried  # untouched buckets' files survive BY REFERENCE
    for p in carried:
        assert before[p] == after[p]
    # and the scoped merge result equals the full-rewrite semantics
    got = {(r["k"], r["v"]) for r in t.snapshot().collect()}
    want = {(i, "a") for i in range(100) if i not in (30, 31, 32, 33, 34)}
    want |= {(i, "b") for i in (30, 31, 32, 33, 34, 1000)}
    assert got == want
    # untouched files contain none of the update keys (the scope-stability
    # precondition held, so no stale duplicates)
    assert (
        t.snapshot().groupBy("k").count().filter("count > 1").count() == 0
    )


def test_vacuum_retains_live_snapshots(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(3)))
    t.overwrite(spark.createDataFrame(_rows(5, val="y")))
    t.overwrite(spark.createDataFrame(_rows(7, val="z")))
    removed = t.vacuum(retain_last=2, min_age_seconds=0)
    assert len(removed) == 1  # version 1's commit dir
    assert t.snapshot(version=2).count() == 5
    assert t.snapshot(version=3).count() == 7
    with pytest.raises(NoSuchVersionError):
        t.snapshot(version=1)


def test_stream_batch_idempotence_and_restart(spark):
    """The txnAppId/txnVersion pattern: a redelivered batch id is a no-op,
    the watermark survives process restart (it lives in the manifest), and
    two independent apps have independent watermarks."""
    base = tempfile.mkdtemp(prefix="txlog_stream_")
    t = TxTable(spark, os.path.join(base, "t"))
    assert t.write_stream_batch(spark.createDataFrame(_rows(3)), "appA", 0) == 1
    assert t.snapshot().count() == 3
    # at-least-once redelivery of batch 0: MUST not double-append
    assert t.write_stream_batch(spark.createDataFrame(_rows(3)), "appA", 0) is None
    assert t.snapshot().count() == 3
    assert t.write_stream_batch(spark.createDataFrame(_rows(2, start=3)), "appA", 1) == 2
    # "restart": a fresh TxTable instance reads the watermark from the log
    t2 = TxTable(spark, os.path.join(base, "t"))
    assert t2.last_txn("appA") == 1
    assert t2.write_stream_batch(spark.createDataFrame(_rows(2, start=3)), "appA", 1) is None
    # another app's stream is tracked independently
    assert t2.last_txn("appB") == -1
    assert t2.write_stream_batch(spark.createDataFrame(_rows(1, start=90)), "appB", 0) == 3
    assert t2.snapshot().count() == 6


def test_stream_merge_batches_upsert(spark):
    base = tempfile.mkdtemp(prefix="txlog_streamm_")
    t = TxTable(spark, os.path.join(base, "t"))
    t.write_stream_batch(spark.createDataFrame(_rows(4)), "app", 0, key_cols=["k"])
    upd = spark.createDataFrame([Row(k=2, v="b"), Row(k=99, v="b")])
    t.write_stream_batch(upd, "app", 1, key_cols=["k"])
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {0: "a", 1: "a", 2: "b", 3: "a", 99: "b"}
    # redelivery of the merge batch is a no-op too
    assert t.write_stream_batch(upd, "app", 1, key_cols=["k"]) is None
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == got


def test_foreach_batch_sink_end_to_end(spark, tmp_path):
    """A real availableNow micro-batch run through writeStream.foreachBatch
    into the transactional sink, drained twice over the same checkpoint:
    the second drain processes only new files and the table stays
    exactly-once even though the sink ran under Spark's at-least-once
    contract."""
    import glob as globmod
    import shutil as shutilmod

    src = tmp_path / "landing"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(rows, name):
        out = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows).coalesce(1).write.parquet(out)
        part = globmod.glob(os.path.join(out, "part-*.parquet"))[0]
        shutilmod.move(part, str(src / f"{name}.parquet"))

    land(_rows(3), "b1")
    schema = spark.createDataFrame(_rows(1)).schema
    t = TxTable(spark, str(tmp_path / "t"))

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(t.foreach_batch_sink("ingest"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert t.snapshot().count() == 3
    land(_rows(2, start=3), "b2")
    drain()
    assert t.snapshot().count() == 5
    assert t.snapshot().select("k").distinct().count() == 5


def test_compact_small_files(spark):
    base = tempfile.mkdtemp(prefix="txlog_compact_")
    t = TxTable(spark, os.path.join(base, "t"))
    for b in range(4):  # 4 micro-batch appends -> >= 4 small files
        t.write_stream_batch(spark.createDataFrame(_rows(5, start=5 * b)), "app", b)
    rows_before = {tuple(r) for r in t.snapshot().collect()}
    n_files_before = t._read_manifest(t.current_version())["num_files"]
    v = t.compact()
    assert v == 5
    m = t._read_manifest(v)
    assert m["num_files"] < n_files_before
    assert {tuple(r) for r in t.snapshot().collect()} == rows_before
    # compaction preserved the streaming watermark (carried by _commit)
    assert t.last_txn("app") == 3
    # and a redelivered old batch is still a no-op after compaction
    assert t.write_stream_batch(spark.createDataFrame(_rows(5)), "app", 3) is None


def test_schema_evolution_append_and_merge(spark):
    base = tempfile.mkdtemp(prefix="txlog_evo_")
    t = TxTable(spark, os.path.join(base, "t"))
    t.overwrite(spark.createDataFrame(_rows(3)))
    # strict append with a new column refuses...
    widened = [Row(k=10, v="a", extra=1.5)]
    with pytest.raises(ValueError, match="allow_evolution"):
        t.append(spark.createDataFrame(widened))
    # ...and a dropped column ALWAYS refuses (never implicit)
    with pytest.raises(ValueError, match="missing"):
        t.append(spark.createDataFrame([Row(k=11)]), allow_evolution=True)
    # evolution appends the column; history reads null for it
    t.append(spark.createDataFrame(widened), allow_evolution=True)
    got = {r["k"]: (r["v"], r["extra"]) for r in t.snapshot().collect()}
    assert got[10] == ("a", 1.5)
    assert got[0] == ("a", None)  # old file, evolved read
    assert len(got) == 4
    # merge under evolution: replaced row's unspecified column nulls out
    t.merge(
        spark.createDataFrame([Row(k=0, v="b")]), ["k"], allow_evolution=True
    )
    got = {r["k"]: (r["v"], r["extra"]) for r in t.snapshot().collect()}
    assert got[0] == ("b", None) and got[10] == ("a", 1.5)


def test_schema_mismatch_strands_no_orphan_files(spark):
    """A rejected batch must raise BEFORE its data files land (r6
    ADVICE: _replace wrote files first, then failed the schema check,
    stranding orphans under data/<commit_id> until a vacuum)."""
    base = tempfile.mkdtemp(prefix="txlog_orphan_")
    path = os.path.join(base, "t")
    t = TxTable(spark, path)
    t.overwrite(spark.createDataFrame(_rows(3)))

    def data_files():
        out = []
        for root, _, names in os.walk(os.path.join(path, "data")):
            out += [os.path.join(root, n) for n in names
                    if n.endswith(".parquet")]
        return sorted(out)

    before = data_files()
    bad = spark.createDataFrame([Row(k=1, v="x", rogue=2)])
    with pytest.raises(ValueError, match="allow_evolution"):
        t.append(bad)
    with pytest.raises(ValueError, match="allow_evolution"):
        t.replace_where(bad, [("k", ">=", 0)])
    assert data_files() == before, "rejected writes left orphan data files"


def test_concurrent_appenders_all_land(spark):
    """Real thread-level races: 4 writers x 3 appends through the SAME
    table path. The hard-link claim serializes versions; losers retry by
    re-committing their already-written files, so every batch must land
    exactly once regardless of interleaving."""
    import threading

    base = tempfile.mkdtemp(prefix="txlog_conc_")
    path = os.path.join(base, "t")
    TxTable(spark, path).overwrite(spark.createDataFrame(_rows(1, start=10_000)))
    errors = []

    def writer(wid):
        try:
            t = TxTable(spark, path)
            for b in range(3):
                t.append(spark.createDataFrame(_rows(2, start=1000 * wid + 10 * b)))
        except Exception as exc:  # noqa: BLE001 — surfaced via the errors list
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = TxTable(spark, path)
    assert t.current_version() == 13  # 1 overwrite + 12 appends, none lost
    assert t.snapshot().count() == 1 + 4 * 3 * 2
    # every writer's every batch is present exactly once
    ks = sorted(r["k"] for r in t.snapshot().collect())
    assert len(ks) == len(set(ks))


def test_restore_rolls_forward_to_old_contents(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(4)))
    t.append(spark.createDataFrame(_rows(2, start=4, val="z")))
    t.overwrite(spark.createDataFrame(_rows(1, start=99, val="bad")))
    assert t.current_version() == 3
    v = t.restore(2)
    assert v == 4  # forward commit, history intact
    got = {(r["k"], r["v"]) for r in t.snapshot().collect()}
    want = {(i, "a") for i in range(4)} | {(4, "z"), (5, "z")}
    assert got == want
    # the "bad" version is still readable (audit trail preserved)...
    assert {r["k"] for r in t.snapshot(version=3).collect()} == {99}
    assert [h["op"] for h in t.history()] == [
        "overwrite", "append", "overwrite", "restore",
    ]
    # ...and restore is O(1): version 4 references version 2's files
    assert t._read_manifest(4)["files"] == t._read_manifest(2)["files"]
    # a vacuumed version cannot be restored
    t.vacuum(retain_last=1, min_age_seconds=0)
    with pytest.raises(NoSuchVersionError):
        t.restore(1)


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(5)))
    clone_path = os.path.join(os.path.dirname(t.path), "clone")
    c = t.clone(clone_path)
    # zero-copy: the clone's manifest points at the SOURCE's files
    refs = [e["path"] for e in c._read_manifest(1)["files"]]
    assert all(os.path.isabs(p) and p.startswith(t.path) for p in refs)
    assert not os.path.isdir(c.data_dir)  # no bytes copied
    assert {r["k"] for r in c.snapshot().collect()} == set(range(5))
    # divergence: writes to the clone never touch the source
    c.merge(spark.createDataFrame([Row(k=0, v="clone")]), ["k"])
    assert {r["v"] for r in t.snapshot().collect()} == {"a"}
    got = {r["k"]: r["v"] for r in c.snapshot().collect()}
    assert got[0] == "clone" and got[1] == "a"
    # the clone's vacuum must not reach into the source table
    c.vacuum(retain_last=1, min_age_seconds=0)
    assert t.snapshot().count() == 5
    # source keeps evolving independently of the clone
    t.append(spark.createDataFrame(_rows(2, start=10)))
    assert t.snapshot().count() == 7
    assert c.snapshot().count() == 5  # clone pinned to its own log


def test_vacuum_grace_period_spares_young_inflight_files(spark, tmp_table):
    """An in-flight writer's uncommitted data dir (and a fresh _tmp
    manifest) must survive vacuum until it ages past min_age_seconds —
    deleting it would let the writer's subsequent commit reference
    vanished files (silent data loss)."""
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(3)))
    t.overwrite(spark.createDataFrame(_rows(4)))
    # simulate an in-flight writer: data written, manifest not committed
    files, rows = t._write_data(spark.createDataFrame(_rows(2, start=50)))
    inflight_commit = files[0]["path"].split("/")[1]
    with open(os.path.join(t.log_dir, "_tmp-inflight.json"), "w") as fh:
        fh.write("{}")
    removed = t.vacuum(retain_last=1, min_age_seconds=3600)
    assert inflight_commit not in removed  # young dir spared
    assert os.path.exists(os.path.join(t.log_dir, "_tmp-inflight.json"))
    # the in-flight writer can now commit and its data is intact
    m = t._manifest_for(spark.createDataFrame(_rows(2, start=50)), "append",
                        t._read_manifest(t.current_version())["files"] + files,
                        t._read_manifest(t.current_version())["num_rows"] + rows)
    t._commit(m, t.current_version())
    assert t.snapshot().count() == 6
    # aged out (min_age 0) the garbage goes
    t.vacuum(retain_last=1, min_age_seconds=0)
    assert not os.path.exists(os.path.join(t.log_dir, "_tmp-inflight.json"))


def test_stream_append_refuses_schema_drop(spark):
    """A micro-batch missing table columns must not become the head
    schema — that would silently drop the columns from every read."""
    base = tempfile.mkdtemp(prefix="txlog_streamschema_")
    t = TxTable(spark, os.path.join(base, "t"))
    t.write_stream_batch(spark.createDataFrame(_rows(2)), "app", 0)
    with pytest.raises(ValueError, match="missing"):
        t.write_stream_batch(
            spark.createDataFrame([Row(k=9)]), "app", 1
        )
    # table unchanged, watermark not advanced — the batch can be fixed
    # and redelivered under the same id
    assert t.last_txn("app") == 0
    assert t.snapshot().columns == ["k", "v"]


def test_clone_refuses_existing_target(spark, tmp_table):
    t = tmp_table
    t.overwrite(spark.createDataFrame(_rows(2)))
    other_path = os.path.join(os.path.dirname(t.path), "other")
    other = TxTable(t.spark, other_path)
    other.overwrite(t.spark.createDataFrame(_rows(1, start=7, val="x")))
    with pytest.raises(ValueError, match="already a table"):
        t.clone(other_path)


def test_foreach_batch_sink_auto_compaction(spark):
    """compact_every=3 folds maintenance into the streaming sink: after
    every 3rd COMMITTED batch the small micro-batch files are rewritten
    into one (file count drops, rows identical, op='compact' in history).
    Duplicate redeliveries return None and must NOT advance the cadence."""
    base = tempfile.mkdtemp(prefix="txlog_autocompact_")
    t = TxTable(spark, os.path.join(base, "t"))
    sink = t.foreach_batch_sink("app", compact_every=3)
    for b in range(3):
        sink(spark.createDataFrame(_rows(2, start=10 * b)), b)
        sink(spark.createDataFrame(_rows(2, start=10 * b)), b)  # redelivery
    hist = t.history()
    ops = [h["op"] for h in hist]
    assert ops.count("compact") == 1
    assert ops[-1] == "compact"  # fired right after the 3rd commit
    assert hist[-1]["num_files"] < hist[-2]["num_files"]
    assert t.snapshot().count() == 6
    # three more committed batches -> exactly one more compaction
    for b in range(3, 6):
        sink(spark.createDataFrame(_rows(2, start=10 * b)), b)
    assert [h["op"] for h in t.history()].count("compact") == 2
    assert t.snapshot().count() == 12


def test_scoped_merge_caps_distinct_scope_values(spark, monkeypatch):
    """A key-granular scope column must fail LOUDLY instead of silently
    degenerating to an unbounded driver collect + full-table rewrite
    (and the probe itself is bounded by limit(cap+1))."""
    import pytest

    from furchild_spark.engine import materialize as mat

    base = tempfile.mkdtemp(prefix="txlog_scopecap_")
    t = TxTable(spark, os.path.join(base, "t"), cluster_by=("bucket",))
    df = spark.createDataFrame(
        [Row(k=i, bucket=i, v="a") for i in range(20)]
    )
    t.overwrite(df)
    monkeypatch.setattr(mat, "MAX_SCOPE_VALUES", 8)
    upd = spark.createDataFrame(
        [Row(k=i, bucket=i, v="b") for i in range(10)]
    )
    with pytest.raises(ValueError, match="distinct values"):
        t.merge(upd, ["k"], scope_col="bucket")
    with pytest.raises(ValueError, match="distinct values"):
        t.replace_scope(upd, "bucket")
    # under the cap both paths still work
    small = spark.createDataFrame(
        [Row(k=i, bucket=i, v="b") for i in range(5)]
    )
    t.merge(small, ["k"], scope_col="bucket")
    assert {r["v"] for r in t.snapshot().filter("k < 5").collect()} == {"b"}
