"""The txlog Python DataSource (spark.read/readStream.format("txlog")).

Public-Spark-4 surface (pyspark.sql.datasource): batch snapshot reads
with versionAsOf, manifest-stat file pruning through pushFilters, schema
evolution reconciliation in the Arrow read path, and the version-offset
micro-batch stream with Delta-style ignoreChanges semantics.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from furchild_spark.engine.txlog import TxTable
from furchild_spark.sources.txlog_datasource import (
    TxLogDataSource,
    TxLogReader,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(TxLogDataSource)
    return spark


@pytest.fixture()
def tx_table(registered, sf_dir, tmp_path):
    spark = registered
    path = str(tmp_path / "orders_tx")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    tx = TxTable(spark, path, cluster_by=("o_orderkey",))
    # three commits over DISJOINT key ranges so manifest stats make
    # files genuinely skippable (one file per commit at this size)
    q1, q2 = (
        orders.agg(
            F.expr("percentile(o_orderkey, 0.33)"),
            F.expr("percentile(o_orderkey, 0.66)"),
        ).collect()[0]
    )
    tx.overwrite(orders.filter(F.col("o_orderkey") <= int(q1)))
    tx.append(orders.filter(
        (F.col("o_orderkey") > int(q1)) & (F.col("o_orderkey") <= int(q2))
    ))
    tx.append(orders.filter(F.col("o_orderkey") > int(q2)))
    return tx, path, orders


def test_batch_read_matches_snapshot(registered, tx_table):
    spark = registered
    tx, path, orders = tx_table
    df = spark.read.format("txlog").load(path)
    assert df.count() == orders.count()
    assert df.schema == tx.snapshot().schema
    a = {r["o_orderkey"] for r in df.select("o_orderkey").collect()}
    b = {r["o_orderkey"] for r in orders.select("o_orderkey").collect()}
    assert a == b


def test_version_as_of(registered, tx_table):
    spark = registered
    tx, path, orders = tx_table
    v1 = spark.read.format("txlog").option("versionAsOf", 1).load(path)
    assert v1.count() == tx.count(version=1)
    assert v1.count() < orders.count()


def test_push_filters_prune_files_conservatively(registered, tx_table):
    """pushFilters drops files the manifest stats PROVE can't match and
    returns every filter unsupported, so Spark still filters row-level:
    fewer partitions, identical answer."""
    from pyspark.sql.datasource import GreaterThan

    spark = registered
    tx, path, orders = tx_table
    n_files = len(tx._read_manifest(tx.current_version())["files"])
    cut = orders.agg(F.expr("percentile(o_orderkey, 0.9)")).collect()[0][0]

    r = TxLogReader(path, tx.current_version())
    unsupported = r.pushFilters([GreaterThan(("o_orderkey",), int(cut))])
    assert len(list(unsupported)) == 1  # row-level filtering stays Spark's
    pruned = r.partitions()
    assert 0 < len(pruned) < n_files  # clustered on o_orderkey → skippable

    got = (
        spark.read.format("txlog").load(path)
        .filter(F.col("o_orderkey") > int(cut)).count()
    )
    want = orders.filter(F.col("o_orderkey") > int(cut)).count()
    assert got == want


def test_schema_evolution_nulls_for_old_files(registered, tmp_path, sf_dir):
    """append_new_columns evolution: files written before a column
    existed read back as nulls through the Arrow reconciliation, same
    as TxTable.snapshot."""
    spark = registered
    path = str(tmp_path / "evolve_tx")
    base = spark.range(5).select(F.col("id").alias("k"))
    tx = TxTable(spark, path)
    tx.overwrite(base)
    tx.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("new").alias("extra")
        ),
        allow_evolution=True,
    )
    df = spark.read.format("txlog").load(path)
    assert set(df.columns) == {"k", "extra"}
    rows = {r["k"]: r["extra"] for r in df.collect()}
    assert all(rows[k] is None for k in range(5))
    assert all(rows[k] == "new" for k in range(5, 8))


def test_stream_exactly_once_appends(registered, tx_table, tmp_path):
    spark = registered
    tx, path, orders = tx_table
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("txlog").load(path)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    drain()
    n0 = spark.read.parquet(out).count()
    assert n0 == orders.count()
    tx.append(
        orders.limit(9).withColumn(
            "o_orderkey", F.col("o_orderkey") + 10_000_000
        )
    )
    drain()
    assert spark.read.parquet(out).count() == n0 + 9  # only the delta
    drain()
    assert spark.read.parquet(out).count() == n0 + 9  # no re-emission


def test_stream_rejects_mutations_unless_ignore_changes(
    registered, tx_table, tmp_path
):
    spark = registered
    tx, path, orders = tx_table
    tx.delete([("o_orderkey", "<", 10)])

    q = (
        spark.readStream.format("txlog").load(path)
        .writeStream.format("memory").queryName("txds_reject")
        .option("checkpointLocation", str(tmp_path / "ck_r"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="ignoreChanges"):
        q.awaitTermination(120)
        raise AssertionError("mutating commit streamed silently")

    q2 = (
        spark.readStream.format("txlog").option("ignoreChanges", "true")
        .load(path)
        .writeStream.format("memory").queryName("txds_ok")
        .option("checkpointLocation", str(tmp_path / "ck_ok"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    n = spark.sql("select count(*) from txds_ok").collect()[0][0]
    assert n >= tx.count()  # added files streamed; removals skipped


def test_write_format_roundtrip_and_append_by_reference(
    registered, sf_dir, tmp_path
):
    """df.write.format('txlog'): overwrite then append through the
    public writer API; append must carry the prior version's files BY
    REFERENCE (O(new data), the transactional-format contract), and the
    TxTable API must read the sink's commits interchangeably."""
    spark = registered
    path = str(tmp_path / "w_tx")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    (orders.write.format("txlog").mode("overwrite")
     .option("statsCols", "o_orderkey").save(path))
    assert spark.read.format("txlog").load(path).count() == orders.count()

    delta = orders.limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 9_000_000
    )
    delta.write.format("txlog").mode("append").save(path)
    tx = TxTable(spark, path)
    assert tx.count() == orders.count() + 10  # manifest row count agrees
    m1 = {e["path"] for e in tx._read_manifest(1)["files"]}
    m2 = {e["path"] for e in tx._read_manifest(2)["files"]}
    assert m1 < m2  # prior files carried by reference, not rewritten
    # footer stats landed for the declared statsCols (skipping works)
    assert any("o_orderkey" in e.get("stats", {})
               for e in tx._read_manifest(1)["files"])

    orders.limit(3).write.format("txlog").mode("overwrite").save(path)
    assert spark.read.format("txlog").load(path).count() == 3
    assert [h["op"] for h in tx.history()] == [
        "overwrite", "append", "overwrite"
    ]


def test_write_append_schema_mismatch_is_loud(registered, sf_dir, tmp_path):
    spark = registered
    path = str(tmp_path / "w_tx2")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.write.format("txlog").mode("overwrite").save(path)
    with pytest.raises(Exception, match="append schema mismatch"):
        (orders.limit(2).drop("o_orderpriority")
         .write.format("txlog").mode("append").save(path))
    # a same-name column with another type commits nothing: accepted, it
    # would leave a version no reader can decode
    tx = TxTable(spark, path)
    with pytest.raises(Exception, match="column type change not allowed"):
        (orders.limit(2)
         .withColumn("o_orderkey", F.concat(F.lit("k"), "o_orderkey"))
         .write.format("txlog").mode("append").save(path))
    assert tx.current_version() == 1
    assert len(tx.snapshot().collect()) == orders.count()
    assert len(spark.read.format("txlog").load(path).collect()) == orders.count()


def test_stream_reads_table_fed_by_streaming_sink(registered, tmp_path):
    """stream_append commits only add files: a table fed by
    write_stream_batch streams without ignoreChanges."""
    spark = registered
    path = str(tmp_path / "sink_fed")
    tx = TxTable(spark, path)
    for b in range(2):
        tx.write_stream_batch(spark.range(3 * b, 3 * b + 3), "app", b)
    q = (
        spark.readStream.format("txlog").load(path)
        .writeStream.format("memory").queryName("txds_sink_fed")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(r["id"] for r in spark.sql("select id from txds_sink_fed").collect())
    assert got == list(range(6))


def test_stream_sink_exactly_once(registered, sf_dir, tmp_path):
    """writeStream.format('txlog'): micro-batches land as stream_append
    commits; with txnAppId a REDELIVERED batch id commits nothing and
    leaves no orphan manifest references (the Delta txnAppId/txnVersion
    pattern, watermark and data in one atomic commit)."""
    import glob
    import shutil

    import pyarrow as pa

    from furchild_spark.sources.txlog_datasource import (
        TxLogStreamArrowWriter,
        _TxWriteMessage,
    )

    spark = registered
    path = str(tmp_path / "sink_tx")
    src = str(tmp_path / "src")
    os.makedirs(src)
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))

    def land(df, name):
        # the file-stream source lists FLAT files (and a pandas-written
        # parquet drops the NTZ annotation) — write with Spark, move the
        # part file in
        tmp = str(tmp_path / ("tmp_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(
            glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
            os.path.join(src, name),
        )

    land(orders.limit(20), "b0.parquet")

    q = (
        spark.readStream.schema(orders.schema).parquet(src)
        .writeStream.format("txlog")
        .option("txnAppId", "sink-test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start(path)
    )
    q.awaitTermination(120)
    tx = TxTable(spark, path)
    assert tx.count() == 20
    assert tx._read_manifest(tx.current_version())["op"] == "stream_append"
    assert tx.last_txn("sink-test") >= 0

    # second trigger with more data: only the delta commits
    land(orders.limit(35), "b1.parquet")
    q = (
        spark.readStream.schema(orders.schema).parquet(src)
        .writeStream.format("txlog")
        .option("txnAppId", "sink-test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start(path)
    )
    q.awaitTermination(120)
    assert tx.count() == 55

    # simulate Structured Streaming's at-least-once REDELIVERY: commit
    # the same batch id again with fresh files — must be a no-op and
    # must unlink the duplicate files it was handed
    w = TxLogStreamArrowWriter(path, orders.schema, {"txnappid": "sink-test"})
    batch = pa.Table.from_pydict(
        {f.name: [] for f in orders.schema.fields}
    )  # entries list is what matters; build one real file via write()
    dup_dir = os.path.join(path, "data", "dupdir")
    os.makedirs(dup_dir)
    dup_file = os.path.join(dup_dir, "dup.parquet")
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"o_orderkey": pa.array([1], type=pa.int64())}), dup_file
    )
    msg = _TxWriteMessage(
        [{"path": "data/dupdir/dup.parquet", "rows": 1, "stats": {}}], 1
    )
    before = tx.current_version()
    w.commit([msg], batchId=tx.last_txn("sink-test"))  # replayed id
    assert tx.current_version() == before  # nothing committed
    assert not os.path.exists(dup_file)  # duplicate files dropped
    assert tx.count() == 55


def test_datasource_tables_interop_with_maintenance(
    registered, sf_dir, tmp_path
):
    """Tables created through the writer are first-class txlog tables:
    compaction rewrites the sink's small files bit-identically and the
    data source reads the compacted version transparently."""
    spark = registered
    path = str(tmp_path / "m_tx")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.write.format("txlog").mode("overwrite").save(path)
    for i in range(3):
        (orders.limit(5).withColumn(
            "o_orderkey", F.col("o_orderkey") + (i + 1) * 1_000_000
        ).write.format("txlog").mode("append").save(path))
    tx = TxTable(spark, path)
    before = tx.count()
    n_files_before = len(tx._read_manifest(tx.current_version())["files"])
    tx.compact(small_file_bytes=64 * 1024 * 1024)
    assert spark.read.format("txlog").load(path).count() == before
    n_files_after = len(tx._read_manifest(tx.current_version())["files"])
    assert n_files_after < n_files_before


def test_register_on_new_session_clone(registered, tx_table):
    """register() on a spark.newSession() clone, then a format("txlog")
    read on the clone. Either the read works, or register() itself
    raises an error that names the newSession() limitation — never a
    silent registration followed by DATA_SOURCE_NOT_FOUND at read time.
    On Spark 4.1 a clone cannot resolve its parent's Python data source,
    so the error branch is the one taken; the parent still reads."""
    from furchild_spark.sources.txlog_datasource import register

    tx, path, _orders = tx_table
    clone = registered.newSession()
    try:
        register(clone)
    except RuntimeError as e:
        assert "newSession()" in str(e)
        reader = registered
    else:
        reader = clone
    assert reader.read.format("txlog").load(path).count() == tx.count()


def test_entries_pass_on_session_without_filter_pushdown_conf(spark, sf_dir):
    """The catalog entries that read format("txlog") must work on a
    session the repo did NOT build (the bench driver constructs its own
    SparkSession without spark.sql.python.filterPushdown.enabled, and
    TxLogReader.pushFilters raises DATA_SOURCE_PUSHDOWN_DISABLED without
    it). register() is the entry-side fix: it sets the runtime conf
    before registering the format.

    The batch entry runs here on the shared session with the conf
    explicitly DISABLED first (the driver-like condition); the fully
    bare-session proof (streaming entry included) is the subprocess
    test below — newSession() clones are avoided because Python data
    source registration/lookup visibility across clones is inconsistent
    in Spark 4.1 (register collides with the parent's registration
    while lookup misses it)."""
    from furchild_spark.queries.engine_e2e import txlog_datasource_e2e

    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        out = txlog_datasource_e2e(spark, sf_dir)
        assert out.count() > 0
        assert (
            spark.conf.get("spark.sql.python.filterPushdown.enabled")
            == "true"
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


def test_entries_pass_on_truly_bare_external_session(sf_dir):
    """Both txlog-format entries green on a SparkSession built with NONE
    of the repo's confs — exactly what the bench driver does. Runs in a
    fresh subprocess so the session really is bare (one JVM per process)."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .appName("bare_external")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        assert (
            spark.conf.get(
                "spark.sql.python.filterPushdown.enabled", "false"
            )
            == "false"
        ), "session must start bare for this test to prove anything"
        from furchild_spark.queries.engine_e2e import txlog_datasource_e2e
        from furchild_spark.queries.streaming_e2e import txlog_stream_sink_e2e

        sf_dir = sys.argv[1]
        assert txlog_datasource_e2e(spark, sf_dir).count() > 0
        assert txlog_stream_sink_e2e(spark, sf_dir).count() > 0
        print("BARE_SESSION_OK")
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "BARE_SESSION_OK" in proc.stdout
