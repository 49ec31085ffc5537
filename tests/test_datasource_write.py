"""DataSource WRITE path: ``df.write.format("delta_go")`` and
``df.writeStream.format("delta_go")`` (delta_go_spark/datasource.py
writer classes) — executors stage parquet per partition value, the
commit worker runs the optimistic transaction.  Semantics matched:
reference trnx.go:144-224 (blind append vs logical replace)."""

import os

import pytest
from pyspark.sql import functions as F

from delta_go_spark.datasource import register
from delta_go_spark.log import DeltaLog
from delta_go_spark.table import DeltaTable


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_write_creates_table_and_reads_back(spark, tmp_path):
    path = str(tmp_path / "w1")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    df.write.format("delta_go").mode("append").save(path)

    snap = DeltaLog.for_table(path).update()
    assert snap.version == 0
    adds = list(snap.all_files())
    assert adds and all(a.stats for a in adds)
    # files live under the per-write prefix; nothing was moved
    assert all(a.decoded_path().startswith("dswrite-") for a in adds)

    got = spark.read.format("delta_go").load(path)
    assert got.count() == 100
    assert got.agg(F.sum("k")).collect()[0][0] == sum(range(100))
    # the facade reads the same table
    assert DeltaTable.for_path(spark, path).to_df().count() == 100


def test_write_partitioned_and_modes(spark, tmp_path):
    path = str(tmp_path / "w2")
    df = spark.createDataFrame(
        [(i, str(i % 3), float(i)) for i in range(90)],
        "k long, p string, v double",
    )
    df.write.format("delta_go").option("partitionBy", "p").mode(
        "append"
    ).save(path)

    snap = DeltaLog.for_table(path).update()
    assert snap.metadata().partition_columns == ["p"]
    adds = list(snap.all_files())
    assert {a.partition_values["p"] for a in adds} == {"0", "1", "2"}
    assert all("/p=" in a.decoded_path() for a in adds)

    got = spark.read.format("delta_go").load(path)
    assert got.filter(F.col("p") == "1").count() == 30

    # append accumulates
    spark.createDataFrame([(1000, "9", 0.0)], "k long, p string, v double") \
        .write.format("delta_go").mode("append").save(path)
    assert spark.read.format("delta_go").load(path).count() == 91

    # overwrite is a logical replace in ONE commit; history survives
    spark.createDataFrame([(1, "x", 1.0)], "k long, p string, v double") \
        .write.format("delta_go").mode("overwrite").save(path)
    log = DeltaLog.for_table(path)
    assert log.update().version == 2
    assert spark.read.format("delta_go").load(path).count() == 1
    v0 = spark.read.format("delta_go").option("versionAsOf", 0).load(path)
    assert v0.count() == 90


def test_write_schema_guard_and_merge(spark, tmp_path):
    path = str(tmp_path / "w3")
    spark.range(5).toDF("k").write.format("delta_go").mode("append").save(path)
    extra = spark.range(5).select(F.col("id").alias("k"), F.lit("e").alias("tag"))
    with pytest.raises(Exception, match="mergeSchema"):
        extra.write.format("delta_go").mode("append").save(path)
    extra.write.format("delta_go").option("mergeSchema", "true").mode(
        "append"
    ).save(path)
    got = spark.read.format("delta_go").load(path)
    assert set(got.columns) == {"k", "tag"}
    assert got.count() == 10
    # pre-evolution rows read the new column as NULL
    assert got.filter(F.col("tag").isNull()).count() == 5


def test_write_refuses_constraint_tables(spark, tmp_path):
    path = str(tmp_path / "w4")
    t = DeltaTable.create(spark, path, spark.range(3).toDF("k"))
    t.add_check_constraint("pos", "k >= 0")
    with pytest.raises(Exception, match="CHECK constraint"):
        spark.range(3).toDF("k").write.format("delta_go").mode(
            "append"
        ).save(path)


def test_stream_write_delta_to_delta_exactly_once(spark, tmp_path):
    """readStream from one delta_go table into a delta_go streaming sink
    with a txnAppId token: rows land exactly once, each micro-batch is
    one commit carrying its SetTransaction."""
    src_path = str(tmp_path / "src")
    dst_path = str(tmp_path / "dst")
    t = DeltaTable.create(
        spark, src_path, spark.range(50).toDF("k"), partition_by=None
    )
    t.append(spark.range(50, 80).toDF("k"))

    chk = str(tmp_path / "chk")
    q = (
        spark.readStream.format("delta_go")
        .load(src_path)
        .writeStream.format("delta_go")
        .option("path", dst_path)
        .option("txnAppId", "ds-stream-test")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = spark.read.format("delta_go").load(dst_path)
    assert got.count() == 80
    assert got.agg(F.sum("k")).collect()[0][0] == sum(range(80))

    # restart with no new data: nothing re-emitted
    q2 = (
        spark.readStream.format("delta_go")
        .load(src_path)
        .writeStream.format("delta_go")
        .option("path", dst_path)
        .option("txnAppId", "ds-stream-test")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(240)
    assert spark.read.format("delta_go").load(dst_path).count() == 80

    # the exactly-once token is recorded in the destination's state
    log = DeltaLog.for_table(dst_path)
    tokens = {t.app_id: t.version for t in log.update().set_transactions()}
    assert "ds-stream-test" in tokens


def test_abort_leaves_no_active_files(spark, tmp_path):
    """A failed commit must not leak staged files into the active set:
    the schema-compat rejection fires AFTER executors staged parquet, and
    the staging prefix must be dropped with it.  A conflicting
    partitionBy option is rejected up front (never silently ignored)."""
    path = str(tmp_path / "w5")
    DeltaTable.create(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "k long, p string"),
        partition_by=["p"],
    )
    with pytest.raises(Exception, match="does not match"):
        spark.createDataFrame([(2, "b")], "k long, p string") \
            .write.format("delta_go").option("partitionBy", "k").mode(
                "append"
            ).save(path)
    # unknown column without mergeSchema: staged, then rejected at commit
    bad = spark.createDataFrame([(2, "b", 1.5)], "k long, p string, extra double")
    with pytest.raises(Exception, match="mergeSchema"):
        bad.write.format("delta_go").mode("append").save(path)
    snap = DeltaLog.for_table(path).update()
    assert snap.version == 0
    assert len(list(snap.all_files())) == 1
    # the failed write's staging prefix was cleaned up
    leftovers = [d for d in os.listdir(path) if d.startswith("dswrite-")]
    assert leftovers == []


def test_concurrent_datasource_writes_both_commit(spark, tmp_path):
    """Two df.write.format('delta_go') appends racing on one table: each
    stages under its own prefix, the optimistic-commit retry resolves the
    version race, and BOTH land (blind appends never conflict —
    reference conflict rules, trnx.go/conflict_checker.go).

    Spark 4 quirk: DataFrameWriter resolves PYTHON data sources through
    the JVM's thread-local active session, which a fresh py4j-pinned
    thread lacks — so each writer thread must setActiveSession first
    (reads fall back to the default session; writes do not)."""
    import threading

    path = str(tmp_path / "race")
    spark.range(1).toDF("k").write.format("delta_go").mode("append").save(path)

    errs = []

    def write(lo):
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            (
                spark.range(lo, lo + 50)
                .toDF("k")
                .write.format("delta_go")
                .mode("append")
                .save(path)
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=write, args=(lo,)) for lo in (100, 200)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    log = DeltaLog.for_table(path)
    assert log.update().version == 2
    got = spark.read.format("delta_go").load(path)
    assert got.count() == 101
    assert got.select("k").distinct().count() == 101


def test_write_partition_column_case_insensitive(spark, tmp_path):
    """Delta field lookup is case-insensitive (type_utils.go:100-107):
    a frame spelling the partition column differently must still write,
    with partitionValues keyed by the TABLE's spelling."""
    path = str(tmp_path / "w6")
    DeltaTable.create(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "k long, p string"),
        partition_by=["p"],
    )
    spark.createDataFrame([(2, "b")], "k long, P string") \
        .write.format("delta_go").mode("append").save(path)
    snap = DeltaLog.for_table(path).update()
    assert all(
        "p" in (a.partition_values or {}) for a in snap.all_files()
    )
    got = spark.read.format("delta_go").load(path)
    assert got.count() == 2
    assert got.filter(F.col("p") == "b").count() == 1


def test_timestamp_partition_roundtrip_both_readers(spark, tmp_path):
    """A microsecond timestamp partition written by format("delta_go") is
    recorded in the protocol form `YYYY-MM-DD HH:MM:SS.ffffff` and reads
    back equal through both readers, including a read pruned on it."""
    import datetime

    path = str(tmp_path / "w7")
    ts = [
        datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),
        datetime.datetime(2024, 3, 2, 0, 0, 0),
    ]
    spark.createDataFrame(
        [(1, ts[0]), (2, ts[1])], "k long, ts timestamp"
    ).write.format("delta_go").option("partitionBy", "ts").mode(
        "append"
    ).save(path)
    want = {(1, ts[0]), (2, ts[1])}
    ds = spark.read.format("delta_go").load(path)
    assert {(r["k"], r["ts"]) for r in ds.collect()} == want
    facade = DeltaTable.for_path(spark, path).to_df()
    assert {(r["k"], r["ts"]) for r in facade.collect()} == want
    pruned = ds.filter(F.col("ts") == F.lit(ts[0]))
    assert [(r["k"], r["ts"]) for r in pruned.collect()] == [(1, ts[0])]
    t = DeltaTable.for_path(spark, path)
    pred = t.parse_predicate("ts = '2024-03-01 12:30:45.123456'")
    assert [r["k"] for r in t.to_df(pred).collect()] == [1]
    snap = DeltaLog.for_table(path).update()
    assert {a.partition_values["ts"] for a in snap.all_files()} == {
        "2024-03-01 12:30:45.123456",
        "2024-03-02 00:00:00",
    }
