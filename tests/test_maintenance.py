"""OPTIMIZE compaction, change feed, schema evolution."""

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField

from delta_go_spark.table import DeltaTable


def _many_small_files(spark, tmp_path, name, n_commits=5):
    path = str(tmp_path / name)
    for i in range(n_commits):
        df = spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k"))
        if i == 0:
            DeltaTable.create(spark, path, df)
        else:
            DeltaTable.for_path(spark, path).append(df)
    return DeltaTable.for_path(spark, path)


def test_optimize_compacts_and_preserves_rows(spark, tmp_path):
    t = _many_small_files(spark, tmp_path, "topt")
    before = t.log.update().num_of_files()
    assert before >= 5
    v = t.optimize(min_files=2)
    assert v is not None
    snap = t.log.update()
    assert snap.num_of_files() < before
    rows = sorted(r["k"] for r in t.to_df().collect())
    assert rows == list(range(50))
    # dataChange=False on every action of the OPTIMIZE commit
    vlog = list(t.log.changes(snap.version))[-1]
    from delta_go_spark.actions import AddFile, RemoveFile

    for a in vlog.actions:
        if isinstance(a, (AddFile, RemoveFile)):
            assert a.data_change is False
    # idempotent-ish: second run has nothing to do
    assert t.optimize(min_files=2) is None or t.log.update().num_of_files() == 1


def test_optimize_clustered_tightens_stats(spark, tmp_path):
    import json

    path = str(tmp_path / "tzord")
    # two commits with interleaved k ranges -> overlapping min/max
    DeltaTable.create(
        spark, path, spark.range(0, 100, 2).select(F.col("id").alias("k"))
    )
    t = DeltaTable.for_path(spark, path)
    t.append(spark.range(1, 100, 2).select(F.col("id").alias("k")))
    t.optimize(min_files=2, cluster_by=["k"], target_size_bytes=1 << 30)
    snap = t.log.update()
    stats = [json.loads(a.stats) for a in snap.all_files() if a.stats]
    # all rows, and per-file ranges are non-overlapping when >1 file
    assert sum(s["numRecords"] for s in stats) == 100
    rows = sorted(r["k"] for r in t.to_df().collect())
    assert rows == list(range(100))


def test_optimize_partitioned_respects_layout(spark, tmp_path):
    path = str(tmp_path / "toptp")
    df = spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    DeltaTable.create(spark, path, df, partition_by=["p"])
    t = DeltaTable.for_path(spark, path)
    t.append(df)
    t.optimize(min_files=2)
    snap = t.log.update()
    assert all(set(a.partition_values) == {"p"} for a in snap.all_files())
    assert t.to_df().count() == 80


def test_changes_df_versions(spark, tmp_path):
    t = _many_small_files(spark, tmp_path, "tcdf", n_commits=3)
    cdf = t.changes_df(0)
    got = {
        (r["k"], r["_commit_version"]) for r in cdf.collect()
    }
    assert (0, 0) in got and (10, 1) in got and (20, 2) in got
    assert len(got) == 30
    # from a later version: only that version's rows
    cdf1 = t.changes_df(2)
    assert {r["_commit_version"] for r in cdf1.collect()} == {2}
    assert cdf1.count() == 10


def test_add_columns_evolution(spark, tmp_path):
    path = str(tmp_path / "tevo")
    DeltaTable.create(spark, path, spark.range(5).select(F.col("id").alias("k")))
    t = DeltaTable.for_path(spark, path)
    t.add_columns([StructField("note", StringType(), True)])
    df = t.to_df()
    assert [f.name for f in df.schema.fields] == ["k", "note"]
    # old files read the new column as null
    assert all(r["note"] is None for r in df.collect())
    # new writes carry the column
    t.append(
        spark.createDataFrame([(99, "x")], "k long, note string")
    )
    got = {r["k"]: r["note"] for r in t.to_df().collect()}
    assert got[99] == "x" and got[0] is None


def test_cleanup_expired_logs(spark, tmp_path):
    import os

    from delta_go_spark.log import DeltaLog
    from delta_go_spark.maintenance import cleanup_expired_logs

    path = str(tmp_path / "tclean")
    # checkpointInterval=4 so commit 4, 8, 12 write checkpoints
    DeltaTable.create(
        spark,
        path,
        spark.range(3).select(F.col("id").alias("k")),
        configuration={"delta.checkpointInterval": "4"},
    )
    t = DeltaTable.for_path(spark, path)
    for i in range(12):
        t.append(spark.range(i, i + 1).select(F.col("id").alias("k")))
    log = DeltaLog.for_table(path)
    assert log.update().segment.checkpoint_version == 12
    # retention=0: everything below checkpoint 12 is deletable
    deleted = cleanup_expired_logs(log, retention_millis=0)
    names = {os.path.basename(p) for p in deleted}
    assert f"{0:020d}.json" in names and f"{11:020d}.json" in names
    assert f"{8:020d}.checkpoint.parquet" in names  # stale checkpoint goes too
    # table still loads from checkpoint 12 + nothing after
    snap = DeltaLog.for_table(path).update()
    assert snap.version == 12
    assert snap.to_df(spark).count() == 15
    # default 30-day retention deletes nothing on a fresh table
    assert cleanup_expired_logs(DeltaLog.for_table(path)) == []


def test_zorder_tightens_both_dimensions(spark, tmp_path):
    """After Z-ordering on (x, y), each output file's min/max box must
    cover a strict subset of both value ranges — the property that makes
    two-column stats-skipping work."""
    import json

    from delta_go_spark.maintenance import zorder

    path = str(tmp_path / "tz")
    df = (
        spark.range(0, 4096)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
    )
    DeltaTable.create(spark, path, df)
    t = DeltaTable.for_path(spark, path)
    v = zorder(spark, path, ["x", "y"], n_files=4)
    assert v is not None
    snap = t.log.update()
    stats = [json.loads(a.stats) for a in snap.all_files() if a.stats]
    assert len(stats) >= 3
    assert sum(s["numRecords"] for s in stats) == 4096
    # every file must be narrow in x AND y (a row-order or single-column
    # sort leaves one dimension spanning its full 0..63 range in all files)
    for s in stats:
        dx = s["maxValues"]["x"] - s["minValues"]["x"]
        dy = s["maxValues"]["y"] - s["minValues"]["y"]
        assert dx < 63 or dy < 63
    narrow_x = sum(1 for s in stats if s["maxValues"]["x"] - s["minValues"]["x"] <= 32)
    narrow_y = sum(1 for s in stats if s["maxValues"]["y"] - s["minValues"]["y"] <= 32)
    assert narrow_x >= 1 and narrow_y >= 1
    # rows unchanged
    assert t.to_df().count() == 4096


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """Force a 3-part checkpoint (max_actions_per_part below the action
    count); the reader must stitch all parts and reproduce the state."""
    import os

    from delta_go_spark import checkpoint as ckpt_mod
    from delta_go_spark.log import DeltaLog

    path = str(tmp_path / "tmp3")
    DeltaTable.create(spark, path, spark.range(10).select(F.col("id").alias("k")))
    t = DeltaTable.for_path(spark, path)
    for i in range(6):
        t.append(spark.range(i, i + 2).select(F.col("id").alias("k")))
    log = DeltaLog.for_table(path)
    snap = log.update()
    st = snap.state()
    meta = ckpt_mod.write_checkpoint(
        log.store,
        log.log_path,
        snap.version,
        st.protocol,
        st.metadata,
        list(st.active_files.values()),
        list(st.tombstones.values()),
        list(st.set_transactions.values()),
        max_actions_per_part=4,
    )
    assert meta.parts and meta.parts >= 3
    names = os.listdir(os.path.join(path, "_delta_log"))
    assert sum(1 for n in names if ".checkpoint." in n and n.endswith(".parquet")) == meta.parts
    # fresh open anchors at the multi-part checkpoint and state matches
    log2 = DeltaLog.for_table(path)
    snap2 = log2.snapshot()
    assert snap2.segment.checkpoint_version == snap.version
    assert len(snap2.segment.checkpoints) == meta.parts
    assert {a.path for a in snap2.all_files()} == {a.path for a in snap.all_files()}
    assert snap2.to_df(spark).count() == snap.to_df(spark).count()


def test_restore_to_earlier_version(spark, tmp_path):
    from delta_go_spark.maintenance import restore

    path = str(tmp_path / "trst")
    DeltaTable.create(spark, path, spark.range(10).select(F.col("id").alias("k")))
    t = DeltaTable.for_path(spark, path)
    t.append(spark.range(100, 110).select(F.col("id").alias("k")))
    t.append(spark.range(200, 210).select(F.col("id").alias("k")))
    assert t.to_df().count() == 30

    v = restore(spark, path, 0)
    assert v == 3  # restore is a NEW version
    rows = sorted(r["k"] for r in t.to_df().collect())
    assert rows == list(range(10))
    # history preserved: v2 still reconstructable after the restore
    from delta_go_spark.log import DeltaLog

    assert DeltaLog.for_table(path).snapshot_for_version_as_of(2).to_df(spark).count() == 30
    # restoring forward again (to v2's state) also works
    restore(spark, path, 2)
    assert t.to_df().count() == 30


def test_restore_to_timestamp(spark, tmp_path):
    """RESTORE TO TIMESTAMP resolves on the same adjusted timeline as the
    read side's timestamp time travel, then restores to that version."""
    import os

    from delta_go_spark.table import DeltaTable

    path = str(tmp_path / "rts")
    t = DeltaTable.create(spark, path, spark.range(10).toDF("k"))
    t.append(spark.range(10, 20).toDF("k"))
    t.append(spark.range(20, 30).toDF("k"))
    log_dir = os.path.join(path, "_delta_log")
    for v, ts in ((0, 1000), (1, 2000), (2, 3000)):
        os.utime(os.path.join(log_dir, f"{v:020d}.json"), (ts, ts))

    # between v1 and v2 -> restore to v1's state (20 rows)
    t.restore_to_timestamp(2500 * 1000)
    assert t.to_df().count() == 20
    # history preserved: the restore is a NEW version
    assert t.log.update().version == 3
    # read-side timestamp resolution agrees with what was restored
    assert t.timestamp_as_of(2500 * 1000).count() == 20


def test_shallow_clone_zero_copy_fork(spark, tmp_path):
    import os

    import pytest
    from pyspark.sql import functions as F

    from delta_go_spark.snapshot import DeltaError
    from delta_go_spark.table import DeltaTable

    src_path = str(tmp_path / "clone_src")
    dst_path = str(tmp_path / "clone_dst")
    t = DeltaTable.create(
        spark,
        src_path,
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(40)],
            "k long, par string",
        ),
        partition_by=["par"],
    )
    t.append(spark.createDataFrame([(100, "even")], "k long, par string"))

    c = t.clone_shallow(dst_path)
    # identical content, fresh history, fresh id
    assert c.to_df().count() == 41
    assert c.version() == 0
    assert (
        c.log.snapshot().metadata().id != t.log.snapshot().metadata().id
    )
    # clone's adds reference the source absolutely; no data copied
    data_files = [
        f for f in os.listdir(dst_path) if not f.startswith("_delta_log")
    ]
    assert data_files == []
    # partition pruning still applies on the clone
    from delta_go_spark.expressions import Column, EqualTo, Literal
    from pyspark.sql.types import StringType

    even = EqualTo(Column("par", StringType()), Literal("even"))
    assert c.to_df(even).count() == 21

    # divergence: writes to the clone never touch the source (and vice versa)
    c.append(spark.createDataFrame([(200, "odd")], "k long, par string"))
    t.delete(EqualTo(Column("par", StringType()), Literal("odd")))
    assert c.to_df().count() == 42
    assert t.to_df().count() == 21

    # VACUUM on the clone lists only its own root: source files survive
    c.vacuum(retention_millis=0)
    assert t.to_df().count() == 21
    assert c.to_df().count() == 42

    with pytest.raises(DeltaError, match="already exists"):
        t.clone_shallow(dst_path)


def test_optimize_where_partition_scoped(spark, tmp_path):
    """OPTIMIZE WHERE compacts ONLY the matching partition's files; a
    data-column predicate is refused (conservative skipping must not
    silently widen the scope)."""
    import pytest
    from pyspark.sql import functions as F

    from delta_go_spark.expressions import Column, EqualTo, GreaterThan, Literal
    from delta_go_spark.maintenance import optimize
    from delta_go_spark.sql import DeltaSqlContext
    from delta_go_spark.table import DeltaTable
    from pyspark.sql.types import LongType, StringType

    path = str(tmp_path / "opt_where")
    t = DeltaTable.create(
        spark,
        path,
        spark.createDataFrame(
            [(0, "a"), (1, "b")], "k long, par string"
        ),
        partition_by=["par"],
    )
    for i in range(2, 6):
        t.append(
            spark.createDataFrame([(i, "a"), (i, "b")], "k long, par string")
        )

    def files_by_part():
        out = {}
        for a in t.log.update().all_files():
            out.setdefault(a.partition_values["par"], []).append(a.path)
        return out

    before = files_by_part()
    assert len(before["a"]) == 5 and len(before["b"]) == 5

    par_a = EqualTo(Column("par", StringType()), Literal("a"))
    v = optimize(spark, path, predicate=par_a)
    assert v is not None
    after = files_by_part()
    assert len(after["a"]) == 1                      # compacted
    assert sorted(after["b"]) == sorted(before["b"])  # untouched
    assert t.to_df().count() == 10

    with pytest.raises(ValueError, match="partition-only"):
        optimize(spark, path, predicate=GreaterThan(Column("k", LongType()), Literal(2)))

    # the SQL form scopes identically
    sess = DeltaSqlContext(spark)
    sess.register("opt_where", path)
    sess.sql("OPTIMIZE opt_where WHERE par = 'b'")
    final = files_by_part()
    assert len(final["b"]) == 1 and len(final["a"]) == 1
    assert t.to_df().count() == 10


def test_deep_clone_independent_copy(spark, tmp_path):
    import os

    import pytest
    from pyspark.sql import functions as F

    from delta_go_spark.snapshot import DeltaError
    from delta_go_spark.table import DeltaTable

    src_path = str(tmp_path / "dclone_src")
    dst_path = str(tmp_path / "dclone_dst")
    t = DeltaTable.create(
        spark,
        src_path,
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(40)],
            "k long, par string",
        ),
        partition_by=["par"],
    )
    t.append(spark.createDataFrame([(100, "even")], "k long, par string"))

    c = t.clone_deep(dst_path)
    assert c.to_df().count() == 41
    assert c.version() == 0
    assert c.log.snapshot().metadata().id != t.log.snapshot().metadata().id
    # data physically present under the clone root (partition dirs kept)
    data_dirs = sorted(
        d for d in os.listdir(dst_path) if d.startswith("par=")
    )
    assert data_dirs == ["par=even", "par=odd"]
    # stats survive the copy: partition pruning still works
    from delta_go_spark.expressions import Column, EqualTo, Literal
    from pyspark.sql.types import StringType

    even = EqualTo(Column("par", StringType()), Literal("even"))
    assert c.to_df(even).count() == 21

    # FULL independence: vacuum source at zero retention after deleting
    # everything there — the deep clone must still read all its rows
    # (this is exactly the case that breaks a shallow clone)
    t.truncate()
    t.vacuum(retention_millis=0)
    assert c.to_df().count() == 41
    assert t.to_df().count() == 0

    with pytest.raises(DeltaError, match="already exists"):
        t.clone_deep(dst_path)


def test_deep_clone_copies_on_executors_not_driver(spark, tmp_path, monkeypatch):
    """The clone's byte movement must run as a Spark job: poisoning the
    DRIVER process's byte-read methods must not affect the copy (executor
    workers are separate processes), proving no data byte transits the
    driver.  A driver-funnel implementation fails this immediately."""
    import hashlib
    import os

    import delta_go_spark.store as store_mod
    from delta_go_spark.table import DeltaTable

    src_path = str(tmp_path / "xclone_src")
    dst_path = str(tmp_path / "xclone_dst")
    t = DeltaTable.create(spark, src_path, spark.range(200).toDF("k"))
    t.append(spark.range(200, 300).toDF("k"))

    def _boom(self, path, *a, **k):
        raise AssertionError(f"driver-side byte read during deep clone: {path}")

    with monkeypatch.context() as m:
        m.setattr(store_mod.LocalStore, "read_bytes", _boom)
        m.setattr(store_mod.LocalStore, "read_range", _boom)
        c = t.clone_deep(dst_path)
    assert c.to_df().count() == 300
    # byte-identical copies (stats/sizes carry over unchanged)
    src_files = {
        f: hashlib.md5(open(os.path.join(src_path, f), "rb").read()).hexdigest()
        for f in os.listdir(src_path)
        if f.endswith(".parquet")
    }
    dst_files = {
        f: hashlib.md5(open(os.path.join(dst_path, f), "rb").read()).hexdigest()
        for f in os.listdir(dst_path)
        if f.endswith(".parquet")
    }
    assert src_files == dst_files and src_files


def test_deep_clone_registered_binding_falls_back_to_driver_streaming(
    spark, tmp_path, monkeypatch
):
    """register_store-bound URIs exist only in the driver process, so the
    copy must stay on the driver — and must stream ranged chunks, never
    read whole files (read_bytes poisoned to prove it)."""
    import delta_go_spark.store as store_mod
    from delta_go_spark.store import LocalStore, register_store
    from delta_go_spark.table import DeltaTable

    src_path = str(tmp_path / "bclone_src")
    dst_path = str(tmp_path / "bclone_dst")
    t = DeltaTable.create(spark, src_path, spark.range(100).toDF("k"))
    # bind the source root so the clone must take the driver path
    register_store(src_path, LocalStore(src_path))
    try:
        with monkeypatch.context() as m:
            m.setattr(
                store_mod.LocalStore,
                "read_bytes",
                lambda self, p, *a, **k: (_ for _ in ()).throw(
                    AssertionError(f"whole-file read during deep clone: {p}")
                ),
            )
            c = t.clone_deep(dst_path)
        assert c.to_df().count() == 100
    finally:
        register_store(src_path, None)


def test_deep_clone_of_shallow_clone_flattens_absolute_refs(spark, tmp_path):
    """Deepening a shallow clone: outside-root absolute references are
    copied in and flattened to uniquified names."""
    import os

    from delta_go_spark.table import DeltaTable

    src = str(tmp_path / "flat_src")
    mid = str(tmp_path / "flat_mid")
    dst = str(tmp_path / "flat_dst")
    t = DeltaTable.create(
        spark, src, spark.range(50).toDF("k")
    )
    deep = t.clone_shallow(mid).clone_deep(dst)
    assert deep.to_df().count() == 50
    files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert files and all(f[:5].isdigit() for f in files)
    # and the deepened clone survives the ORIGINAL source being vacuumed
    t.truncate()
    t.vacuum(retention_millis=0)
    assert deep.to_df().count() == 50


def test_compute_stats_backfills_missing_footer_stats(spark, tmp_path):
    """ANALYZE-style backfill: files committed without stats get footer
    stats in a data_change=False commit; a second run is a no-op; the
    backfilled stats match what the writer itself would have recorded."""
    import dataclasses
    import json

    from delta_go_spark.log import DeltaLog

    path = str(tmp_path / "tstats")
    DeltaTable.create(
        spark,
        path,
        spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(40)], "k long, p string"
        ),
    )
    t = DeltaTable.for_path(spark, path)
    t.append(spark.createDataFrame([(100, "s0")], "k long, p string"))
    log = DeltaLog.for_table(path)
    snap = log.update()
    original = {a.path: a.stats for a in snap.all_files()}
    assert all(original.values())
    # simulate a stats-less writer: replace every add with stats=None
    txn = log.start_transaction()
    txn.commit(
        [
            dataclasses.replace(a, stats=None, data_change=False)
            for a in snap.all_files()
        ],
        "Manual Update",
    )
    assert all(a.stats is None for a in log.update().all_files())

    v = t.compute_stats()
    assert v == log.update().version
    refilled = {a.path: a.stats for a in log.update().all_files()}
    assert refilled == original  # footer-derived both times
    total = sum(
        json.loads(s)["numRecords"] for s in refilled.values()
    )
    assert total == 41 == t.to_df().count()
    # the backfill commit's adds carry data_change=False (streams skip it)
    from delta_go_spark.actions import AddFile

    vlog = list(log.changes(v))[-1]
    backfill_adds = [a for a in vlog.actions if isinstance(a, AddFile)]
    assert backfill_adds and all(not a.data_change for a in backfill_adds)
    # idempotent: nothing missing -> no empty commit
    assert t.compute_stats() is None


def test_sql_analyze_table_compute_stats(spark, tmp_path):
    import dataclasses

    from delta_go_spark.log import DeltaLog
    from delta_go_spark.sql import DeltaSqlContext

    path = str(tmp_path / "tstats2")
    DeltaTable.create(spark, path, spark.range(25).toDF("k"))
    log = DeltaLog.for_table(path)
    txn = log.start_transaction()
    txn.commit(
        [
            dataclasses.replace(a, stats=None, data_change=False)
            for a in log.update().all_files()
        ],
        "Manual Update",
    )
    sess = DeltaSqlContext(spark)
    sess.register("tstats2", path)
    out = sess.sql("ANALYZE TABLE tstats2 COMPUTE DELTA STATISTICS")
    assert out.collect()[0]["version"] == log.update().version
    assert all(a.stats for a in log.update().all_files())
    # metadata-only COUNT(*) now answers from the backfilled stats
    assert sess.sql("SELECT COUNT(*) FROM tstats2").collect()[0][0] == 25


def test_compute_stats_conflicts_with_concurrent_delete(
    spark, tmp_path, monkeypatch
):
    """A file removed while the footer job runs must surface as a commit
    conflict — committing its replacement AddFile would RESURRECT the
    deleted rows under newest-add-wins replay."""
    import dataclasses

    import pytest

    import delta_go_spark.maintenance as m
    from delta_go_spark.log import DeltaLog
    from delta_go_spark.transaction import DeltaConcurrentModificationError

    path = str(tmp_path / "tstats3")
    DeltaTable.create(spark, path, spark.range(30).toDF("k"))
    log = DeltaLog.for_table(path)
    txn = log.start_transaction()
    txn.commit(
        [
            dataclasses.replace(a, stats=None, data_change=False)
            for a in log.update().all_files()
        ],
        "Manual Update",
    )

    orig = m._stats_for_uri
    fired = {"done": False}

    def hooked(uri):
        if not fired["done"]:
            fired["done"] = True
            DeltaTable.for_path(spark, path).delete_where("k >= 0")
        return orig(uri)

    monkeypatch.setattr(m, "_stats_for_uri", hooked)
    with pytest.raises(DeltaConcurrentModificationError):
        m.compute_stats(None, path)  # spark=None forces the driver loop
    # the delete stands; nothing was resurrected
    assert DeltaTable.for_path(spark, path).to_df().count() == 0


def test_zorder_improves_stats_skipping(spark, tmp_path):
    """The point of ZORDER at 100 TB: after clustering, a narrow range
    filter on a clustered column must skip MORE files via min/max stats
    than the unclustered layout did — pinned here with the scan's own
    skip counter, not just row correctness."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from delta_go_spark.expressions import (
        And,
        Column,
        GreaterThanOrEq,
        LessThan,
        Literal,
    )
    from delta_go_spark.log import DeltaLog
    from delta_go_spark.maintenance import zorder
    from delta_go_spark.session import load_table
    from delta_go_spark.writer import write_dataframe

    path = str(tmp_path / "orders_z")
    orders = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # 8 hash-spread files: every file spans nearly the whole custkey range
    write_dataframe(orders.repartition(8, "o_orderkey"), path)

    pred = And(
        GreaterThanOrEq(Column("o_custkey", LongType()), Literal(100)),
        LessThan(Column("o_custkey", LongType()), Literal(200)),
    )

    def skipped() -> tuple[int, int]:
        scan = DeltaLog.for_table(path).snapshot().scan(pred)
        n = sum(1 for _ in scan.files())
        return scan.files_skipped_by_stats, n

    before_skipped, before_hit = skipped()
    assert before_skipped == 0  # every file spans the range: none skip

    assert zorder(spark, path, ["o_custkey"], n_files=8) == 1
    after_skipped, after_hit = skipped()
    assert after_skipped > 0
    assert after_hit < before_hit
    # the rewrite changed layout only: same rows behind the same filter
    rows = (
        DeltaLog.for_table(path)
        .snapshot()
        .scan(pred)
        .to_df(spark)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("cks"),
        )
        .first()
    )
    expected = (
        orders.filter((F.col("o_custkey") >= 100) & (F.col("o_custkey") < 200))
        .agg(F.count(F.lit(1)), F.sum("o_orderkey"))
        .first()
    )
    assert (rows["n"], rows["cks"]) == (expected[0], expected[1])
