"""Change Data Feed: DML emits preimage/postimage/delete/insert change rows
under _change_data/ (AddCDCFile actions), table_changes reads them back,
and non-CDF commits degrade to file-level insert/delete semantics."""

import os

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from delta_go_spark.actions import AddCDCFile
from delta_go_spark.expressions import Column, EqualTo, GreaterThanOrEq, Literal
from delta_go_spark.table import DeltaTable


def _cdf_table(spark, tmp_path, name):
    path = str(tmp_path / name)
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 5).cast("long").alias("v")
    )
    DeltaTable.create(
        spark, path, df, configuration={"delta.enableChangeDataFeed": "true"}
    )
    return DeltaTable.for_path(spark, path)


def test_update_emits_pre_and_postimage(spark, tmp_path):
    t = _cdf_table(spark, tmp_path, "tcdf1")
    t.update(EqualTo(Column("k", LongType()), Literal(7)), {"v": F.lit(99).cast("long")})
    v = t.log.update().version
    changes = t.table_changes(start_version=v).collect()
    by_type = {r["_change_type"]: r for r in changes}
    assert set(by_type) == {"update_preimage", "update_postimage"}
    assert by_type["update_preimage"]["k"] == 7 and by_type["update_preimage"]["v"] == 2
    assert by_type["update_postimage"]["v"] == 99
    assert all(r["_commit_version"] == v for r in changes)
    # the cdc action landed in the log, and its file under _change_data/
    actions = t.log.changes(v).__next__().actions
    cdcs = [a for a in actions if isinstance(a, AddCDCFile)]
    assert cdcs and all(a.path.startswith("_change_data/") for a in cdcs)


def test_update_of_predicate_column_postimage(spark, tmp_path):
    """Assignment touches the predicate column: postimage must still be the
    updated rows (a naive re-filter of the rewritten frame finds none)."""
    t = _cdf_table(spark, tmp_path, "tcdf2")
    t.update(EqualTo(Column("v", LongType()), Literal(3)), {"v": F.lit(777).cast("long")})
    v = t.log.update().version
    changes = t.table_changes(start_version=v)
    pre = changes.filter(F.col("_change_type") == "update_preimage")
    post = changes.filter(F.col("_change_type") == "update_postimage")
    assert pre.count() == 20 and post.count() == 20
    assert {r["v"] for r in post.collect()} == {777}


def test_delete_emits_deleted_rows(spark, tmp_path):
    t = _cdf_table(spark, tmp_path, "tcdf3")
    t.delete(GreaterThanOrEq(Column("k", LongType()), Literal(90)))
    v = t.log.update().version
    changes = t.table_changes(start_version=v).collect()
    assert len(changes) == 10
    assert {r["_change_type"] for r in changes} == {"delete"}
    assert {r["k"] for r in changes} == set(range(90, 100))


def test_merge_emits_update_and_insert_changes(spark, tmp_path):
    t = _cdf_table(spark, tmp_path, "tcdf4")
    source = spark.createDataFrame([(5, 111), (9999, 333)], "k long, v long")
    t.merge(source, on="k", update_set={"v": F.col("_s_v")})
    v = t.log.update().version
    changes = t.table_changes(start_version=v)
    got = {
        (r["_change_type"], r["k"], r["v"]) for r in changes.collect()
    }
    assert ("update_preimage", 5, 0) in got
    assert ("update_postimage", 5, 111) in got
    assert ("insert", 9999, 333) in got
    assert len(got) == 3


def test_non_cdf_commits_degrade_to_file_level(spark, tmp_path):
    """Without the table property, appends surface as inserts and DELETE
    rewrites as file-level delete+insert — still a valid change set."""
    path = str(tmp_path / "tnocdf")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 5).cast("long").alias("v")
    )
    DeltaTable.create(spark, path, df)
    t = DeltaTable.for_path(spark, path)
    t.append(
        spark.range(50, 60).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
    )
    v_append = t.log.update().version
    changes = t.table_changes(start_version=v_append)
    assert changes.filter(F.col("_change_type") == "insert").count() == 10
    # no _change_data dir was ever created
    assert not os.path.exists(os.path.join(path, "_change_data"))


def test_vacuum_spares_change_data_files(spark, tmp_path):
    t = _cdf_table(spark, tmp_path, "tcdf5")
    t.delete(EqualTo(Column("k", LongType()), Literal(1)))
    cdc_dir = os.path.join(t.log.table_path, "_change_data")
    before = set(os.listdir(cdc_dir))
    assert before
    deleted = t.vacuum(retention_millis=0)
    assert set(os.listdir(cdc_dir)) == before
    rel = [os.path.relpath(p, t.log.table_path) for p in deleted]
    assert all(not r.startswith("_change_data") for r in rel)


def test_datasource_read_change_feed(spark, tmp_path):
    """spark.read.format('delta_go').option('readChangeFeed', 'true') — the
    data-source surface over the same change planning as table_changes."""
    from delta_go_spark.datasource import register

    register(spark)
    t = _cdf_table(spark, tmp_path, "tcdf6")
    t.update(EqualTo(Column("k", LongType()), Literal(3)), {"v": F.lit(42).cast("long")})
    v = t.log.update().version
    got = (
        spark.read.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", str(v))
        .load(t.log.table_path)
    )
    rows = {(r["_change_type"], r["k"], r["v"], r["_commit_version"]) for r in got.collect()}
    assert rows == {
        ("update_preimage", 3, 3, v),
        ("update_postimage", 3, 42, v),
    }
    # full-history CDF: creation commit surfaces as inserts
    all_changes = (
        spark.read.format("delta_go")
        .option("readChangeFeed", "true")
        .load(t.log.table_path)
    )
    assert all_changes.filter(F.col("_change_type") == "insert").count() == 100


def test_expired_log_cleanup_reclaims_cdc_files(spark, tmp_path):
    """When a commit expires out of the log, its _change_data files go with
    it — cleanup is their only reclamation point (VACUUM skips the dir)."""
    import time

    from delta_go_spark.maintenance import cleanup_expired_logs

    t = _cdf_table(spark, tmp_path, "tcdf7")
    t.update(EqualTo(Column("k", LongType()), Literal(3)), {"v": F.lit(42).cast("long")})
    cdc_dir = os.path.join(t.log.table_path, "_change_data")
    assert os.listdir(cdc_dir)
    # a later commit, so the update version sits strictly BELOW the checkpoint
    t.append(
        spark.range(100, 110).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
    )
    # force a checkpoint so versions below it are reclaimable
    from delta_go_spark.checkpoint import write_checkpoint

    log = t.log
    snap = log.update()
    st = snap.state()
    write_checkpoint(
        log.store, log.log_path, snap.version, st.protocol, st.metadata,
        list(st.active_files.values()), list(st.tombstones.values()),
        list(st.set_transactions.values()),
    )
    # age the log files past the horizon
    for name in os.listdir(log.log_path):
        p = os.path.join(log.log_path, name)
        old = time.time() - 100 * 24 * 3600
        if name.endswith(".json") and not name.startswith(f"{snap.version:020d}"):
            os.utime(p, (old, old))
    deleted = cleanup_expired_logs(log, retention_millis=0)
    assert any("_change_data" in os.path.relpath(p, t.log.table_path) for p in deleted)
    assert os.listdir(cdc_dir) == []
    # the table still reads (checkpoint anchors the state)
    assert t.to_df().count() == 110


def test_streaming_change_feed(spark, tmp_path):
    """readStream with readChangeFeed: each micro-batch carries the
    row-level changes of its version range, exactly once."""
    from delta_go_spark.datasource import register

    register(spark)
    t = _cdf_table(spark, tmp_path, "tcdf8")
    t.update(EqualTo(Column("k", LongType()), Literal(3)), {"v": F.lit(42).cast("long")})
    t.delete(EqualTo(Column("k", LongType()), Literal(9)))
    out_dir = str(tmp_path / "cdfsink")
    chk = str(tmp_path / "cdfchk")
    q = (
        spark.readStream.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(t.log.table_path)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    rows = {(r["_change_type"], r["k"], r["v"]) for r in got.collect()}
    assert rows == {
        ("update_preimage", 3, 3),
        ("update_postimage", 3, 42),
        ("delete", 9, 4),
    }
    # restart: no re-emission
    q2 = (
        spark.readStream.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(t.log.table_path)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 3


# Partition values whose Hive directory names and Hadoop URIs differ from
# the log's string: a space, non-ASCII, a literal percent escape, a plus.
_PV_MATRIX = ["plain", "a b", "Zürich", "São Paulo", "x%20y", "p+q"]


def test_cdf_partition_value_with_space(spark, tmp_path):
    """Every Spark read maps a row's reported file name back to its log
    file: to_df, a DELETE by a data-column predicate, an UPDATE, MERGE,
    changes_df and table_changes give the right rows, each row's partition
    value, and a non-null, correct _commit_version for every value in
    _PV_MATRIX."""
    path = str(tmp_path / "tcdfspace")
    n = len(_PV_MATRIX)
    df = spark.createDataFrame(
        [(2 * i + j, j, c) for i, c in enumerate(_PV_MATRIX) for j in (0, 1)],
        "k long, v long, city string",
    ).coalesce(1)  # one file per partition value
    DeltaTable.create(
        spark, path, df, partition_by=["city"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable.for_path(spark, path)
    city_of = {2 * i + j: c for i, c in enumerate(_PV_MATRIX) for j in (0, 1)}
    assert {(r["k"], r["city"]) for r in t.to_df().collect()} == set(city_of.items())

    # v1: every file holds one matching row, so every file is rewritten
    t.delete(EqualTo(Column("v", LongType()), Literal(1)))
    survivors = {k: c for k, c in city_of.items() if k % 2 == 0}
    assert {(r["k"], r["city"]) for r in t.to_df().collect()} == set(survivors.items())

    # v2: every surviving row (v = 0, even k) updates in every partition
    t.update(EqualTo(Column("v", LongType()), Literal(0)), {"v": F.lit(5).cast("long")})
    got = {(r["k"], r["v"], r["city"]) for r in t.to_df().collect()}
    assert got == {(k, 5, c) for k, c in survivors.items()}

    # v3: matched keys update in every partition, one insert per partition
    src = spark.createDataFrame(
        [(2 * i, 7, c) for i, c in enumerate(_PV_MATRIX)]
        + [(100 + i, 8, c) for i, c in enumerate(_PV_MATRIX)],
        "k long, v long, city string",
    )
    t.merge(src, "k", update_set={"v": F.col("_s_v")})
    final = {**survivors, **{100 + i: c for i, c in enumerate(_PV_MATRIX)}}
    got = {(r["k"], r["v"], r["city"]) for r in t.to_df().collect()}
    assert got == {(k, 7 if k < 100 else 8, c) for k, c in final.items()}

    # changes_df: rows of every added file, with the version that added it
    added = {
        (r["k"], r["v"], r["city"], r["_commit_version"])
        for r in t.changes_df(0).collect()
    }
    assert added == (
        {(k, k % 2, c, 0) for k, c in city_of.items()}
        | {(k, 0, c, 1) for k, c in survivors.items()}
        | {(k, 5, c, 2) for k, c in survivors.items()}
        | {(k, 7 if k < 100 else 8, c, 3) for k, c in final.items()}
    )

    changes = t.table_changes(start_version=0).collect()
    assert changes and all(r["_commit_version"] is not None for r in changes)
    got = {
        (r["_change_type"], r["k"], r["v"], r["city"], r["_commit_version"])
        for r in changes
    }
    assert got == (
        {("insert", k, k % 2, c, 0) for k, c in city_of.items()}
        | {("delete", k, 1, c, 1) for k, c in city_of.items() if k % 2 == 1}
        | {("update_preimage", k, 0, c, 2) for k, c in survivors.items()}
        | {("update_postimage", k, 5, c, 2) for k, c in survivors.items()}
        | {("update_preimage", k, 5, c, 3) for k, c in survivors.items()}
        | {("update_postimage", k, 7, c, 3) for k, c in survivors.items()}
        | {("insert", 100 + i, 8, c, 3) for i, c in enumerate(_PV_MATRIX)}
    )
    assert len(changes) == 8 * n  # no row is reported twice


def test_table_changes_reads_percent_partition_value(spark, tmp_path):
    """A partition value holding a literal percent escape: the file sits
    under `p=x%2520y` on disk, and the file-level change feed (no cdc
    files) must read it there, not at a twice-decoded `p=x%20y`."""
    path = str(tmp_path / "tcdfpct")
    DeltaTable.create(
        spark, path,
        spark.createDataFrame([(1, "x%20y"), (2, "plain")], "k long, p string"),
        partition_by=["p"],
    )
    t = DeltaTable.for_path(spark, path)
    t.delete(EqualTo(Column("k", LongType()), Literal(1)))
    got = {
        (r["_change_type"], r["k"], r["p"], r["_commit_version"])
        for r in t.table_changes(start_version=0).collect()
    }
    assert got == {
        ("insert", 1, "x%20y", 0),
        ("insert", 2, "plain", 0),
        ("delete", 1, "x%20y", 1),
    }


def test_cdf_version_plan_size_constant_in_file_count(spark, tmp_path):
    """The per-file values (partition values, _commit_version) must not
    grow the plan with the number of changed files: 1000 files stay a
    broadcast relation (data), never a create_map literal (plan).  A
    month-long CDF range at 100 TB touches millions of files — a literal
    map would stall Catalyst."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from delta_go_spark.datareader import read_files_with_pv

    files = []
    for i in range(1000):
        d = tmp_path / f"p=v{i % 7}"
        d.mkdir(exist_ok=True)
        f = str(d / f"f{i}.parquet")
        pq.write_table(pa.table({"k": [i]}), f)
        files.append((f, ({"p": f"v{i % 7}"}, i)))
    schema = StructType.fromJson(
        {"type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "p", "type": "string", "nullable": True, "metadata": {}},
        ]}
    )
    small = read_files_with_pv(spark, schema, ["p"], dict(files[:2]), versioned=True)
    big = read_files_with_pv(spark, schema, ["p"], dict(files), versioned=True)
    small_plan = small._jdf.queryExecution().analyzed().toString()
    big_plan = big._jdf.queryExecution().analyzed().toString()
    assert "create_map" not in big_plan
    # plan text growth is O(1), not O(files)
    assert len(big_plan) < len(small_plan) + 2000
    optimized = big._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" in optimized or "broadcast" in optimized.lower()
    got = big.filter("k = 500").collect()
    assert [(r["k"], r["p"], r["_commit_version"]) for r in got] == [(500, "v3", 500)]


def test_sql_table_changes_tvf(spark, tmp_path):
    """table_changes(name, start [, end]) in SQL text — Delta's CDF TVF
    syntax, rewritten to a view over cdf.table_changes."""
    from delta_go_spark.sql import DeltaSqlContext

    t = _cdf_table(spark, tmp_path, "tcdf9")
    t.update(EqualTo(Column("k", LongType()), Literal(3)), {"v": F.lit(42).cast("long")})
    v = t.log.update().version
    ctx = DeltaSqlContext(spark)
    ctx.register("cdftable", t.log.table_path)
    got = ctx.sql(
        f"SELECT _change_type, k, v FROM table_changes('cdftable', {v}) "
        "ORDER BY _change_type"
    ).collect()
    assert [(r["_change_type"], r["k"], r["v"]) for r in got] == [
        ("update_postimage", 3, 42),
        ("update_preimage", 3, 3),
    ]
    # bounded range: only the creation inserts
    n = ctx.sql(
        "SELECT count(*) AS n FROM table_changes('cdftable', 0, 0)"
    ).collect()[0]["n"]
    assert n == 100


def test_table_changes_raises_on_expired_range(spark, tmp_path):
    """Asking for changes from a version that has been cleaned up must
    raise, not silently return a partial change set (the streaming source
    already had this; the batch path matches)."""
    import pytest

    from delta_go_spark.snapshot import DeltaError

    from delta_go_spark.checkpoint import write_checkpoint

    t = _cdf_table(spark, tmp_path, "tcdf10")
    t.update(EqualTo(Column("k", LongType()), Literal(3)), {"v": F.lit(1).cast("long")})
    t.update(EqualTo(Column("k", LongType()), Literal(4)), {"v": F.lit(2).cast("long")})
    # checkpoint at the tip, then expire the MIDDLE version (1): the
    # snapshot still anchors, but the change range [0, latest] has a gap
    log = t.log
    snap = log.update()
    st = snap.state()
    write_checkpoint(
        log.store, log.log_path, snap.version, st.protocol, st.metadata,
        list(st.active_files.values()), list(st.tombstones.values()),
        list(st.set_transactions.values()),
    )
    os.remove(os.path.join(t.log.table_path, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(DeltaError):
        t.table_changes(start_version=0).collect()
    # opting out returns the surviving versions (0 and 2)
    from delta_go_spark.cdf import table_changes

    got = table_changes(spark, t.log.table_path, 0, fail_on_data_loss=False)
    versions = {r["_commit_version"] for r in got.collect()}
    assert versions == {0, 2}


def test_cdf_partition_pruning_skips_cdc_files(spark, tmp_path):
    """cdc files carry partitionValues and use the table's hive layout, so
    a partition-filtered table_changes reads ONLY the matching partition's
    cdc files (asserted via the plan's input file list) — at scale this is
    the difference between scanning one partition's changes and a month of
    them."""
    from pyspark.sql.types import StringType

    path = str(tmp_path / "tcdfprune")
    df = spark.createDataFrame(
        [(i, "de" if i % 2 else "en") for i in range(20)], "k long, region string"
    )
    DeltaTable.create(
        spark, path, df, partition_by=["region"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable.for_path(spark, path)
    # one UPDATE per partition -> cdc files in region=en and region=de dirs
    t.update(EqualTo(Column("k", LongType()), Literal(0)), {"k": F.lit(100).cast("long")})
    t.update(EqualTo(Column("k", LongType()), Literal(1)), {"k": F.lit(101).cast("long")})

    cdc_dir = os.path.join(path, "_change_data")
    assert os.path.isdir(os.path.join(cdc_dir, "region=en"))
    assert os.path.isdir(os.path.join(cdc_dir, "region=de"))

    pred = EqualTo(Column("region", StringType()), Literal("en"))
    pruned = t.table_changes(start_version=1, predicate=pred)
    files = pruned.inputFiles()
    cdc_inputs = [f for f in files if "_change_data" in f]
    assert cdc_inputs and all("region=en" in f for f in cdc_inputs), files

    rows = pruned.collect()
    assert {r["_change_type"] for r in rows} == {"update_preimage", "update_postimage"}
    assert all(r["region"] == "en" for r in rows)
    assert {r["k"] for r in rows} == {0, 100}

    # unpredicated read still sees both partitions' changes
    allrows = t.table_changes(start_version=1).collect()
    assert {r["region"] for r in allrows} == {"en", "de"}
    # partition values survive the hive-layout cdc roundtrip
    assert {(r["k"], r["region"]) for r in allrows} == {
        (0, "en"), (100, "en"), (1, "de"), (101, "de"),
    }


def test_datasource_cdf_read_partitioned_table(spark, tmp_path):
    """option('readChangeFeed') on a PARTITIONED table: hive-layout cdc
    files inject partition columns from the log inside the executor's
    Arrow path (the pv-complete branch of _cdf_partition_batches)."""
    from delta_go_spark.datasource import register

    register(spark)
    path = str(tmp_path / "tcdfds")
    df = spark.createDataFrame(
        [(i, "de" if i % 2 else "en") for i in range(10)], "k long, region string"
    )
    DeltaTable.create(
        spark, path, df, partition_by=["region"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable.for_path(spark, path)
    t.update(EqualTo(Column("k", LongType()), Literal(2)), {"k": F.lit(200).cast("long")})

    got = (
        spark.read.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(path)
    )
    rows = got.collect()
    assert {r["_change_type"] for r in rows} == {"update_preimage", "update_postimage"}
    # partition column values come back non-null from hive-layout cdc files
    assert all(r["region"] == "en" for r in rows)
    assert {r["k"] for r in rows} == {2, 200}
    assert all(r["_commit_version"] == 1 for r in rows)


def test_datasource_cdf_pushdown_prunes_cdc_files(spark, tmp_path):
    """A partition filter on option('readChangeFeed') reads prunes whole
    cdc files at planning time (pushFilters on the CDF reader), matching
    table_changes(predicate=...)."""
    from delta_go_spark.datasource import DeltaGoCDFReader, register

    register(spark)
    path = str(tmp_path / "tcdfpush")
    df = spark.createDataFrame(
        [(i, "de" if i % 2 else "en") for i in range(20)], "k long, region string"
    )
    DeltaTable.create(
        spark, path, df, partition_by=["region"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable.for_path(spark, path)
    t.update(EqualTo(Column("k", LongType()), Literal(0)), {"k": F.lit(100).cast("long")})
    t.update(EqualTo(Column("k", LongType()), Literal(1)), {"k": F.lit(101).cast("long")})

    got = (
        spark.read.format("delta_go")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(path)
        .filter(F.col("region") == "en")
    )
    rows = got.collect()
    assert {(r["k"], r["_change_type"]) for r in rows} == {
        (0, "update_preimage"), (100, "update_postimage"),
    }
    # planner-level check: with the filter pushed, only region=en cdc
    # entries survive partition packing
    import pyspark.sql.datasource as dsmod

    reader = DeltaGoCDFReader(
        spark.read.format("delta_go").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(path).schema,
        {"path": path, "readchangefeed": "true", "startingversion": "1"},
    )
    list(reader.pushFilters([dsmod.EqualTo(("region",), "en")]))
    parts = reader.partitions()
    files = [f for p in parts for f in p.files]
    assert files and all("region=en" in f[0] for f in files), files


def test_table_changes_timestamp_bounds(spark, tmp_path):
    """start/end timestamp bounds resolve to versions like Delta's TVF:
    start = first commit at-or-after, end = last commit at-or-before."""
    from delta_go_spark.cdf import table_changes

    t = _cdf_table(spark, tmp_path, "tcdfts")
    t.update(EqualTo(Column("k", LongType()), Literal(1)), {"v": F.lit(10).cast("long")})
    t.update(EqualTo(Column("k", LongType()), Literal(2)), {"v": F.lit(20).cast("long")})
    path = t.log.table_path
    # pin commit mtimes: v0=1000s, v1=2000s, v2=3000s
    for v, ts in ((0, 1000), (1, 2000), (2, 3000)):
        f = os.path.join(path, "_delta_log", f"{v:020d}.json")
        os.utime(f, (ts, ts))

    # [1500s, 2500s] -> exactly version 1
    rows = table_changes(
        spark, path, start_timestamp=1500 * 1000, end_timestamp=2500 * 1000
    ).collect()
    assert {r["_commit_version"] for r in rows} == {1}
    assert {r["_change_type"] for r in rows} == {"update_preimage", "update_postimage"}
    # start after every commit -> empty
    assert (
        table_changes(spark, path, start_timestamp=10_000 * 1000).count() == 0
    )


def test_sql_table_changes_timestamp_tvf(spark, tmp_path):
    """table_changes(name, '<ts>' [, '<ts>']) — the timestamp-argument TVF
    form, resolving bounds through the same first-at-or-after /
    last-at-or-before rules."""
    import datetime

    from delta_go_spark.sql import DeltaSqlContext

    t = _cdf_table(spark, tmp_path, "tcdftvfts")
    t.update(EqualTo(Column("k", LongType()), Literal(1)), {"v": F.lit(10).cast("long")})
    path = t.log.table_path
    for v, ts in ((0, 1000), (1, 2000)):
        f = os.path.join(path, "_delta_log", f"{v:020d}.json")
        os.utime(f, (ts, ts))

    sess = DeltaSqlContext(spark)
    sess.register("cdftvfts", path)

    def iso(sec: int) -> str:
        return datetime.datetime.fromtimestamp(
            sec, tz=datetime.timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S+00:00")

    rows = sess.sql(
        f"SELECT _change_type, k FROM table_changes(cdftvfts, '{iso(1500)}', '{iso(2500)}')"
    ).collect()
    assert {(r["_change_type"], r["k"]) for r in rows} == {
        ("update_preimage", 1), ("update_postimage", 1),
    }
