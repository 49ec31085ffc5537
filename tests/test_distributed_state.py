"""Distributed transaction/snapshot state fold (round 6).

Above `spark.delta_go.state.distributedFileThreshold` the DML / commit /
checkpoint path must never materialize the full AddFile dict on the
driver: candidate files come from a Spark job over the reconstructed adds
DataFrame, protocol/metadata from the column-projected reverse replay,
txn/tombstone state from the lite folds (column-pruned checkpoint reads).

Reference mechanism being scaled: snapshot.go:224-297 (in-memory fold) /
replay_file.go:70-140 (streaming replay).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from delta_go_spark import ops
from delta_go_spark.expressions import Column, EqualTo, Literal
from delta_go_spark.log import DeltaLog
from delta_go_spark.snapshot import (
    DISTRIBUTED_STATE_THRESHOLD_CONF,
    Snapshot,
    set_transactions_lite,
    tombstones_lite,
)
from delta_go_spark.table import DeltaTable


@pytest.fixture
def low_thresholds(spark):
    spark.conf.set(DISTRIBUTED_STATE_THRESHOLD_CONF, "5")
    yield
    spark.conf.set(DISTRIBUTED_STATE_THRESHOLD_CONF, "200000")


def _partitioned_table(spark, tmp_path, name, n_appends=9):
    """Create + n appends over partition column p (many files, version =
    n_appends)."""
    path = str(tmp_path / name)
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 6).cast("long").alias("p"),
    )
    DeltaTable.create(spark, path, df, partition_by=["p"])
    t = DeltaTable.for_path(spark, path)
    for i in range(1, n_appends + 1):
        t.append(
            spark.range(100 * i, 100 * i + 12).select(
                F.col("id").alias("k"),
                (F.col("id") % 6).cast("long").alias("p"),
            )
        )
    return path


def test_delete_at_scale_never_folds_driver_state(
    spark, tmp_path, low_thresholds, monkeypatch
):
    """The VERDICT-r5 'done' bar: a DELETE on a table above the threshold
    commits — including its distributed multi-part checkpoint at the
    interval boundary — while Snapshot.state() is booby-trapped, proving
    the driver never folded (or held) the full file list."""
    path = _partitioned_table(spark, tmp_path, "bigdel", n_appends=9)
    log = DeltaLog.for_table(path)
    assert log.snapshot().version == 9  # DELETE lands on v10 = checkpoint

    def _bomb(self):
        raise AssertionError(
            "driver-side state fold invoked on the distributed path"
        )

    monkeypatch.setattr(Snapshot, "state", _bomb)
    t = DeltaTable.for_path(spark, path)
    t.delete(EqualTo(Column("p", LongType()), Literal(3)))
    monkeypatch.undo()

    snap = DeltaLog.for_table(path).update()
    assert snap.version == 10
    # the interval checkpoint was written by the distributed writer
    from delta_go_spark.checkpoint import load_last_checkpoint

    meta = load_last_checkpoint(log.store, log.log_path)
    assert meta is not None and meta.version == 10
    assert (meta.parts or 1) > 1  # multi-part = Spark-job writer
    # _last_checkpoint.size is exact (footer count), not the estimate
    assert meta.size == len(snap.all_files()) + len(
        snap.tombstones()
    ) + 2  # + protocol + metadata
    rows = {r["p"] for r in t.to_df().select("p").distinct().collect()}
    assert rows == {0, 1, 2, 4, 5}
    assert t.log.commit_info_at(10).operation == ops.DELETE


def test_distributed_scan_matches_driver_scan(spark, tmp_path, low_thresholds):
    """Candidate selection must be bit-identical across tiers: same
    surviving files, same partition pruning, same stats skipping."""
    path = _partitioned_table(spark, tmp_path, "scaneq", n_appends=3)
    pred = EqualTo(Column("p", LongType()), Literal(2))

    snap_dist = DeltaLog.for_table(path).update()
    assert snap_dist._state is None
    dist = {a.path for a in snap_dist.scan(pred).files()}

    spark.conf.set(DISTRIBUTED_STATE_THRESHOLD_CONF, "200000")
    snap_drv = DeltaLog.for_table(path).update()
    drv = {a.path for a in snap_drv.scan(pred).files()}
    assert dist == drv and len(dist) > 0
    # pruning really happened: the p=2 candidates are a strict subset
    assert len(dist) < len(snap_drv.all_files())


def test_lite_folds_match_full_state(spark, tmp_path):
    """set_transactions_lite / tombstones_lite == the InMemoryLogReplay
    fold on a log with a checkpoint, deletes, re-adds and txn markers."""
    from delta_go_spark.actions import SetTransaction

    path = _partitioned_table(spark, tmp_path, "liteeq", n_appends=9)
    t = DeltaTable.for_path(spark, path)
    # v10: delete partition 1 (tombstones) -- also triggers a checkpoint
    t.delete(EqualTo(Column("p", LongType()), Literal(1)))
    # v11: txn marker commit in the tail after the checkpoint
    log = DeltaLog.for_table(path)
    txn = log.start_transaction()
    txn.commit([SetTransaction("app-lite", 42, 123)], ops.STREAMING_UPDATE)
    # v12: more deletes in the tail
    t.delete(EqualTo(Column("p", LongType()), Literal(2)))

    snap = DeltaLog.for_table(path).update()
    st = snap.state()
    lite_txns = {x.app_id: x.version for x in set_transactions_lite(snap)}
    assert lite_txns == {
        k: v.version for k, v in st.set_transactions.items()
    }
    assert lite_txns["app-lite"] == 42
    lite_tombs = {x.path for x in tombstones_lite(snap)}
    assert lite_tombs == set(st.tombstones.keys()) or lite_tombs == {
        r.path for r in st.tombstones.values()
    }
    assert len(lite_tombs) > 0


def test_estimated_file_count_is_upper_bound(spark, tmp_path):
    path = _partitioned_table(spark, tmp_path, "estub", n_appends=9)
    t = DeltaTable.for_path(spark, path)
    t.delete(EqualTo(Column("p", LongType()), Literal(0)))  # checkpoint @10
    snap = DeltaLog.for_table(path).update()
    est = snap.estimated_file_count()
    assert est >= len(snap.all_files())


def test_pm_resolution_reads_only_pm_columns(spark, tmp_path, monkeypatch):
    """protocol()/metadata() on a checkpoint-anchored snapshot must go
    through the column-projected read — never materialize add rows."""
    import delta_go_spark.checkpoint as ckpt_mod

    path = _partitioned_table(spark, tmp_path, "pmproj", n_appends=9)
    t = DeltaTable.for_path(spark, path)
    t.delete(EqualTo(Column("p", LongType()), Literal(5)))  # checkpoint @10

    seen = []
    orig = ckpt_mod.iter_checkpoint_actions

    def spy(paths, store, batch_size=10_000, columns=None):
        seen.append(columns)
        return orig(paths, store, batch_size, columns=columns)

    monkeypatch.setattr(ckpt_mod, "iter_checkpoint_actions", spy)
    snap = DeltaLog.for_table(path).update()
    assert snap.segment.checkpoints  # anchored on the new checkpoint
    # force the reverse P&M replay to reach the checkpoint batch: the
    # tail is empty right after the checkpoint commit, so it must
    snap.metadata()
    assert seen and all(c == ["protocol", "metaData"] for c in seen)


def test_distributed_fold_dedups_on_canonical_path(spark, tmp_path):
    """An AddFile logged relative + percent-encoded and its RemoveFile
    logged as an absolute file: URI are the SAME file (resolver.go:87-126
    semantics, '-escaped-chars' golden fixtures); the Spark-job state
    reconstruction must key its newest-wins window on the canonical path
    exactly like the driver fold, or deleted files resurrect only in the
    distributed tier."""
    import json as _json

    from delta_go_spark.log import DeltaLog
    from delta_go_spark.snapshot import checkpoint_adds_df

    root = str(tmp_path / "mixed")
    log_dir = tmp_path / "mixed" / "_delta_log"
    log_dir.mkdir(parents=True)
    schema = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "m-1",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": "a%20b.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 1,
                "dataChange": True,
            }
        },
        {
            "add": {
                "path": "keep.parquet",
                "partitionValues": {},
                "size": 2,
                "modificationTime": 1,
                "dataChange": True,
            }
        },
    ]
    v1 = [
        {
            "remove": {
                "path": f"file://{root}/a b.parquet",
                "deletionTimestamp": 2,
                "dataChange": True,
            }
        }
    ]
    (log_dir / "00000000000000000000.json").write_text(
        "\n".join(_json.dumps(a) for a in v0) + "\n"
    )
    (log_dir / "00000000000000000001.json").write_text(
        "\n".join(_json.dumps(a) for a in v1) + "\n"
    )

    snap = DeltaLog.for_table(root).snapshot()
    # driver fold: one survivor
    assert sorted(a.path for a in snap.all_files()) == ["keep.parquet"]
    # the distributed fold must agree
    ck_paths = sorted(
        r["path"] for r in checkpoint_adds_df(spark, snap).select("add.path").collect()
    )
    assert ck_paths == ["keep.parquet"]
