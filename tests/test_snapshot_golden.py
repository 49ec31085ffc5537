"""Snapshot reconstruction against the reference's golden-table corpus
(read in place from /root/reference/tests/golden — data fixtures, not code).

Mirrors the assertions of the reference's log_test.go:248-400, 506, 672,
687-735.
"""

import os

import pytest

from delta_go_spark.log import DeltaLog
from delta_go_spark.snapshot import DeltaError, InvalidProtocolVersionError
from tests.conftest import golden


def parquet_files_on_disk(table_path: str) -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(table_path):
        if "_delta_log" in root:
            continue
        for f in files:
            if f.endswith(".snappy.parquet") or f.endswith(".parquet"):
                out.add(os.path.join(root, f))
    return out


@pytest.mark.parametrize(
    "name",
    [
        "snapshot-data0",
        "snapshot-data1",
        "snapshot-data2",
        "snapshot-data3",
        "snapshot-data2-deleted",
        "snapshot-repartitioned",
        "snapshot-vacuumed",
    ],
)
def test_snapshot_active_files_match_disk(name):
    """log_test.go:248-351: every active file exists on disk (removed
    entries may linger on disk until vacuum), and the snapshot reads
    cleanly."""
    path = golden(name)
    log = DeltaLog.for_table(path)
    snap = log.snapshot()
    active = {p for p in snap.absolute_data_paths()}
    on_disk = parquet_files_on_disk(path)
    assert active, name
    assert active <= on_disk, name
    if name == "snapshot-data0":
        # no removes ever: active set IS the disk content
        assert active == on_disk


def test_snapshot_data0_version_and_schema():
    log = DeltaLog.for_table(golden("snapshot-data0"))
    snap = log.snapshot()
    assert snap.version == 0
    schema = snap.metadata().schema()
    assert [f.name for f in schema.fields] == ["col1", "col2"]


def test_checkpoint_table():
    """log_test.go:353-400: 15 commits, checkpoint at 10; final state is
    exactly one file '15'."""
    log = DeltaLog.for_table(golden("checkpoint"))
    snap = log.snapshot()
    assert snap.version == 14
    files = snap.all_files()
    assert len(files) == 1
    assert files[0].path == "15"
    # segment must anchor at the checkpoint, not read all 15 jsons
    assert snap.segment.checkpoint_version == 10
    assert [os.path.basename(p) for p in snap.segment.deltas] == [
        f"{v:020d}.json" for v in range(11, 15)
    ]


def test_corrupted_last_checkpoint_falls_back():
    """log_test.go:506: unreadable _last_checkpoint must not break
    loading."""
    log = DeltaLog.for_table(golden("corrupted-last-checkpoint"))
    snap = log.snapshot()
    assert snap.version >= 0


def test_versions_not_contiguous_raises():
    """log_test.go:672."""
    with pytest.raises(DeltaError):
        DeltaLog(golden("versions-not-contiguous")).update()


@pytest.mark.parametrize(
    "name",
    [
        "deltalog-state-reconstruction-without-protocol",
        "deltalog-state-reconstruction-without-metadata",
    ],
)
def test_state_reconstruction_missing_pm(name):
    """log_test.go:687-704."""
    log = DeltaLog(golden(name))
    snap = log.update()
    with pytest.raises(DeltaError):
        snap.state()


@pytest.mark.parametrize(
    "name",
    [
        "deltalog-state-reconstruction-from-checkpoint-missing-protocol",
        "deltalog-state-reconstruction-from-checkpoint-missing-metadata",
    ],
)
def test_state_reconstruction_from_checkpoint_missing_pm(name):
    """log_test.go:705-719."""
    log = DeltaLog(golden(name))
    snap = log.update()
    with pytest.raises(DeltaError):
        snap._resolve_pm()


def test_invalid_protocol_version():
    """log_test.go:720."""
    log = DeltaLog(golden("deltalog-invalid-protocol-version"))
    snap = log.update()
    with pytest.raises(InvalidProtocolVersionError):
        snap.protocol()


def test_commit_info():
    """log_test.go:735: CommitInfoAt returns the right version's info."""
    log = DeltaLog.for_table(golden("deltalog-commit-info"))
    ci = log.commit_info_at(0)
    assert ci.version == 0


def test_changes_and_data_loss():
    """log_test.go:782-880."""
    log = DeltaLog.for_table(golden("deltalog-getChanges"))
    versions = [vl.version for vl in log.changes(0)]
    assert versions == sorted(versions)
    assert versions[0] == 0
    # from version 1
    versions1 = [vl.version for vl in log.changes(1)]
    assert versions1[0] == 1


def test_canonicalized_paths():
    """log_test.go:542-644: add with absolute/encoded path + remove with
    the equivalent form cancel out."""
    for name in [
        "canonicalized-paths-normal-a",
        "canonicalized-paths-normal-b",
        "canonicalized-paths-special-a",
        "canonicalized-paths-special-b",
    ]:
        log = DeltaLog.for_table(golden(name))
        assert log.snapshot().num_of_files() == 0, name


def test_table_exists():
    assert DeltaLog.for_table(golden("snapshot-data0")).table_exists()
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        assert not DeltaLog.for_table(d).table_exists()


def test_fold_dedups_on_canonical_path(tmp_path):
    """An AddFile logged relative + percent-encoded and its RemoveFile
    logged as an absolute file: URI are the SAME file (resolver.go:87-126
    semantics, '-escaped-chars' golden fixtures); the fold must key its
    newest-wins replay on the canonical path, or the deleted file
    resurrects."""
    import json as _json

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
    assert sorted(a.path for a in snap.all_files()) == ["keep.parquet"]


def test_many_commit_log_loads_from_checkpoint_tail(tmp_path):
    """BASELINE.md internal target: reconstruction of a long log stays
    O(tail-since-checkpoint), not O(all versions).  120 commits with
    checkpointInterval=10 -> the segment must anchor at the last
    checkpoint and read at most `interval` tail JSONs."""
    import json as _json

    from delta_go_spark import ops
    from delta_go_spark.actions import AddFile, Metadata
    from delta_go_spark.log import DeltaLog

    path = str(tmp_path / "long")
    schema = _json.dumps(
        {"type": "struct",
         "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    )
    log = DeltaLog.for_table(path)
    txn = log.start_transaction()
    txn.update_metadata(Metadata(schema_string=schema))
    txn.commit([], ops.CREATE_TABLE)
    for i in range(120):
        t = log.start_transaction()
        t.commit(
            [AddFile(path=f"f{i}.parquet", partition_values={}, size=1,
                     modification_time=1, data_change=True)],
            ops.WRITE,
        )

    fresh = DeltaLog.for_table(path)
    snap = fresh.snapshot()
    assert snap.version == 120
    assert snap.segment.checkpoint_version == 120
    assert len(snap.segment.deltas) == 0  # checkpoint IS the state
    assert snap.num_of_files() == 120
    # a mid-interval version anchors at the preceding checkpoint
    mid = fresh.snapshot_for_version_as_of(97)
    assert mid.segment.checkpoint_version == 90
    assert len(mid.segment.deltas) == 7


def test_delta_spark_interop_if_available(spark, tmp_path):
    """Tables our engine writes should be readable by the official
    delta-spark reader (SURVEY §5 interop goal).  Skipped when the
    delta-spark JARs are not on the classpath (this container)."""
    from pyspark.sql import functions as F

    from delta_go_spark.table import DeltaTable

    path = str(tmp_path / "interop")
    DeltaTable.create(spark, path, spark.range(20).select(F.col("id").alias("k")))
    try:
        n = spark.read.format("delta").load(path).count()
    except Exception:
        pytest.skip("delta-spark reader not available in this environment")
    assert n == 20


def test_state_fold_streams_actions(tmp_path, monkeypatch):
    """The replay fold consumes a generator — no per-segment action lists
    are materialized on the driver (reference replay_file.go:70-140).  Cap
    the largest list InMemoryLogReplay ever sees by intercepting append():
    it must receive ONE lazy iterable, and iter_segment_actions must be a
    generator (laziness = the memory ceiling on a huge JSON tail)."""
    import json as _json
    import types

    from delta_go_spark import ops
    from delta_go_spark import snapshot as snap_mod
    from delta_go_spark.actions import AddFile, Metadata
    from delta_go_spark.log import DeltaLog

    path = str(tmp_path / "streamy")
    schema = _json.dumps(
        {"type": "struct",
         "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    )
    log = DeltaLog.for_table(path)
    txn = log.start_transaction()
    txn.update_metadata(Metadata(schema_string=schema,
                                 configuration={"delta.checkpointInterval": "40"}))
    txn.commit([], ops.CREATE_TABLE)
    for i in range(60):  # checkpoint at 40 + a 20-commit JSON tail
        t = log.start_transaction()
        t.commit(
            [AddFile(path=f"f{i}.parquet", partition_values={}, size=1,
                     modification_time=1, data_change=True)],
            ops.WRITE,
        )

    gen = snap_mod.iter_segment_actions(
        DeltaLog.for_table(path).snapshot().store,
        DeltaLog.for_table(path).snapshot().segment,
    )
    assert isinstance(gen, types.GeneratorType)

    seen: list = []
    orig_append = snap_mod.InMemoryLogReplay.append

    def spy(self, actions):
        seen.append(actions)
        return orig_append(self, actions)

    monkeypatch.setattr(snap_mod.InMemoryLogReplay, "append", spy)
    fresh = DeltaLog.for_table(path).snapshot()
    assert fresh.num_of_files() == 60
    assert len(seen) == 1 and isinstance(seen[0], types.GeneratorType)
