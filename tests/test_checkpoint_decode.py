"""Columnar checkpoint decode: equivalence with the row-wise decoder it
replaced, and checkpoint-vs-JSON state parity.

The oracle below is the row-wise decode (`batch.to_pylist()` then one
`_row_to_action` per row) that `iter_checkpoint_actions` used before the
columnar decoder.  It is kept as a reference implementation: every
checkpoint shape here must decode to the same ordered action list
through both.  One rule differs from the original row-wise decode: a
remove's partitionValues follows the protocol, so a null map reads as
None and an empty map as {} (the original turned {} into None, so an
unpartitioned table's tombstone folded differently from its JSON
commit)."""

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from delta_go_spark import checkpoint as ckpt
from delta_go_spark import ops
from delta_go_spark.actions import (
    Action,
    AddFile,
    Format,
    Metadata,
    Protocol,
    RemoveFile,
    SetTransaction,
)
from delta_go_spark.expressions import Column, EqualTo, Literal
from delta_go_spark.log import DeltaLog
from delta_go_spark.snapshot import LogSegment, Snapshot
from delta_go_spark.store import LocalStore
from delta_go_spark.table import DeltaTable

# ---------------------------------------------------------------------------
# Oracle: the row-wise decoder, verbatim.


def _oracle_row_to_action(row: dict) -> Action | None:
    """One checkpoint parquet row -> action (reference:
    checkpoint_reader.go:43-85).  commitInfo / cdc rows return None (they
    don't contribute to state, matching the reference's fold)."""
    if row.get("add") is not None:
        a = row["add"]
        return AddFile(
            path=a["path"],
            partition_values=_oracle_map_to_dict(a.get("partitionValues")),
            size=a.get("size") or 0,
            modification_time=a.get("modificationTime") or 0,
            data_change=bool(a.get("dataChange")),
            stats=a.get("stats"),
            tags=_oracle_map_to_dict(a.get("tags")) or None,
        )
    if row.get("remove") is not None:
        r = row["remove"]
        return RemoveFile(
            path=r["path"],
            deletion_timestamp=r.get("deletionTimestamp"),
            data_change=bool(r.get("dataChange")),
            extended_file_metadata=bool(r.get("extendedFileMetadata", False)),
            partition_values=(
                None
                if r.get("partitionValues") is None
                else _oracle_map_to_dict(r["partitionValues"])
            ),
            size=r.get("size"),
        )
    if row.get("metaData") is not None:
        m = row["metaData"]
        fmt = m.get("format") or {}
        return Metadata(
            id=m.get("id", ""),
            name=m.get("name"),
            description=m.get("description"),
            format=Format(
                (fmt.get("provider") or "parquet"),
                _oracle_map_to_dict(fmt.get("options")) or {},
            ),
            schema_string=m.get("schemaString", ""),
            partition_columns=list(m.get("partitionColumns") or []),
            configuration=_oracle_map_to_dict(m.get("configuration")) or {},
            created_time=m.get("createdTime"),
        )
    if row.get("protocol") is not None:
        p = row["protocol"]
        return Protocol(p.get("minReaderVersion", 0), p.get("minWriterVersion", 0))
    if row.get("txn") is not None:
        t = row["txn"]
        return SetTransaction(t.get("appId", ""), t.get("version", 0), t.get("lastUpdated"))
    return None


def _oracle_iter_checkpoint_actions(
    paths: list[str],
    store,
    batch_size: int = 10_000,
    columns: list[str] | None = None,
):
    import pyarrow.compute as pc

    for path in paths:
        pf = ckpt._open_checkpoint_parquet(path, store)
        avail = set(pf.schema_arrow.names)
        cols = [c for c in columns if c in avail] if columns is not None else None
        if columns is not None and not cols:
            continue
        for batch in pf.iter_batches(batch_size, columns=cols):
            if cols is not None:
                # Projected read: drop rows where every projected column is
                # null BEFORE building Python objects — a P&M resolution
                # over a million-add checkpoint must not allocate ~1M empty
                # dicts (the I/O is already pruned; this prunes the CPU).
                keep = pc.is_valid(batch.column(0))
                for c in range(1, batch.num_columns):
                    keep = pc.or_(keep, pc.is_valid(batch.column(c)))
                batch = batch.filter(keep)
            for row in batch.to_pylist():
                a = _oracle_row_to_action(row)
                if a is not None:
                    yield a


def _oracle_map_to_dict(v):
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return dict(v)  # pyarrow map -> list of (k, v) tuples


# ---------------------------------------------------------------------------
# Fixtures

NOW = 1_700_000_000_000


def _adds(n: int = 40) -> list[AddFile]:
    out = []
    for i in range(n):
        pv = {"region": f"r{i % 3}", "day": None if i % 7 == 0 else str(i % 5)}
        if i % 11 == 0:
            pv = {}  # an empty partitionValues map
        out.append(
            AddFile(
                path=f"region=r{i % 3}/part-{i:04d}.parquet",
                partition_values=pv,
                size=1000 + i,
                modification_time=NOW + i,
                data_change=bool(i % 2),
                stats=None if i % 4 == 0 else json.dumps({"numRecords": i}),
                tags={"origin": "a", "n": str(i)} if i % 3 == 0 else None,
            )
        )
    return out


def _tombstones() -> list[RemoveFile]:
    ext = AddFile("region=r1/gone-0.parquet", {"region": "r1", "day": None}, 77)
    return [
        ext.remove(NOW - 5),
        RemoveFile("gone-1.parquet", NOW - 4, data_change=False),
        AddFile("gone-2.parquet", {}, 5).remove(NOW - 3),
    ]


def _metadata() -> Metadata:
    return Metadata(
        id="tbl-1",
        name="t",
        description=None,
        format=Format("parquet", {"compression": "zstd"}),
        schema_string='{"type":"struct","fields":[]}',
        partition_columns=["region", "day"],
        configuration={"delta.checkpointInterval": "10", "k": "v"},
        created_time=NOW,
    )


def _write(tmp_path, **kw) -> tuple[LocalStore, list[str]]:
    log_path = str(tmp_path / "_delta_log")
    os.makedirs(log_path, exist_ok=True)
    store = LocalStore(str(tmp_path))
    meta = ckpt.write_checkpoint(
        store,
        log_path,
        7,
        Protocol(1, 2),
        _metadata(),
        _adds(),
        _tombstones(),
        [SetTransaction("app-1", 3, NOW), SetTransaction("app-2", 9, None)],
        **kw,
    )
    inst = ckpt.CheckpointInstance(meta.version, meta.parts)
    return store, ckpt.checkpoint_files_of(inst, log_path)


def _assert_same(paths, store, **kw):
    got = list(ckpt.iter_checkpoint_actions(paths, store, **kw))
    want = list(_oracle_iter_checkpoint_actions(paths, store, **kw))
    assert got == want
    assert got  # an empty comparison proves nothing
    return got


# ---------------------------------------------------------------------------
# Decoder equivalence


def test_decode_matches_rowwise_single_part(tmp_path):
    store, paths = _write(tmp_path)
    got = _assert_same(paths, store)
    kinds = [type(a).__name__ for a in got]
    assert kinds.count("AddFile") == 40
    assert kinds.count("RemoveFile") == 3
    assert kinds.count("SetTransaction") == 2
    # spot-check the rules the oracle also applies
    adds = [a for a in got if isinstance(a, AddFile)]
    assert adds[0].partition_values == {} and adds[0].tags == {"origin": "a", "n": "0"}
    assert adds[1].partition_values == {"region": "r1", "day": "1"}
    assert adds[7].partition_values["day"] is None
    assert adds[1].tags is None and adds[0].stats is None
    meta = next(a for a in got if isinstance(a, Metadata))
    assert meta == _metadata()


def test_decode_matches_rowwise_multi_part(tmp_path):
    store, paths = _write(tmp_path, max_actions_per_part=6)
    assert len(paths) > 5
    _assert_same(paths, store)


@pytest.mark.parametrize("batch_size", [1, 3, 4])
def test_decode_matches_rowwise_small_batches(tmp_path, batch_size):
    """Rows are P, M, 2 txn, 3 removes, 40 adds: small batches hold no
    adds, only adds, or a mix, and their struct arrays are slices."""
    store, paths = _write(tmp_path)
    _assert_same(paths, store, batch_size=batch_size)


def test_decode_batch_on_offset_slices(tmp_path):
    """_decode_batch on record batches whose arrays carry a non-zero
    offset, against the row-wise decode of the same rows."""
    store, paths = _write(tmp_path)
    tbl = pq.read_table(paths[0])
    for off, n in [(0, 3), (2, 5), (5, 9), (6, 1), (9, 30), (45, 3)]:
        (rb,) = tbl.slice(off, n).to_batches()
        assert rb.column("add").offset == off or off == 0
        want = [a for a in map(_oracle_row_to_action, rb.to_pylist()) if a]
        assert ckpt._decode_batch(rb) == want


@pytest.mark.parametrize(
    "columns", [["protocol", "metaData"], ["txn"], ["remove"], ["add"], []]
)
def test_decode_matches_rowwise_projected(tmp_path, columns):
    store, paths = _write(tmp_path, max_actions_per_part=9)
    got = list(ckpt.iter_checkpoint_actions(paths, store, columns=columns))
    assert got == list(
        _oracle_iter_checkpoint_actions(paths, store, columns=columns)
    )
    assert bool(got) == bool(columns)


def test_decode_matches_rowwise_foreign_writer(tmp_path):
    """A checkpoint from another writer: add fields in another order, an
    extra deletionVector struct and stats_parsed, no tags field; a remove
    struct with the protocol's full field set; a commitInfo column."""
    str_map = pa.map_(pa.string(), pa.string())
    dv = pa.struct([("storageType", pa.string()), ("sizeInBytes", pa.int32())])
    add_t = pa.struct(
        [
            ("stats_parsed", pa.struct([("numRecords", pa.int64())])),
            ("size", pa.int64()),
            ("path", pa.string()),
            ("deletionVector", dv),
            ("dataChange", pa.bool_()),
            ("partitionValues", str_map),
            ("modificationTime", pa.int64()),
            ("stats", pa.string()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
            ("extendedFileMetadata", pa.bool_()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("tags", str_map),
            ("deletionVector", dv),
        ]
    )
    schema = pa.schema(
        [
            ("commitInfo", pa.struct([("operation", pa.string())])),
            ("add", add_t),
            ("remove", remove_t),
            ("metaData", ckpt.CHECKPOINT_SCHEMA.field("metaData").type),
            ("protocol", ckpt.CHECKPOINT_SCHEMA.field("protocol").type),
            ("txn", ckpt.CHECKPOINT_SCHEMA.field("txn").type),
        ]
    )
    rows = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
        {"metaData": {"id": "x", "format": {"provider": None, "options": None},
                      "partitionColumns": ["p"], "configuration": []}},
        {"commitInfo": {"operation": "WRITE"}},
        {"txn": {"appId": "s", "version": 4, "lastUpdated": None}},
        {"remove": {"path": "old", "deletionTimestamp": NOW, "dataChange": True,
                    "extendedFileMetadata": True, "partitionValues": [("p", "1")],
                    "size": 9, "tags": [("t", "1")],
                    "deletionVector": {"storageType": "u", "sizeInBytes": 3}}},
        {"remove": {"path": "old2", "deletionTimestamp": None, "dataChange": None,
                    "extendedFileMetadata": None, "partitionValues": None,
                    "size": None}},
    ]
    for i in range(25):
        rows.append(
            {
                "add": {
                    "path": f"p={i % 2}/f{i}.parquet",
                    "size": None if i == 3 else 10 * i,
                    "modificationTime": None if i == 4 else NOW + i,
                    "dataChange": None if i == 5 else i % 2 == 0,
                    "partitionValues": None if i == 6 else [("p", str(i % 2))],
                    "stats": '{"numRecords":1}' if i % 2 else None,
                    "stats_parsed": {"numRecords": 1} if i % 2 else None,
                    "deletionVector": (
                        {"storageType": "i", "sizeInBytes": i} if i % 5 == 0 else None
                    ),
                }
            }
        )
    path = str(tmp_path / "00000000000000000003.checkpoint.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    store = LocalStore(str(tmp_path))
    for batch_size in (10_000, 4):
        got = _assert_same([path], store, batch_size=batch_size)
        assert len(got) == 30  # the commitInfo row yields nothing
    for columns in (["protocol", "metaData"], ["txn"], ["remove"]):
        _assert_same([path], store, columns=columns)


def test_decode_matches_rowwise_spark_part(spark, tmp_path):
    """A multi-part checkpoint written by a Spark parquet job, as other
    Delta writers emit it: Spark's own MAP and LIST encodings in every
    action column, adds spread over several part files."""
    adds = [
        AddFile(
            f"x={i % 2}/f{i}.parquet",
            {"x": None if i == 2 else str(i % 2)},
            10 + i,
            NOW + i,
            i % 3 == 0,
            None if i == 1 else '{"numRecords":3}',
            {"a": "b"} if i == 4 else None,
        )
        for i in range(12)
    ]
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "s", "format": {"provider": "parquet", "options": {}},
                      "schemaString": _SCHEMA, "partitionColumns": ["x"],
                      "configuration": {"delta.checkpointInterval": "5"},
                      "createdTime": NOW}},
        {"txn": {"appId": "app", "version": 3, "lastUpdated": None}},
        {"remove": {"path": "x=1/gone.parquet", "deletionTimestamp": NOW,
                    "dataChange": True, "extendedFileMetadata": True,
                    "partitionValues": {"x": "1"}, "size": 4}},
        {"remove": {"path": "flat.parquet", "deletionTimestamp": NOW,
                    "dataChange": True, "extendedFileMetadata": True,
                    "partitionValues": {}, "size": 5}},
        {"remove": {"path": "old.parquet", "deletionTimestamp": NOW,
                    "dataChange": False, "extendedFileMetadata": False,
                    "partitionValues": None, "size": None}},
    ]
    rows += [
        {"add": {"path": a.path, "partitionValues": a.partition_values,
                 "size": a.size, "modificationTime": a.modification_time,
                 "dataChange": a.data_change, "stats": a.stats, "tags": a.tags}}
        for a in adds
    ]
    ddl = (
        "txn struct<appId:string,version:bigint,lastUpdated:bigint>, "
        "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
        "modificationTime:bigint,dataChange:boolean,stats:string,"
        "tags:map<string,string>>, "
        "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean,"
        "extendedFileMetadata:boolean,partitionValues:map<string,string>,"
        "size:bigint>, "
        "metaData struct<id:string,name:string,description:string,"
        "format:struct<provider:string,options:map<string,string>>,"
        "schemaString:string,partitionColumns:array<string>,"
        "configuration:map<string,string>,createdTime:bigint>, "
        "protocol struct<minReaderVersion:int,minWriterVersion:int>"
    )
    cols = ("txn", "add", "remove", "metaData", "protocol")
    full = [{c: r.get(c) for c in cols} for r in rows]
    out = str(tmp_path / "spark_ckpt")
    spark.createDataFrame(full, ddl).repartition(3).write.parquet(out)
    paths = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(paths) > 1
    got = _assert_same(paths, LocalStore(str(tmp_path)))
    assert sorted(
        (a for a in got if isinstance(a, AddFile)), key=lambda a: a.path
    ) == sorted(adds, key=lambda a: a.path)
    pvs = {r.path: r.partition_values for r in got if isinstance(r, RemoveFile)}
    assert pvs == {"x=1/gone.parquet": {"x": "1"}, "flat.parquet": {},
                   "old.parquet": None}


# ---------------------------------------------------------------------------
# Checkpoint fold == JSON fold

_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "x", "type": "string", "nullable": True, "metadata": {}},
            {"name": "y", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
)


def _fold_from_checkpoint_and_json(root: str, partitioned: bool):
    """Commit versions 0-10 (checkpoint at 10) with adds, txns and three
    removes; return (checkpoint fold, JSON-only fold) of version 10."""
    log = DeltaLog.for_table(root)
    txn = log.start_transaction()
    txn.update_metadata(
        Metadata(
            schema_string=_SCHEMA,
            partition_columns=["x"] if partitioned else [],
            format=Format("parquet", {"o": "1"}),
            configuration={"delta.checkpointInterval": "10"},
        )
    )
    assert txn.commit([], ops.CREATE_TABLE) == 0
    now = int(time.time() * 1000)
    for v in range(1, 11):
        txn = log.start_transaction()
        acts = [
            AddFile(
                f"x={v % 3}/f{v}.parquet" if partitioned else f"f{v}.parquet",
                ({"x": None if v == 4 else str(v % 3)} if partitioned else {}),
                100 * v,
                now + v,
                True,
                None if v % 2 else json.dumps({"numRecords": v}),
                {"tag": str(v)} if v % 3 == 0 else None,
            ),
            SetTransaction(f"app-{v % 2}", v, now + v),
        ]
        gone = {5: "f4", 8: "f1", 9: "f6"}.get(v)  # f4's x is None
        if gone:
            (victim,) = [
                f for f in log.update().all_files() if f"{gone}." in f.path
            ]
            acts.append(victim.remove(now + v))
        assert txn.commit(acts, ops.WRITE) == v
    names = os.listdir(os.path.join(log.table_path, "_delta_log"))
    assert "00000000000000000010.checkpoint.parquet" in names

    from_ckpt = DeltaLog.for_table(log.table_path).snapshot()
    assert from_ckpt.segment.checkpoint_version == 10
    assert not from_ckpt.segment.deltas
    seg = from_ckpt.segment
    json_only = Snapshot(
        log.store,
        LogSegment(
            log_path=seg.log_path,
            version=10,
            deltas=tuple(
                os.path.join(seg.log_path, f"{v:020d}.json") for v in range(11)
            ),
            checkpoints=(),
            checkpoint_version=None,
            last_commit_timestamp=seg.last_commit_timestamp,
        ),
        from_ckpt.table_root,
    )
    return from_ckpt.state(), json_only.state()


def test_checkpoint_fold_equals_json_fold(tmp_path):
    """The TableState folded from the version-10 checkpoint equals the one
    folded from JSON commits 0-10 alone: protocol, metadata, active files,
    tombstones (with their extended file metadata) and txns — for a
    partitioned table and for an unpartitioned one, whose tombstones carry
    an empty partitionValues map."""
    for partitioned in (True, False):
        root = str(tmp_path / ("part" if partitioned else "flat"))
        a, b = _fold_from_checkpoint_and_json(root, partitioned)
        assert len(b.tombstones) == 3 and len(b.set_transactions) == 2
        assert a.protocol == b.protocol
        assert a.metadata == b.metadata
        assert a.active_files == b.active_files
        assert a.set_transactions == b.set_transactions
        assert a.tombstones == b.tombstones
        assert all(r.extended_file_metadata for r in a.tombstones.values())
        pvs = [r.partition_values for r in a.tombstones.values()]
        if partitioned:
            assert {"x": None} in pvs
        else:
            assert pvs == [{}, {}, {}]


# ---------------------------------------------------------------------------
# Protocol and metadata resolution


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
