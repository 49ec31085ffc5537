"""Optimistic-transaction conflict matrix (port of the reference's
trnx_test.go:124-729 fixture pattern: reads -> concurrent winner commits ->
loser commit must fail/succeed)."""

import json

import pytest
from pyspark.sql.types import IntegerType

from delta_go_spark import ops
from delta_go_spark.actions import AddFile, Metadata, Protocol, RemoveFile, SetTransaction
from delta_go_spark.expressions import Column, EqualTo, Literal
from delta_go_spark.log import DeltaLog
from delta_go_spark.snapshot import DeltaError
from delta_go_spark.transaction import (
    ConcurrentAppendError,
    ConcurrentDeleteDeleteError,
    ConcurrentDeleteReadError,
    ConcurrentTransactionError,
    MetadataChangedError,
    ProtocolChangedError,
)

SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "x", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "y", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
)


def meta(partitioned: bool) -> Metadata:
    return Metadata(
        schema_string=SCHEMA,
        partition_columns=["x"] if partitioned else [],
    )


def add(path: str, x: str | None = None, data_change: bool = True) -> AddFile:
    pv = {"x": x} if x is not None else {}
    return AddFile(path=path, partition_values=pv, size=1, modification_time=1,
                   data_change=data_change)


def new_table(tmp_path, partitioned: bool = False) -> DeltaLog:
    log = DeltaLog.for_table(str(tmp_path / "tbl"))
    txn = log.start_transaction()
    txn.update_metadata(meta(partitioned))
    txn.commit([], ops.CREATE_TABLE)
    return log


def test_create_and_reopen(tmp_path):
    log = new_table(tmp_path)
    assert log.update().version == 0
    log2 = DeltaLog.for_table(log.table_path)
    assert log2.snapshot().version == 0
    assert [f.name for f in log2.snapshot().metadata().schema().fields] == ["x", "y"]


def test_append_append_no_conflict(tmp_path):
    """Blind appends never conflict (trnx_test.go append/append OK)."""
    log = new_table(tmp_path)
    t1 = log.start_transaction()
    t2 = log.start_transaction()
    t1.commit([add("a")], ops.WRITE)
    v = t2.commit([add("b")], ops.WRITE)  # retries internally, wins at v2
    assert v == 2
    assert {a.path for a in log.update().all_files()} == {"a", "b"}


def test_read_then_concurrent_matching_append_conflicts(tmp_path):
    """Serializable: winner appends a file matching my read predicate
    (trnx_test.go add-read-write conflict)."""
    log = new_table(tmp_path, partitioned=True)
    t0 = log.start_transaction()
    t0.commit([add("seed", x="1")], ops.WRITE)

    loser = log.start_transaction()
    loser.mark_files_as_read(EqualTo(Column("x", IntegerType()), Literal(1)))
    winner = log.start_transaction()
    winner.commit([add("w1", x="1")], ops.WRITE)
    with pytest.raises(ConcurrentAppendError):
        loser.commit([add("l1", x="1")], ops.WRITE)


def test_read_then_concurrent_disjoint_append_ok(tmp_path):
    """Disjoint partitions don't conflict (trnx_test.go disjoint txns OK)."""
    log = new_table(tmp_path, partitioned=True)
    t0 = log.start_transaction()
    t0.commit([add("seed", x="1")], ops.WRITE)

    loser = log.start_transaction()
    loser.mark_files_as_read(EqualTo(Column("x", IntegerType()), Literal(1)))
    winner = log.start_transaction()
    winner.commit([add("w2", x="2")], ops.WRITE)
    v = loser.commit([add("l1", x="1")], ops.WRITE)
    assert v == 3


def test_delete_delete_conflict(tmp_path):
    log = new_table(tmp_path)
    log.start_transaction().commit([add("a")], ops.WRITE)
    loser = log.start_transaction()
    winner = log.start_transaction()
    winner.commit([RemoveFile(path="a", deletion_timestamp=4, data_change=True)], ops.DELETE)
    with pytest.raises(ConcurrentDeleteDeleteError):
        loser.commit([RemoveFile(path="a", deletion_timestamp=5, data_change=True)], ops.DELETE)


def test_delete_read_conflict(tmp_path):
    log = new_table(tmp_path, partitioned=True)
    log.start_transaction().commit([add("a", x="1")], ops.WRITE)
    loser = log.start_transaction()
    loser.mark_files_as_read(EqualTo(Column("x", IntegerType()), Literal(1)))
    winner = log.start_transaction()
    winner.commit([RemoveFile(path="a", deletion_timestamp=4, data_change=True)], ops.DELETE)
    with pytest.raises(ConcurrentDeleteReadError):
        loser.commit([add("l", x="1")], ops.WRITE)


def test_whole_table_taint_vs_concurrent_remove(tmp_path):
    log = new_table(tmp_path)
    log.start_transaction().commit([add("a")], ops.WRITE)
    loser = log.start_transaction()
    loser.read_whole_table()
    winner = log.start_transaction()
    winner.commit([RemoveFile(path="a", deletion_timestamp=4, data_change=True)], ops.DELETE)
    with pytest.raises(ConcurrentDeleteReadError):
        loser.commit([add("l")], ops.WRITE)


def test_metadata_change_conflict(tmp_path):
    log = new_table(tmp_path)
    loser = log.start_transaction()
    loser.read_whole_table()
    winner = log.start_transaction()
    winner.update_metadata(meta(False))
    winner.commit([], ops.UPGRADE_SCHEMA)
    with pytest.raises(MetadataChangedError):
        loser.commit([add("l")], ops.WRITE)


def test_protocol_change_conflict(tmp_path):
    log = new_table(tmp_path)
    loser = log.start_transaction()
    winner = log.start_transaction()
    winner.commit([Protocol(1, 2), add("w")], ops.MANUAL_UPDATE)
    with pytest.raises(ProtocolChangedError):
        loser.commit([add("l")], ops.WRITE)


def test_concurrent_set_transaction_conflict(tmp_path):
    log = new_table(tmp_path)
    loser = log.start_transaction()
    assert loser.txn_version("app-1") == -1
    winner = log.start_transaction()
    winner.commit([SetTransaction("app-1", 1, 1000), add("w")], ops.STREAMING_UPDATE)
    with pytest.raises(ConcurrentTransactionError):
        loser.commit([add("l")], ops.WRITE)


def test_txn_version_idempotency(tmp_path):
    log = new_table(tmp_path)
    t = log.start_transaction()
    t.commit([SetTransaction("app-9", 7, 1), add("a")], ops.STREAMING_UPDATE)
    t2 = log.start_transaction()
    assert t2.txn_version("app-9") == 7


def test_first_commit_requires_metadata(tmp_path):
    log = DeltaLog.for_table(str(tmp_path / "empty"))
    txn = log.start_transaction()
    with pytest.raises(DeltaError):
        txn.commit([add("a")], ops.WRITE)


def test_partition_values_must_match_partition_columns(tmp_path):
    log = new_table(tmp_path, partitioned=True)
    txn = log.start_transaction()
    with pytest.raises(DeltaError):
        txn.commit([add("a")], ops.WRITE)  # missing x partition value


def test_append_only_blocks_removes(tmp_path):
    log = DeltaLog.for_table(str(tmp_path / "ao"))
    txn = log.start_transaction()
    m = meta(False)
    m.configuration = {"delta.appendOnly": "true"}
    txn.update_metadata(m)
    txn.commit([add("a")], ops.CREATE_TABLE)
    t2 = log.start_transaction()
    with pytest.raises(DeltaError):
        t2.commit([RemoveFile(path="a", deletion_timestamp=1, data_change=True)], ops.DELETE)


def test_add_paths_relativized(tmp_path):
    """Absolute add paths under the table root are stored relative
    (trnx.go:438-443; log_test.go:601 removes stay as-is)."""
    log = new_table(tmp_path)
    txn = log.start_transaction()
    abs_path = f"{log.table_path}/sub/file1.parquet"
    txn.commit([AddFile(path=abs_path, partition_values={}, size=1,
                        modification_time=1, data_change=True)], ops.WRITE)
    files = log.update().all_files()
    assert [a.path for a in files] == ["sub/file1.parquet"]


def test_schema_change_requires_compat_or_full_rewrite(tmp_path):
    log = new_table(tmp_path)
    log.start_transaction().commit([add("a")], ops.WRITE)
    incompatible = Metadata(
        schema_string=json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "x", "type": "string", "nullable": True, "metadata": {}}
                ],
            }
        ),
        partition_columns=[],
    )
    t = log.start_transaction()
    t.update_metadata(incompatible)
    with pytest.raises(DeltaError):
        t.commit([add("b")], ops.UPGRADE_SCHEMA)
    # but a full rewrite may change the schema arbitrarily (trnx.go:417-419)
    t2 = log.start_transaction()
    t2.update_metadata(incompatible)
    removes = [a.remove(1) for a in log.update().all_files()]
    v = t2.commit(removes + [add("c")], ops.REPLACE_TABLE)
    assert v >= 2


def test_checkpoint_written_at_interval(tmp_path):
    """postCommit writes a checkpoint at checkpointInterval
    (trnx.go:647-675; default interval 10 per config.go:75-82)."""
    import os

    log = DeltaLog.for_table(str(tmp_path / "ckpt"))
    txn = log.start_transaction()
    m = meta(False)
    m.configuration = {"delta.checkpointInterval": "4"}
    txn.update_metadata(m)
    txn.commit([], ops.CREATE_TABLE)
    for i in range(5):
        log.start_transaction().commit([add(f"f{i}")], ops.WRITE)
    names = os.listdir(log.log_path)
    assert "00000000000000000004.checkpoint.parquet" in names
    assert "_last_checkpoint" in names
    # reopen: snapshot anchors at the checkpoint
    log2 = DeltaLog.for_table(log.table_path)
    snap = log2.snapshot()
    assert snap.version == 5
    assert snap.segment.checkpoint_version == 4
    assert {a.path for a in snap.all_files()} == {f"f{i}" for i in range(5)}


def test_concurrent_appenders_serialize(tmp_path):
    """8 threads x 5 blind appends race on the same table: every commit
    must win a distinct contiguous version (the storage contract's mutual
    exclusion + the retry loop), and the final state must contain all 40
    files."""
    import threading

    log0 = new_table(tmp_path)
    path = log0.table_path
    base = log0.update().version
    errors = []

    def appender(tid):
        try:
            for i in range(5):
                log = DeltaLog.for_table(path)
                txn = log.start_transaction()
                txn.commit([add(f"t{tid}-{i}")], ops.WRITE)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    log = DeltaLog.for_table(path)
    snap = log.update()
    assert snap.version == base + 40
    names = {a.path for a in snap.all_files()}
    assert {f"t{t}-{i}" for t in range(8) for i in range(5)} <= names
    # every version has exactly one CommitInfo and versions are contiguous
    versions = [vl.version for vl in log.changes(0)]
    assert versions == list(range(snap.version + 1))


INCOMPATIBLE_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "z", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
)


def test_schema_swap_on_emptied_table_conflicts_with_concurrent_append(tmp_path):
    """The whole-table-rewrite escape must DECLARE a whole-table read: a
    txn that snapshotted an emptied table and swaps to an incompatible
    schema cannot let a concurrently-appended old-schema file survive
    under the new metadata (regression: the escape set no read flags, so
    conflict rule 3 never fired)."""
    log = new_table(tmp_path)
    log.start_transaction().commit([add("a")], ops.WRITE)
    log.start_transaction().commit(
        [RemoveFile(path="a", deletion_timestamp=1, data_change=True)], ops.DELETE
    )
    loser = log.start_transaction()  # snapshot: zero active files
    winner = log.start_transaction()
    winner.commit([add("w")], ops.WRITE)  # old-schema append wins first
    loser.update_metadata(Metadata(schema_string=INCOMPATIBLE_SCHEMA))
    with pytest.raises(ConcurrentAppendError):
        loser.commit([add("n")], ops.WRITE)


def test_empty_table_schema_swap_without_race_commits(tmp_path):
    """Same escape, no concurrent writer: swapping the schema of an
    emptied table is a legitimate whole-table rewrite and must commit."""
    log = new_table(tmp_path)
    log.start_transaction().commit([add("a")], ops.WRITE)
    log.start_transaction().commit(
        [RemoveFile(path="a", deletion_timestamp=1, data_change=True)], ops.DELETE
    )
    t = log.start_transaction()
    t.update_metadata(Metadata(schema_string=INCOMPATIBLE_SCHEMA))
    v = t.commit([add("n")], ops.WRITE)
    assert v == 3


def test_metadata_only_schema_swap_conflicts_with_concurrent_append(tmp_path):
    """A commit with NO data-change actions that takes the rewrite escape
    must still run conflict rule 3: the escape escalates the isolation to
    Serializable (regression: the auto-pick chose SnapshotIsolation for
    no-data commits, making the whole-table read inert)."""
    log = new_table(tmp_path)
    log.start_transaction().commit([add("a")], ops.WRITE)
    log.start_transaction().commit(
        [RemoveFile(path="a", deletion_timestamp=1, data_change=True)], ops.DELETE
    )
    loser = log.start_transaction()  # snapshot: zero active files
    winner = log.start_transaction()
    winner.commit([add("w")], ops.WRITE)  # old-schema append wins first
    loser.update_metadata(Metadata(schema_string=INCOMPATIBLE_SCHEMA))
    with pytest.raises(ConcurrentAppendError):
        loser.commit([], ops.MANUAL_UPDATE)  # metadata-only commit


def _mp_writer(table, wid, n_appends, pair_at, start, pair_barrier, results):
    """One writer process: `n_appends` blind one-file appends into
    partition x=0, started together with the other writers; the two pair
    writers also run one read-then-append on partition x=1 after
    `pair_at` appends, both reading before either commits (the barrier).
    Every outcome is reported, never raised."""
    log = DeltaLog.for_table(table)
    start.wait(timeout=120)
    committed, errors, pair = [], [], None
    for i in range(n_appends):
        if i == pair_at and pair_barrier is not None:
            path = f"pair-{wid}"
            try:
                txn = log.start_transaction()
                txn.mark_files_as_read(EqualTo(Column("x", IntegerType()), Literal(1)))
                pair_barrier.wait(timeout=120)
                txn.commit([add(path, x="1")], ops.WRITE)
                pair = ("committed", path)
            except Exception as e:
                pair = (type(e).__name__, str(e))
        path = f"w{wid}-{i}"
        try:
            log.start_transaction().commit([add(path, x="0")], ops.WRITE)
            committed.append(path)
        except Exception as e:
            errors.append((path, type(e).__name__, str(e)))
    results.put({"wid": wid, "committed": committed, "errors": errors, "pair": pair})


def test_multiprocess_writers_one_winner_per_version(tmp_path):
    """4 writer PROCESSES race on one LocalStore table: 15 blind appends
    each, plus one overlapping read-then-append pair.  Every blind append
    commits, exactly one of the pair commits and the other raises
    ConcurrentAppendError, every version file holds exactly one
    transaction, and no add is committed twice (the storage contract's
    mutual exclusion must hold across processes, not just threads)."""
    import multiprocessing
    import os

    from delta_go_spark import filenames

    n_workers, n_appends = 4, 15
    table = new_table(tmp_path, partitioned=True).table_path
    # spawn, not fork: the test process may hold a py4j gateway
    ctx = multiprocessing.get_context("spawn")
    start, pair_barrier = ctx.Barrier(n_workers), ctx.Barrier(2)
    results = ctx.Queue()
    procs = [
        ctx.Process(
            target=_mp_writer,
            args=(table, w, n_appends, n_appends // 2, start,
                  pair_barrier if w < 2 else None, results),
        )
        for w in range(n_workers)
    ]
    for p in procs:
        p.start()
    try:
        reports = [results.get(timeout=300) for _ in procs]
    finally:
        for p in procs:
            p.join(timeout=60)
            if p.is_alive():  # pragma: no cover - only on a hang
                p.kill()
    assert [p.exitcode for p in procs] == [0] * n_workers
    errors = [e for r in reports for e in r["errors"]]
    assert not errors, (
        f"{len(errors)} of {n_workers * n_appends} blind appends failed",
        sorted({e[1] for e in errors}),
        errors[:2],
    )
    pair = sorted(r["pair"][0] for r in reports if r["pair"] is not None)
    assert pair == ["ConcurrentAppendError", "committed"], [r["pair"] for r in reports]
    committed = [p for r in reports for p in r["committed"]]
    committed += [r["pair"][1] for r in reports if r["pair"] and r["pair"][0] == "committed"]
    assert len(committed) == n_workers * n_appends + 1

    log_path = os.path.join(table, "_delta_log")
    names = sorted(os.listdir(log_path))
    assert not [n for n in names if n.endswith(".tmp")], names
    versions = [filenames.delta_version(n) for n in names if filenames.is_delta_file(n)]
    assert versions == list(range(len(committed) + 1))
    logged_adds = []
    for v in versions:
        with open(filenames.delta_file(log_path, v), encoding="utf-8") as f:
            actions = [json.loads(line) for line in f if line.strip()]
        assert sum("commitInfo" in a for a in actions) == 1, (v, actions)
        logged_adds += [a["add"]["path"] for a in actions if "add" in a]
    assert len(logged_adds) == len(set(logged_adds))
    assert sorted(logged_adds) == sorted(committed)
    snap = DeltaLog.for_table(table).update()
    assert {a.path for a in snap.all_files()} == set(committed)


def test_checkpoint_through_uri_mapping_local_store(tmp_path):
    """A LocalStore subclass that maps a URI prefix onto a local directory
    (a viewfs-style mount): the checkpoint at checkpointInterval must be
    written and read through the store, never handed to pyarrow as a raw
    URI — otherwise the commit of the checkpoint version, already durable
    in the log, is reported as failed."""
    import os

    from delta_go_spark import filenames
    from delta_go_spark.store import FileMeta, LocalStore

    class MappedStore(LocalStore):
        def __init__(self, prefix, local_root):
            super().__init__(local_root)
            self._prefix = prefix
            self._local = os.path.abspath(local_root)

        def _to_local(self, path):
            assert path.startswith(self._prefix), path
            return self._local + path[len(self._prefix):]

        def read(self, path):
            return super().read(self._to_local(path))

        def list_from(self, path):
            for m in super().list_from(self._to_local(path)):
                uri = self._prefix + m.path[len(self._local):]
                yield FileMeta(uri, m.size, m.modification_time)

        def write(self, path, lines, overwrite=False):
            return super().write(self._to_local(path), lines, overwrite)

        def exists(self, path):
            return super().exists(self._to_local(path))

        def read_bytes(self, path):
            return super().read_bytes(self._to_local(path))

        def write_bytes(self, path, data, overwrite=True):
            return super().write_bytes(self._to_local(path), data, overwrite)

        def delete(self, path):
            return super().delete(self._to_local(path))

        def read_range(self, path, start, length):
            return super().read_range(self._to_local(path), start, length)

        def size_of(self, path):
            return super().size_of(self._to_local(path))

    local_root = tmp_path / "mount"
    store = MappedStore("mapfs://ns/data", str(local_root))
    table = "mapfs://ns/data/t"
    log = DeltaLog(table, store=store)
    txn = log.start_transaction()
    m = meta(False)
    m.configuration = {"delta.checkpointInterval": "2"}
    txn.update_metadata(m)
    txn.commit([], ops.CREATE_TABLE)
    assert log.start_transaction().commit([add("a")], ops.WRITE) == 1
    assert log.start_transaction().commit([add("b")], ops.WRITE) == 2
    assert os.path.isfile(
        filenames.checkpoint_file_single(str(local_root / "t" / "_delta_log"), 2)
    )
    snap = DeltaLog(table, store=store).update()
    assert snap.version == 2
    assert snap.segment.checkpoint_version == 2
    assert not snap.segment.deltas  # state comes from the checkpoint alone
    assert {a.path for a in snap.all_files()} == {"a", "b"}
