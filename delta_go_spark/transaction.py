"""Optimistic transactions: prepare, commit-retry, conflict detection.

Reference: trnx.go (transaction lifecycle), conflict_checker.go (the six
rules), isolation/delta_isolationlevel.go.

Concurrency model: the log is only ever written by drivers; storage-level
atomic create (store.write overwrite=False) provides cross-process mutual
exclusion, the conflict checker provides logical serializability.
"""

from __future__ import annotations

import os
import uuid

from delta_go_spark import config as cfg
from delta_go_spark import filenames, ops
from delta_go_spark.actions import (
    Action,
    AddFile,
    CommitInfo,
    Metadata,
    Protocol,
    RemoveFile,
    SetTransaction,
    action_from_json,
    action_to_json,
    READER_VERSION,
    WRITER_VERSION,
)
from delta_go_spark.expressions import Expression
from delta_go_spark.snapshot import DeltaError, Snapshot, canonicalize_path
from delta_go_spark.store import FileAlreadyExistsError
from delta_go_spark.types import (
    is_write_compatible,
    schema_from_json,
    validate_partition_columns,
    validate_schema,
)

MAX_RETRIES = 10_000_000  # reference: trnx.go:67

SERIALIZABLE = "Serializable"
SNAPSHOT_ISOLATION = "SnapshotIsolation"


class DeltaConcurrentModificationError(DeltaError):
    pass


class ProtocolChangedError(DeltaConcurrentModificationError):
    pass


class MetadataChangedError(DeltaConcurrentModificationError):
    pass


class ConcurrentAppendError(DeltaConcurrentModificationError):
    pass


class ConcurrentDeleteReadError(DeltaConcurrentModificationError):
    pass


class ConcurrentDeleteDeleteError(DeltaConcurrentModificationError):
    pass


class ConcurrentTransactionError(DeltaConcurrentModificationError):
    pass


class OptimisticTransaction:
    """reference: trnx.go:95-123."""

    def __init__(self, delta_log, snapshot: Snapshot | None):
        self.log = delta_log
        self.snapshot = snapshot
        self.read_predicates: list[Expression] = []
        self.read_files: set[str] = set()  # canonical paths
        self.read_whole_table_flag = False
        self.read_txns: set[str] = set()
        self.new_metadata: Metadata | None = None
        self.committed = False
        self._pending_removes: list[RemoveFile] = []
        self._require_serializable = False

    @property
    def read_version(self) -> int:
        return self.snapshot.version if self.snapshot else -1

    # -- reads recorded for conflict detection ----------------------------
    def txn_version(self, app_id: str) -> int:
        """Idempotency lookup (reference: trnx.go:330-337)."""
        self.read_txns.add(app_id)
        if self.snapshot is None:
            return -1
        t = self.snapshot.state().set_transactions.get(app_id)
        return t.version if t else -1

    def mark_files_as_read(self, predicate: Expression) -> list[AddFile]:
        """Filtered scan + record reads (reference: trnx.go:235-260)."""
        if self.snapshot is None:
            return []
        scan = self.snapshot.scan(predicate)
        matched = list(scan.files())
        if scan.pushed_predicate() is not None:
            self.read_predicates.append(scan.pushed_predicate())
        else:
            # predicate had no partition conjunct: taints like a full read
            self.read_whole_table_flag = True
        for a in matched:
            self.read_files.add(canonicalize_path(a.path, self.log.table_path))
        return matched

    def read_whole_table(self, require_serializable: bool = False) -> None:
        """reference: trnx.go:323-327.

        require_serializable=True is for operations whose POST-state is
        fully specified ("the table is now exactly X": REPLACE, whole-table
        overwrite, TRUNCATE, RESTORE): their commit can carry zero
        data-change actions (empty frame over an emptied table, no-op
        restore diff), in which case the isolation auto-pick would choose
        SnapshotIsolation and conflict rule 3 — the only rule that catches
        a concurrent append sliding under the rewrite — never runs.
        Operations whose post-state is a DELTA on what they read (merge,
        stats backfill) keep the default: a winner's append serializes
        after them harmlessly."""
        self.read_whole_table_flag = True
        if require_serializable:
            self._require_serializable = True

    # -- metadata ----------------------------------------------------------
    def update_metadata(self, metadata: Metadata) -> None:
        """Once per txn, with the full validation suite
        (reference: trnx.go:264-307, 339-388)."""
        if self.new_metadata is not None:
            raise DeltaError("cannot change the metadata more than once in a transaction")
        if not metadata.id:
            metadata.id = str(uuid.uuid4())
        if self.snapshot is None or self.snapshot.version < 0:
            # table creation: global defaults merge into configuration
            pass
        schema = metadata.schema()
        if schema is not None:
            validate_schema(schema)
            validate_partition_columns(schema, metadata.partition_columns)
        self.new_metadata = metadata

    def _verify_schema_compat(self, actions: list[Action]) -> None:
        """Schema replacement rules (reference: trnx.go:390-426): compat
        unless this txn removes every active file (the
        removeFilesSet == allFilesSet escape at trnx.go:417-419)."""
        if self.new_metadata is None or self.snapshot is None:
            return
        try:
            existing = self.snapshot.metadata()
        except DeltaError:
            return
        if not existing.schema_string:
            return
        old = schema_from_json(existing.schema_string)
        new = self.new_metadata.schema()
        if new is None or is_write_compatible(old, new):
            return
        removes = {
            canonicalize_path(a.path, self.log.table_path)
            for a in actions
            if isinstance(a, RemoveFile)
        }
        all_files = {
            canonicalize_path(a.path, self.log.table_path)
            for a in self.snapshot.all_files()
        }
        # Equality alone (no non-empty guard): a table whose rows were all
        # deleted has zero active files, so ANY schema swap is trivially a
        # whole-table rewrite — no existing data file can disagree with the
        # new schema.  removes ⊄ all_files still fails the equality.
        if removes == all_files:
            # Taking the escape IS a whole-table read: the swap's validity
            # rests on "the active set is exactly what I removed", so a
            # winner's concurrent AddFile must fail this txn (conflict rule
            # 3) rather than survive as an old-schema file under the new
            # metadata.  Without this, a txn holding an emptied-table
            # snapshot could swap schemas right over a concurrent append.
            # require_serializable: the commit may carry no data-change
            # action at all (an emptied table being swapped), and only
            # Serializable runs rule 3 — see read_whole_table's docstring.
            self.read_whole_table(require_serializable=True)
            return  # rewriting the whole table: arbitrary schema change OK
        raise DeltaError("schema change is not write-compatible and the transaction "
                         "does not replace all files")

    # -- commit ------------------------------------------------------------
    def commit(
        self,
        actions: list[Action],
        operation: str = ops.MANUAL_UPDATE,
        engine_info: str | None = "delta-go-spark",
        operation_parameters: dict | None = None,
    ) -> int:
        """reference: trnx.go:144-224."""
        if self.committed:
            raise DeltaError("transaction already committed")
        actions = list(actions)

        # inline Metadata actions route through update_metadata
        metas = [a for a in actions if isinstance(a, Metadata)]
        if len(metas) > 1:
            raise DeltaError("more than one metadata action in a transaction")
        if metas and self.new_metadata is None:
            self.update_metadata(metas[0])
            actions = [a for a in actions if not isinstance(a, Metadata)]
        elif metas:
            raise DeltaError("metadata already set in this transaction")

        prepared = self._prepare_commit(actions)

        # isolation auto-pick (reference: trnx.go:166-179), escalated to
        # Serializable when a commit's VALIDITY depends on data it read
        # even though it changes none itself — set by
        # read_whole_table(require_serializable=True) at the declaration
        # site (ADD CONSTRAINT, REPLACE/overwrite/TRUNCATE/RESTORE and the
        # schema-swap escape) so concurrent appends conflict instead of
        # slipping under.
        data_changed = any(
            (isinstance(a, (AddFile, RemoveFile)) and a.data_change) for a in prepared
        )
        isolation = (
            SERIALIZABLE
            if data_changed or self._require_serializable
            else SNAPSHOT_ISOLATION
        )

        only_adds = all(isinstance(a, AddFile) for a in prepared if isinstance(a, (AddFile, RemoveFile)))
        depends_on_files = bool(self.read_predicates) or bool(self.read_files) or self.read_whole_table_flag
        blind_append = only_adds and not depends_on_files

        commit_info = CommitInfo(
            timestamp=self.log.clock.now_millis(),
            operation=operation,
            operation_parameters=operation_parameters or {},
            read_version=self.read_version if self.read_version >= 0 else None,
            isolation_level=isolation,
            is_blind_append=blind_append,
            engine_info=engine_info,
        )
        full = [commit_info] + prepared
        self._pending_removes = [a for a in prepared if isinstance(a, RemoveFile)]

        version = self._do_commit_retry(full, isolation)
        self.committed = True
        self._post_commit(version)
        return version

    def _prepare_commit(self, actions: list[Action]) -> list[Action]:
        """reference: trnx.go:428-539."""
        out: list[Action] = []
        protocol_present = False
        for a in actions:
            if isinstance(a, AddFile):
                a = self._relativize(a)  # removes are NOT relativized (log_test.go:601)
            if isinstance(a, Protocol):
                protocol_present = True
                if (a.min_reader_version, a.min_writer_version) != (READER_VERSION, WRITER_VERSION):
                    raise DeltaError(
                        f"unsupported protocol {a.min_reader_version}/{a.min_writer_version}; "
                        f"this writer is pinned to ({READER_VERSION},{WRITER_VERSION})"
                    )
            out.append(a)

        first_commit = self.snapshot is None or self.read_version < 0
        if first_commit:
            if self.new_metadata is None:
                raise DeltaError("metadata is required for the first commit of a table")
            if not protocol_present:
                out.insert(0, Protocol())
            if "://" not in self.log.log_path:
                os.makedirs(self.log.log_path, exist_ok=True)
            # object stores have no directories to create
        self._verify_schema_compat(out)
        if self.new_metadata is not None:
            out.insert(0, self.new_metadata)

        # partitionValues keys must equal the partition columns
        # (reference: trnx.go:515-524)
        meta = self.new_metadata
        if meta is None and self.snapshot is not None and self.read_version >= 0:
            try:
                meta = self.snapshot.metadata()
            except DeltaError:
                meta = None
        if meta is not None:
            expected = set(meta.partition_columns)
            for a in out:
                if isinstance(a, AddFile) and set(a.partition_values or {}) != expected:
                    raise DeltaError(
                        f"partition values {sorted(a.partition_values or {})} do not match "
                        f"partition columns {sorted(expected)} for {a.path}"
                    )
        # appendOnly blocks data-changing removes (reference: trnx.go:526-536)
        if meta is not None and cfg.get_bool(meta.configuration, cfg.IS_APPEND_ONLY):
            for a in out:
                if isinstance(a, RemoveFile) and a.data_change:
                    raise DeltaError("this table is append-only; removes with dataChange "
                                     "are not allowed")
        return out

    def _relativize(self, add: AddFile) -> AddFile:
        """AddFile paths are stored relative to the table root
        (reference: trnx.go:438-443, path/resolver.go:25-72)."""
        p = add.decoded_path()
        root = self.log.table_path
        if p.startswith("file:"):
            import re

            p = re.sub(r"^/+", "/", p[len("file:"):])
        if os.path.isabs(p):
            rel = os.path.relpath(p, root)
            if rel.startswith(".."):
                # outside the table: keep absolute (shallow-cloned tables)
                return add
            from delta_go_spark.actions import encode_path

            return AddFile(
                path=encode_path(rel),
                partition_values=add.partition_values,
                size=add.size,
                modification_time=add.modification_time,
                data_change=add.data_change,
                stats=add.stats,
                tags=add.tags,
            )
        return add

    def _do_commit_retry(self, actions: list[Action], isolation: str) -> int:
        """reference: trnx.go:541-576, 603-636."""
        attempt_version = self.read_version + 1
        attempts = 0
        while attempts < MAX_RETRIES:
            attempts += 1
            path = filenames.delta_file(self.log.log_path, attempt_version)
            try:
                self.log.store.write(path, [action_to_json(a) for a in actions], overwrite=False)
                return attempt_version
            except FileAlreadyExistsError:
                latest = self.log.update().version
                for v in range(attempt_version, latest + 1):
                    self._check_conflicts(v, isolation)
                attempt_version = latest + 1
        raise DeltaError("commit retry limit exceeded")

    def _check_conflicts(self, winning_version: int, isolation: str) -> None:
        """The six rules (reference: conflict_checker.go:108-243)."""
        path = filenames.delta_file(self.log.log_path, winning_version)
        winning = [
            a
            for a in (action_from_json(line) for line in self.log.store.read(path))
            if a is not None
        ]
        # 1. protocol (conflict_checker.go:125-144)
        for a in winning:
            if isinstance(a, Protocol):
                raise ProtocolChangedError(
                    f"version {winning_version} changed the protocol"
                )
        # 2. metadata (conflict_checker.go:146-151)
        for a in winning:
            if isinstance(a, Metadata):
                raise MetadataChangedError(
                    f"version {winning_version} changed the table metadata"
                )
        adds = [a for a in winning if isinstance(a, AddFile)]
        removes = [a for a in winning if isinstance(a, RemoveFile)]
        # 3. concurrent append vs my read predicates — Serializable only
        #    (conflict_checker.go:169-191)
        if isolation == SERIALIZABLE and (self.read_predicates or self.read_whole_table_flag):
            for a in adds:
                if self.read_whole_table_flag or self._matches_any_read_predicate(a):
                    raise ConcurrentAppendError(
                        f"version {winning_version} appended {a.path} which matches "
                        "files this transaction read"
                    )
        # 4. deleted a file I read (conflict_checker.go:193-213)
        for r in removes:
            key = canonicalize_path(r.path, self.log.table_path)
            if self.read_whole_table_flag or key in self.read_files:
                raise ConcurrentDeleteReadError(
                    f"version {winning_version} deleted {r.path} which this "
                    "transaction read"
                )
        # 5. both deleted the same file (conflict_checker.go:215-232)
        my_removes = {
            canonicalize_path(a.path, self.log.table_path)
            for a in self._pending_removes
        }
        for r in removes:
            if canonicalize_path(r.path, self.log.table_path) in my_removes:
                raise ConcurrentDeleteDeleteError(
                    f"version {winning_version} also deleted {r.path}"
                )
        # 6. idempotent-txn conflict (conflict_checker.go:234-243)
        for a in winning:
            if isinstance(a, SetTransaction) and a.app_id in self.read_txns:
                raise ConcurrentTransactionError(
                    f"version {winning_version} advanced appId {a.app_id} which this "
                    "transaction depends on"
                )

    def _matches_any_read_predicate(self, add: AddFile) -> bool:
        """Eval recorded pushed predicates over the winner's partition
        values (conflict_checker.go:153-167); non-boolean/NULL counts as a
        match (conservative)."""
        record = {k.lower(): v for k, v in (add.partition_values or {}).items()}
        for p in self.read_predicates:
            try:
                if p.eval(record) is not False:
                    return True
            except Exception:
                return True
        return False

    def _post_commit(self, version: int) -> None:
        """Checkpoint every checkpointInterval commits
        (reference: trnx.go:647-675)."""
        from delta_go_spark import checkpoint as ckpt_mod

        snap = self.log.update()
        try:
            meta = snap.metadata()
        except DeltaError:
            return
        interval = cfg.get_int(meta.configuration, cfg.CHECKPOINT_INTERVAL)
        if interval > 0 and version % interval == 0 and version > 0:
            target = (
                snap
                if snap.version == version
                else self.log.snapshot_for_version_as_of(version)
            )
            st = target.state()
            ckpt_mod.write_checkpoint(
                self.log.store,
                self.log.log_path,
                version,
                st.protocol,
                st.metadata,
                list(st.active_files.values()),
                list(st.tombstones.values()),
                list(st.set_transactions.values()),
            )
            if cfg.get_bool(meta.configuration, cfg.ENABLE_EXPIRED_LOG_CLEANUP):
                from delta_go_spark.maintenance import cleanup_expired_logs

                cleanup_expired_logs(self.log)
