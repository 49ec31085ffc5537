"""Snapshot reconstruction: log-segment discovery, action replay, table
state.

Reference: snapshot_reader.go (segment discovery + contiguity),
snapshot.go (state fold + P&M resolution), replay_action.go (replay
semantics), log_segment.go.

State is one in-memory fold on the driver (snapshot.go:224-297): the
checkpoint's actions, decoded column-wise one Arrow batch at a time,
then each JSON commit of the tail, folded newest-wins by canonical path
into a TableState.  Every consumer (scan, transaction, checkpoint
writer, DML) reads that one fold.  Protocol and metadata alone resolve
without it, by reverse replay over the tail and a column-projected read
of the checkpoint.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from urllib.parse import quote, unquote

from delta_go_spark import checkpoint as ckpt
from delta_go_spark import filenames
from delta_go_spark.actions import (
    Action,
    AddFile,
    CommitInfo,
    Metadata,
    Protocol,
    RemoveFile,
    SetTransaction,
    action_from_json,
)
from delta_go_spark.config import TOMBSTONE_RETENTION, Clock, get_millis
from delta_go_spark.store import LogStore


class DeltaError(Exception):
    pass


class InvalidProtocolVersionError(DeltaError):
    pass


@dataclass(frozen=True)
class LogSegment:
    """The files that reproduce one version
    (reference: log_segment.go:11-18)."""

    log_path: str
    version: int
    deltas: tuple[str, ...]  # ascending %020d.json paths
    checkpoints: tuple[str, ...]  # the chosen checkpoint's file(s)
    checkpoint_version: int | None
    last_commit_timestamp: int  # file mtime millis of newest delta


def verify_delta_versions(versions: list[int], expected_first: int | None = None) -> None:
    """Versions must be contiguous (reference: snapshot_reader.go:319-329)."""
    if not versions:
        return
    if expected_first is not None and versions[0] != expected_first:
        raise DeltaError(
            f"did not get the first delta file version {expected_first}, got {versions[0]}"
        )
    for a, b in zip(versions, versions[1:]):
        if b != a + 1:
            raise DeltaError(f"versions are not contiguous: gap between {a} and {b}")


def get_log_segment_for_version(
    store: LogStore,
    log_path: str,
    start_checkpoint: int | None = None,
    version_to_load: int | None = None,
) -> LogSegment:
    """List from the checkpoint anchor, pick the newest complete checkpoint
    <= target, keep contiguous deltas after it
    (reference: snapshot_reader.go:133-268)."""
    anchor = filenames.checkpoint_prefix(log_path, start_checkpoint or 0)
    try:
        listed = list(store.list_from(anchor))
    except FileNotFoundError:
        raise DeltaError(f"empty directory: no delta log at {log_path}") from None

    deltas_all = []
    checkpoint_cands = []
    for m in listed:
        name = os.path.basename(m.path)
        if filenames.is_delta_file(name):
            if version_to_load is None or filenames.delta_version(name) <= version_to_load:
                deltas_all.append(m)
        elif filenames.is_checkpoint_file(name) and m.size > 0:
            checkpoint_cands.append(m.path)

    if not deltas_all and not checkpoint_cands:
        if start_checkpoint is not None:
            # stale _last_checkpoint pointing past reality: retry from scratch
            return get_log_segment_for_version(store, log_path, None, version_to_load)
        raise DeltaError(f"empty directory: no log files at {log_path}")

    chosen = ckpt.latest_complete_checkpoint(checkpoint_cands, not_later_than=version_to_load)
    if chosen is None and start_checkpoint is not None:
        # the anchor promised a checkpoint we can't assemble -> full search
        chosen = ckpt.find_last_complete_checkpoint_before(store, log_path, version_to_load)
        if chosen is None:
            return get_log_segment_for_version(store, log_path, None, version_to_load)

    checkpoint_version = chosen.version if chosen else None
    deltas_after = [
        m
        for m in deltas_all
        if checkpoint_version is None
        or filenames.delta_version(os.path.basename(m.path)) > checkpoint_version
    ]
    deltas_after.sort(key=lambda m: m.path)
    versions = [filenames.delta_version(os.path.basename(m.path)) for m in deltas_after]
    expected_first = checkpoint_version + 1 if checkpoint_version is not None else None
    if versions:
        verify_delta_versions(versions, expected_first)
        new_version = versions[-1]
    elif checkpoint_version is not None:
        new_version = checkpoint_version
    else:
        raise DeltaError(f"empty directory: no usable log files at {log_path}")

    if version_to_load is not None and new_version != version_to_load:
        raise DeltaError(
            f"cannot time travel to version {version_to_load}: log only reproduces {new_version}"
        )

    checkpoint_paths = tuple(ckpt.checkpoint_files_of(chosen, log_path)) if chosen else ()
    last_ts = deltas_after[-1].modification_time if deltas_after else 0
    if not deltas_after and chosen:
        for m in listed:
            if m.path in checkpoint_paths:
                last_ts = max(last_ts, m.modification_time)
    return LogSegment(
        log_path=log_path,
        version=new_version,
        deltas=tuple(m.path for m in deltas_after),
        checkpoints=checkpoint_paths,
        checkpoint_version=checkpoint_version,
        last_commit_timestamp=last_ts,
    )


def canonicalize_path(path: str, table_root: str) -> str:
    """Canonical key for replay dedup (reference:
    internal/util/path/resolver.go:87-126): percent-decode, resolve
    relative paths against the table root, normalize file URIs."""
    p = unquote(path)
    if p.startswith("file:"):
        # file:/abs, file://abs and file:///abs all mean a local absolute
        # path (resolver.go:87-126 parses them as URIs)
        rest = p[len("file:"):]
        if rest.startswith("/"):
            rest = "/" + rest.lstrip("/")
        return os.path.normpath(rest)
    if "://" in p:
        return p
    if os.path.isabs(p):
        return os.path.normpath(p)
    if "://" in table_root:
        # cloud root: plain join — os.path.normpath would collapse the
        # scheme's double slash (s3:// -> s3:/)
        return f"{table_root.rstrip('/')}/{p}"
    return os.path.normpath(os.path.join(table_root, p))


@dataclass
class TableState:
    """Result of the replay fold (reference: snapshot.go:39-47)."""

    protocol: Protocol | None = None
    metadata: Metadata | None = None
    active_files: dict[str, AddFile] = field(default_factory=dict)  # canonical path -> add
    tombstones: dict[str, RemoveFile] = field(default_factory=dict)
    set_transactions: dict[str, SetTransaction] = field(default_factory=dict)

    @property
    def size_in_bytes(self) -> int:
        return sum(a.size for a in self.active_files.values())


class InMemoryLogReplay:
    """Forward fold of actions into table state
    (reference: replay_action.go:63-119).

    Semantics: later add of the same canonical path wins; a remove drops
    the path from active and becomes a tombstone (expiring after the
    retention window); later metadata/protocol/txn replace earlier."""

    def __init__(self, table_root: str, min_file_retention_ts: int = 0):
        self.table_root = table_root
        self.min_retention = min_file_retention_ts
        self.state = TableState()

    def append(self, actions) -> None:  # any iterable of actions
        for a in actions:
            if isinstance(a, SetTransaction):
                self.state.set_transactions[a.app_id] = a
            elif isinstance(a, Metadata):
                self.state.metadata = a
            elif isinstance(a, Protocol):
                self.state.protocol = a
            elif isinstance(a, AddFile):
                key = canonicalize_path(a.path, self.table_root)
                self.state.active_files[key] = a
                self.state.tombstones.pop(key, None)
            elif isinstance(a, RemoveFile):
                key = canonicalize_path(a.path, self.table_root)
                self.state.active_files.pop(key, None)
                if (a.deletion_timestamp or 0) > self.min_retention:
                    self.state.tombstones[key] = a
            # CommitInfo / AddCDCFile don't contribute to state.


def iter_segment_actions(store: LogStore, segment: LogSegment):
    """All actions of a segment in ascending file order — checkpoint files
    first, then each delta (reference: snapshot.go:224-263) — as a
    GENERATOR: nothing beyond one arrow batch / one commit file's lines is
    ever materialized, mirroring the reference's streaming replay
    (replay_file.go:70-140).  On a table with a huge JSON tail the fold's
    memory is the folded state itself, not the action stream."""
    if segment.checkpoints:
        yield from ckpt.iter_checkpoint_actions(list(segment.checkpoints), store)
    for path in segment.deltas:
        for line in store.read(path):
            a = action_from_json(line)
            if a is not None:
                yield a


class Snapshot:
    """Immutable view of the table at one version
    (reference: snapshot.go:28-123)."""

    def __init__(
        self,
        store: LogStore,
        segment: LogSegment,
        table_root: str,
        clock: Clock | None = None,
    ):
        self.store = store
        self.segment = segment
        self.table_root = table_root
        self.clock = clock or Clock()
        self._lock = threading.RLock()  # state() -> metadata() re-enters
        self._state: TableState | None = None
        self._pm: tuple[Protocol, Metadata] | None = None

    @property
    def version(self) -> int:
        return self.segment.version

    @property
    def timestamp(self) -> int:
        return self.segment.last_commit_timestamp

    # -- protocol & metadata: reverse replay, early exit
    #    (reference: snapshot.go:182-222)
    def _resolve_pm(self) -> tuple[Protocol, Metadata]:
        if self._pm is not None:
            return self._pm
        with self._lock:
            if self._pm is not None:
                return self._pm
            protocol: Protocol | None = None
            metadata: Metadata | None = None
            for batch in self._reverse_batches():
                for a in reversed(batch):
                    if protocol is None and isinstance(a, Protocol):
                        protocol = a
                    elif metadata is None and isinstance(a, Metadata):
                        metadata = a
                if protocol is not None and metadata is not None:
                    break
            if protocol is None:
                raise DeltaError(
                    f"protocol action not found in version {self.version}"
                )
            if metadata is None:
                raise DeltaError(
                    f"metadata action not found in version {self.version}"
                )
            assert_protocol_read_compatible(protocol)
            self._pm = (protocol, metadata)
            return self._pm

    def _reverse_batches(self):
        for path in reversed(self.segment.deltas):
            yield [
                a
                for a in (action_from_json(line) for line in self.store.read(path))
                if a is not None
            ]
        if self.segment.checkpoints:
            # Column-projected: the reverse P&M search needs only the
            # protocol/metaData rows, so read just those parquet columns —
            # never the add/remove payload (O(KB), not O(#files), on a
            # million-file checkpoint).
            yield list(
                ckpt.iter_checkpoint_actions(
                    list(self.segment.checkpoints),
                    self.store,
                    columns=["protocol", "metaData"],
                )
            )

    def protocol(self) -> Protocol:
        return self._resolve_pm()[0]

    def metadata(self) -> Metadata:
        return self._resolve_pm()[1]

    # -- full state fold, lazily memoized (reference: snapshot.go:265-297,
    #    internal/util/lazy.go)
    def min_file_retention_ts(self) -> int:
        """Tombstone-expiry cutoff (millis): now - retention window."""
        try:
            meta = self.metadata()
            retention_ms = get_millis(meta.configuration, TOMBSTONE_RETENTION)
            return self.clock.now_millis() - retention_ms
        except DeltaError:
            return 0

    def state(self) -> TableState:
        if self._state is not None:
            return self._state
        with self._lock:
            if self._state is not None:
                return self._state
            retention = self.min_file_retention_ts()
            replay = InMemoryLogReplay(self.table_root, retention)
            replay.append(iter_segment_actions(self.store, self.segment))
            st = replay.state
            if st.protocol is None:
                raise DeltaError(f"protocol action not found in version {self.version}")
            if st.metadata is None:
                raise DeltaError(f"metadata action not found in version {self.version}")
            self._state = st
            return st

    def all_files(self) -> list[AddFile]:
        """Active AddFiles sorted by path (reference: snapshot.go:121-123,
        299-305)."""
        return sorted(self.state().active_files.values(), key=lambda a: a.path)

    def tombstones(self) -> list[RemoveFile]:
        return sorted(self.state().tombstones.values(), key=lambda r: r.path)

    def set_transactions(self) -> list[SetTransaction]:
        return list(self.state().set_transactions.values())

    def num_of_files(self) -> int:
        return len(self.state().active_files)

    # -- data plane -------------------------------------------------------
    def absolute_data_paths(self) -> list[str]:
        return [
            canonicalize_path(a.path, self.table_root) for a in self.all_files()
        ]

    def to_df(self, spark):
        """The data plane the reference delegates (README.md:14-16):
        read the active parquet files with the snapshot's declared schema.

        Partition values live in the file paths/log, not necessarily in the
        files; partition columns are injected per-file from the log so the
        DataFrame matches the declared schema exactly."""
        from delta_go_spark.datareader import snapshot_to_df

        return snapshot_to_df(self, spark)

    def scan(self, predicate=None):
        from delta_go_spark.scan import DeltaScan

        return DeltaScan(self, predicate)


def assert_protocol_read_compatible(protocol: Protocol) -> None:
    """reference: conflict_checker.go:245-250."""
    from delta_go_spark.actions import READER_VERSION

    if protocol.min_reader_version > READER_VERSION:
        raise InvalidProtocolVersionError(
            f"table requires reader version {protocol.min_reader_version}; "
            f"this client supports up to {READER_VERSION}"
        )


def encode_rel_path(path: str) -> str:
    return quote(path, safe="/")

