"""Snapshot reconstruction: log-segment discovery, action replay, table
state.

Reference: snapshot_reader.go (segment discovery + contiguity),
snapshot.go (state fold + P&M resolution), replay_action.go (replay
semantics), log_segment.go.

Scale note: the log tail since the last checkpoint is small by
construction (checkpoint every 10 commits), so the state fold is plain
Python on the driver.  For tables whose *checkpoint* is huge (millions of
files), `files_df()` exposes the active-file list as a Spark DataFrame read
straight from the checkpoint parquet + JSON tail, so no file list need ever
materialize on the driver.
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
    import re

    p = unquote(path)
    if p.startswith("file:"):
        # file:/abs, file://abs and file:///abs all mean a local absolute
        # path (resolver.go:87-126 parses them as URIs)
        return os.path.normpath(re.sub(r"^/+", "/", p[len("file:"):]))
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
        self._est_count: int | None = None
        self._txns_lite: list[SetTransaction] | None = None

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

    def estimated_file_count(self) -> int:
        """Upper bound on active files WITHOUT folding state: checkpoint
        parquet footer row counts (O(footer bytes), no data pages) + tail
        JSON line counts (the tail is read during any fold anyway).  Rows
        also cover removes/txns/protocol/metadata, so this over-estimates —
        the safe direction for routing to the distributed tier."""
        if self._est_count is not None:
            return self._est_count
        n = 0
        if self.segment.checkpoints:
            n += ckpt.checkpoint_num_rows(
                list(self.segment.checkpoints), self.store
            )
        for path in self.segment.deltas:
            n += sum(1 for _ in self.store.read(path))
        self._est_count = n
        return n

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


def _canonical_key_udf(table_root: str):
    """Spark-side canonical replay key: the SAME :func:`canonicalize_path`
    the driver fold keys on (replay_action.go:80-116 / resolver.go:87-126),
    run as an Arrow-batched pandas UDF so the distributed state tier can
    never disagree with the driver tier on file identity (an AddFile
    logged relative+percent-encoded and its RemoveFile logged absolute
    must collapse to one replay key in BOTH tiers).  Path columns are
    metadata-sized (one row per log action), so the Python batch cost is
    noise next to the log read itself."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: `pd` is imported function-locally here, so string
    # annotations (PEP 563 is on module-wide) would not resolve and Spark's
    # hint inference raises UNSUPPORTED_SIGNATURE — the explicit returnType
    # legacy form sidesteps it.
    def _canon(paths):
        return paths.map(
            lambda p: None if p is None else canonicalize_path(p, table_root)
        )

    return pandas_udf(_canon, "string")


_ADD_STRUCT_DDL = (
    "struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "modificationTime:bigint,dataChange:boolean,stats:string,"
    "tags:map<string,string>>"
)


def checkpoint_adds_df(spark, snapshot: "Snapshot"):
    """Active AddFiles with their COMPLETE action payload (partition
    values, stats, tags), reconstructed as a Spark job — the scale path
    of state reconstruction, used by the distributed scan and the
    checkpoint writer.

    The checkpoint parquet + tail JSON commits are read with Spark and
    newest-action-per-path is resolved with one window (over the
    canonical path, version desc, add-beats-remove within a version —
    the newest-wins/tombstone rule of replay_action.go:80-116), carrying
    the full add struct in the parquet checkpoint layout so the result
    can be written straight into multi-part checkpoint files without the
    driver ever materializing the file list.  JSON-sourced partitionValues/tags arrive as structs
    (Spark's JSON inference) and are converted to the checkpoint's
    map<string,string> form; checkpoint-sourced rows already match.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType, StructType

    seg = snapshot.segment
    null_add = F.lit(None).cast(_ADD_STRUCT_DDL)
    parts = []
    if seg.checkpoints:
        ck = spark.read.parquet(*[p for p in seg.checkpoints])
        cols = ck.columns
        parts.append(
            ck.select(
                (F.col("add").cast(_ADD_STRUCT_DDL) if "add" in cols else null_add).alias("add"),
                (F.col("remove.path") if "remove" in cols else F.lit(None).cast("string")).alias("rm_path"),
                F.lit(seg.checkpoint_version or -1).cast("long").alias("version"),
            )
        )
    for path in seg.deltas:
        v = int(os.path.basename(path).split(".")[0])
        dj = spark.read.json(path)
        cols = dj.columns
        if "add" not in cols:
            add_col = null_add
        else:
            afields = {f.name: f for f in dj.schema["add"].dataType.fields}

            def _as_map(field: str, _af=afields) -> "F.Column":
                if field not in _af:
                    return F.lit(None).cast("map<string,string>")
                dt = _af[field].dataType
                if isinstance(dt, MapType):
                    return F.col(f"add.{field}").cast("map<string,string>")
                if isinstance(dt, StructType):
                    ks = dt.fieldNames()
                    if not ks:
                        return F.expr("map()").cast("map<string,string>")
                    return F.map_from_arrays(
                        F.array(*[F.lit(k) for k in ks]),
                        F.array(
                            *[F.col(f"add.{field}.{k}").cast("string") for k in ks]
                        ),
                    )
                return F.lit(None).cast("map<string,string>")

            def _fld(field: str, typ: str, _af=afields) -> "F.Column":
                if field not in _af:
                    return F.lit(None).cast(typ)
                return F.col(f"add.{field}").cast(typ)

            add_col = F.when(
                F.col("add.path").isNotNull(),
                F.struct(
                    F.col("add.path").alias("path"),
                    _as_map("partitionValues").alias("partitionValues"),
                    _fld("size", "bigint").alias("size"),
                    _fld("modificationTime", "bigint").alias("modificationTime"),
                    _fld("dataChange", "boolean").alias("dataChange"),
                    _fld("stats", "string").alias("stats"),
                    _as_map("tags").alias("tags"),
                ),
            ).otherwise(null_add)
        parts.append(
            dj.select(
                add_col.alias("add"),
                (
                    F.col("remove.path")
                    if "remove" in cols
                    else F.lit(None).cast("string")
                ).alias("rm_path"),
                F.lit(v).cast("long").alias("version"),
            )
        )
    if not parts:
        return spark.createDataFrame([], f"add {_ADD_STRUCT_DDL}").select("add")
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    canon = _canonical_key_udf(snapshot.table_root)
    events = union.select(
        "add",
        F.coalesce(F.col("add.path"), F.col("rm_path")).alias("path"),
        "version",
        F.col("add.path").isNotNull().alias("is_add"),
    ).filter(F.col("path").isNotNull())
    # Canonical replay key, matching the driver fold: mixed spellings
    # (relative percent-encoded add vs absolute remove) dedup exactly like
    # InMemoryLogReplay.
    events = events.withColumn("_ckey", canon(F.col("path")))
    w = Window.partitionBy("_ckey").orderBy(F.desc("version"), F.desc("is_add"))
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & F.col("is_add"))
        .select("add")
    )


# ---------------------------------------------------------------------------
# Distributed state fold (round 6): route every state consumer on the DML /
# commit / checkpoint path away from the driver-side AddFile dict when the
# table is large.  The reference folds in memory (snapshot.go:224-297) —
# fine for its connector role; at a million-file 100 TB table that is
# GB-scale driver state on every commit, so above the threshold:
#   - candidate files  -> Spark job over checkpoint_adds_df (scan.py)
#   - checkpoint write -> write_checkpoint_spark (checkpoint.py:528)
#   - protocol/metadata -> column-projected reverse replay (never the
#     add/remove payload)
#   - txn / tombstone state -> the "lite" folds below: column-pruned
#     checkpoint reads, O(non-add rows + tail), bounded driver memory.

DISTRIBUTED_STATE_THRESHOLD_CONF = "spark.delta_go.state.distributedFileThreshold"


def distributed_state_threshold(spark) -> int:
    try:
        return int(spark.conf.get(DISTRIBUTED_STATE_THRESHOLD_CONF, "200000"))
    except Exception:
        return 200_000


def spark_can_read_log(spark, log_path: str) -> bool:
    """Spark itself can list/read the log files: local paths always; cloud
    URIs only with a native Hadoop connector; never a register_store-bound
    fake (driver-process state is invisible to executors)."""
    from delta_go_spark.datacloud import use_native_cloud
    from delta_go_spark.store import has_registered_binding

    if has_registered_binding(log_path):
        return False
    return "://" not in log_path or use_native_cloud(spark, log_path)


def use_distributed_state(spark, snapshot: "Snapshot | None") -> bool:
    """True when state consumers should run as Spark jobs instead of
    folding the AddFile dict on the driver: a live session that can read
    the log, an un-folded snapshot (an existing fold is free to reuse),
    and an estimated file count over the threshold."""
    if spark is None or snapshot is None or snapshot.version < 0:
        return False
    if snapshot._state is not None:
        return False
    threshold = distributed_state_threshold(spark)
    if threshold <= 0:
        return False
    if not spark_can_read_log(spark, snapshot.segment.log_path):
        return False
    try:
        return snapshot.estimated_file_count() >= threshold
    except Exception:
        return False


def set_transactions_lite(snapshot: "Snapshot") -> list[SetTransaction]:
    """SetTransaction state WITHOUT the full fold: column-pruned checkpoint
    read (txn pages only, nulls dropped Arrow-side) + tail JSON replay —
    O(#apps + tail), never O(#files).  Same newest-wins semantics as
    InMemoryLogReplay (later action replaces earlier).  Memoized on the
    snapshot — a streaming writer probing txn_version per micro-batch
    must not re-read the checkpoint txn pages every call."""
    if snapshot._txns_lite is not None:
        return snapshot._txns_lite
    txns: dict[str, SetTransaction] = {}
    seg = snapshot.segment
    if seg.checkpoints:
        for a in ckpt.iter_checkpoint_actions(
            list(seg.checkpoints), snapshot.store, columns=["txn"]
        ):
            if isinstance(a, SetTransaction):
                txns[a.app_id] = a
    for path in seg.deltas:
        for line in snapshot.store.read(path):
            a = action_from_json(line)
            if isinstance(a, SetTransaction):
                txns[a.app_id] = a
    snapshot._txns_lite = list(txns.values())
    return snapshot._txns_lite


def tombstones_lite(
    snapshot: "Snapshot", min_file_retention_ts: int | None = None
) -> list[RemoveFile]:
    """Unexpired tombstones WITHOUT the full fold: column-pruned checkpoint
    read (remove pages only) + tail replay, O(#tombstones + tail).

    Replay-exact under the checkpoint invariant that a spec-compliant
    writer emits disjoint add/remove sets (a checkpoint is folded state,
    so no path appears as both) — tail adds still pop re-added paths and
    tail removes insert, exactly like InMemoryLogReplay."""
    if min_file_retention_ts is None:
        min_file_retention_ts = snapshot.min_file_retention_ts()
    tomb: dict[str, RemoveFile] = {}
    seg = snapshot.segment
    root = snapshot.table_root
    if seg.checkpoints:
        for a in ckpt.iter_checkpoint_actions(
            list(seg.checkpoints), snapshot.store, columns=["remove"]
        ):
            if isinstance(a, RemoveFile) and (
                (a.deletion_timestamp or 0) > min_file_retention_ts
            ):
                tomb[canonicalize_path(a.path, root)] = a
    for path in seg.deltas:
        for line in snapshot.store.read(path):
            a = action_from_json(line)
            if isinstance(a, AddFile):
                tomb.pop(canonicalize_path(a.path, root), None)
            elif isinstance(a, RemoveFile):
                if (a.deletion_timestamp or 0) > min_file_retention_ts:
                    tomb[canonicalize_path(a.path, root)] = a
    return list(tomb.values())
