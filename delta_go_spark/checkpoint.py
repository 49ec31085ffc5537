"""Parquet checkpoints: _last_checkpoint discovery, complete-checkpoint
selection, columnar read/write via pyarrow.

Reading: iter_checkpoint_actions streams one Arrow batch at a time and
decodes it column-wise.  The add and remove structs (the O(table)
columns) are never turned into per-row dicts: each struct's null rows are
dropped in Arrow, each child column is looked up by name and converted to
Python once (maps from their offsets and flattened keys/items), and the
actions are built by index.  The few metaData / protocol / txn rows keep
per-row constructors.  Actions come out in parquet row order, and memory
is bounded by one batch.  Full and column-projected reads share the one
decoder.

Writing: a SINGLE parquet file (or a multi-part group) with the fixed
nested action schema — pyarrow gives byte-level control that
df.write.parquet (part-files + _SUCCESS) does not.  Tombstones carry the
protocol's extendedFileMetadata / partitionValues / size, so a remove
folded from a checkpoint keeps them, as one folded from JSON does.

Reference: checkpoint.go (metadata + discovery), checkpoint_reader.go:87-216
(the fixed nested action schema), checkpoint_writer.go:19-94.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from delta_go_spark import filenames
from delta_go_spark.actions import (
    Action,
    AddFile,
    Format,
    Metadata,
    Protocol,
    RemoveFile,
    SetTransaction,
)
from delta_go_spark.store import LogStore


@dataclass(frozen=True)
class CheckpointInstance:
    """Identity of a checkpoint (version, parts); ordering = (version,
    parts) (reference: checkpoint.go:28-66)."""

    version: int
    parts: int | None = None  # None = single-file

    def key(self) -> tuple[int, int]:
        return (self.version, self.parts or 0)


@dataclass(frozen=True)
class CheckpointMetadata:
    """_last_checkpoint contents (reference: checkpoint.go:16-26)."""

    version: int
    size: int
    parts: int | None = None


def last_checkpoint_path(log_path: str) -> str:
    import os

    return os.path.join(log_path, filenames.LAST_CHECKPOINT)


def load_last_checkpoint(
    store: LogStore, log_path: str, retries: int = 3, retry_sleep_sec: float = 1.0
) -> CheckpointMetadata | None:
    """Read _last_checkpoint with retries (object stores can briefly expose
    partial writes; reference: checkpoint.go:95-141).  Returns None when
    absent or unparseable after retries — callers fall back to a full
    listing search."""
    path = last_checkpoint_path(log_path)
    for attempt in range(retries):
        if not store.exists(path):
            return None
        try:
            lines = store.read(path)
            o = json.loads("".join(lines))
            return CheckpointMetadata(o["version"], o.get("size", 0), o.get("parts"))
        except (ValueError, KeyError, OSError):
            if attempt < retries - 1:
                time.sleep(retry_sleep_sec)
    return None


def checkpoint_files_of(instance: CheckpointInstance, log_path: str) -> list[str]:
    if instance.parts:
        return filenames.checkpoint_file_parts(log_path, instance.version, instance.parts)
    return [filenames.checkpoint_file_single(log_path, instance.version)]


def latest_complete_checkpoint(
    candidates: list[str], not_later_than: int | None = None
) -> CheckpointInstance | None:
    """Pick the newest checkpoint (<= bound) with ALL its parts present
    (reference: checkpoint.go:214-245)."""
    singles: list[int] = []
    parts_seen: dict[tuple[int, int], set[int]] = {}
    for p in candidates:
        if not filenames.is_checkpoint_file(p):
            continue
        v = filenames.checkpoint_version(p)
        if not_later_than is not None and v > not_later_than:
            continue
        part, total = filenames.checkpoint_part(p)
        if part is None:
            singles.append(v)
        else:
            parts_seen.setdefault((v, total), set()).add(part)
    complete: list[CheckpointInstance] = [CheckpointInstance(v) for v in singles]
    complete += [
        CheckpointInstance(v, total)
        for (v, total), seen in parts_seen.items()
        if len(seen) == total
    ]
    if not complete:
        return None
    return max(complete, key=CheckpointInstance.key)


def find_last_complete_checkpoint_before(
    store: LogStore, log_path: str, version_bound: int | None = None
) -> CheckpointInstance | None:
    """Full-listing fallback search, walking down in 1000-version strides
    (reference: checkpoint.go:156-196)."""
    import os

    cur = version_bound if version_bound is not None else (1 << 62)
    while cur >= 0:
        start_v = max(0, cur - 1000)
        start = os.path.join(log_path, f"{start_v:020d}")
        try:
            names = [m.path for m in store.list_from(start)]
        except FileNotFoundError:
            return None
        cands = [
            p
            for p in names
            if filenames.is_checkpoint_file(p)
            and (version_bound is None or filenames.checkpoint_version(p) <= version_bound)
            and filenames.checkpoint_version(p) <= cur
        ]
        found = latest_complete_checkpoint(cands, not_later_than=cur)
        if found:
            return found
        if start_v == 0:
            return None
        cur = start_v - 1


# ---------------------------------------------------------------------------
# Parquet read/write

def _row_to_action(row: dict) -> Action | None:
    """One metaData / protocol / txn checkpoint row -> action (reference:
    checkpoint_reader.go:43-85).  These rows are O(1) + O(#apps) per
    checkpoint, so they keep a per-row constructor; add and remove rows
    are built column-wise by _decode_batch."""
    if row.get("metaData") is not None:
        m = row["metaData"]
        fmt = m.get("format") or {}
        return Metadata(
            id=m.get("id", ""),
            name=m.get("name"),
            description=m.get("description"),
            format=Format(
                (fmt.get("provider") or "parquet"),
                _map_to_dict(fmt.get("options")) or {},
            ),
            schema_string=m.get("schemaString", ""),
            partition_columns=list(m.get("partitionColumns") or []),
            configuration=_map_to_dict(m.get("configuration")) or {},
            created_time=m.get("createdTime"),
        )
    if row.get("protocol") is not None:
        p = row["protocol"]
        return Protocol(p.get("minReaderVersion", 0), p.get("minWriterVersion", 0))
    if row.get("txn") is not None:
        t = row["txn"]
        return SetTransaction(t.get("appId", ""), t.get("version", 0), t.get("lastUpdated"))
    return None


class _RangedStoreFile:
    """pyarrow-compatible random-access file over LogStore ranged reads:
    each read() is one ranged GET, so ParquetFile streams footer + row
    groups without ever materializing the whole object."""

    def __init__(self, store: LogStore, path: str):
        self._store = store
        self._path = path
        self._size = store.size_of(path)
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        else:
            self._pos = self._size + offset
        return self._pos

    def read(self, nbytes: int = -1) -> bytes:
        if nbytes is None or nbytes < 0:
            nbytes = self._size - self._pos
        nbytes = max(0, min(nbytes, self._size - self._pos))
        if nbytes == 0:
            return b""
        data = self._store.read_range(self._path, self._pos, nbytes)
        self._pos += len(data)
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def close(self) -> None:
        self.closed = True

    def flush(self) -> None:
        pass


def _open_checkpoint_parquet(path: str, store: LogStore):
    """ParquetFile over a checkpoint part.  pyarrow opens a plain local
    path directly; a URI (a cloud store, or a store mapping its own
    scheme onto local files) is read through the store — ranged reads
    when it has them, otherwise one buffered download."""
    if "://" not in path:
        return pq.ParquetFile(path)
    if type(store).read_range is not LogStore.read_range:
        # ranged reads: stream footer + row groups, one read per call
        return pq.ParquetFile(
            pa.PythonFile(_RangedStoreFile(store, path), mode="r")
        )
    # only the abstract surface: its default read_range re-downloads the
    # WHOLE object per call — one buffered download is strictly better
    return pq.ParquetFile(pa.BufferReader(store.read_bytes(path)))


def iter_checkpoint_actions(
    paths: list[str],
    store: LogStore,
    batch_size: int = 10_000,
    columns: list[str] | None = None,
):
    """Stream checkpoint actions, one Arrow batch at a time, decoded
    column-wise.

    Order: parts in the order given, and within a part the parquet row
    order — exactly the row-wise replay order of the reference
    (replay_file.go:70-140).  A row carrying more than one action column
    yields one action, with add > remove > metaData > protocol > txn
    precedence; commitInfo / cdc / unknown columns are never read.

    Memory: the ceiling is one Arrow batch plus the actions decoded from
    it, never the whole checkpoint.  Cloud stores stream through ranged
    GETs (_RangedStoreFile); local tables stream from the filesystem.

    `columns` projects top-level action columns (parquet column pruning):
    a caller that only needs protocol/metadata/txn rows reads those
    columns' pages only, never the add/remove payload — O(KB) instead of
    O(checkpoint) I/O on a million-file table.  Full and projected reads
    share one decoder (_decode_batch), which drops each column's null rows
    in Arrow before building any Python object."""
    wanted = _ACTION_COLUMNS if columns is None else columns
    for path in paths:
        pf = _open_checkpoint_parquet(path, store)
        avail = set(pf.schema_arrow.names)
        cols = [c for c in wanted if c in avail]
        if not cols:
            continue
        for batch in pf.iter_batches(batch_size, columns=cols):
            yield from _decode_batch(batch)


# Decode precedence, lowest first: a later column overwrites an earlier one
# in the same row (add > remove > metaData > protocol > txn).
_ACTION_COLUMNS = ["txn", "protocol", "metaData", "remove", "add"]
_SMALL_COLUMNS = ["txn", "protocol", "metaData"]


def _decode_batch(batch: pa.RecordBatch) -> list[Action]:
    """One Arrow batch -> its actions, in row order.

    add and remove (the O(table) columns) are decoded child column by
    child column: each struct's null rows are dropped first, each child
    is looked up by name (so a foreign writer's field order, missing
    optional fields and extra fields — deletionVector, stats_parsed —
    are all handled) and converted to Python once.  The few metaData /
    protocol / txn rows go through _row_to_action."""
    names = batch.schema.names
    # (valid-row mask, actions) per column group, lowest precedence first
    groups: list[tuple] = []
    small = [c for c in _SMALL_COLUMNS if c in names]
    if small:
        keep, rows = _valid_rows(batch.select(small))
        groups.append((keep, [_row_to_action(row) for row in rows.to_pylist()]))
    if "remove" in names:
        keep, r = _valid_rows(batch.column("remove"))
        groups.append((keep, [
            RemoveFile(
                path=path,
                deletion_timestamp=ts,
                data_change=bool(dc),
                extended_file_metadata=bool(ext),
                partition_values=pv,
                size=size,
            )
            for path, ts, dc, ext, pv, size in zip(
                _child_values(r, "path"),
                _child_values(r, "deletionTimestamp"),
                _child_values(r, "dataChange"),
                _child_values(r, "extendedFileMetadata"),
                _child_maps(r, "partitionValues", keep_null=True),
                _child_values(r, "size"),
            )
        ]))
    if "add" in names:
        keep, a = _valid_rows(batch.column("add"))
        groups.append((keep, [
            AddFile(
                path=path,
                partition_values=pv,
                size=size or 0,
                modification_time=mtime or 0,
                data_change=bool(dc),
                stats=stats,
                tags=tags or None,
            )
            for path, pv, size, mtime, dc, stats, tags in zip(
                _child_values(a, "path"),
                _child_maps(a, "partitionValues"),
                _child_values(a, "size"),
                _child_values(a, "modificationTime"),
                _child_values(a, "dataChange"),
                _child_values(a, "stats"),
                _child_maps(a, "tags"),
            )
        ]))
    groups = [g for g in groups if g[1]]
    if len(groups) == 1:
        return groups[0][1]  # already in row order
    out: list[Action | None] = [None] * batch.num_rows
    for keep, actions in groups:
        idx = (
            range(len(out)) if keep is None else pc.indices_nonzero(keep).to_pylist()
        )
        for i, action in zip(idx, actions):
            out[i] = action
    return [x for x in out if x is not None]


def _valid_rows(arr):
    """(mask, rows) of a struct array or record batch with its all-null
    rows dropped; the mask is None when no row was dropped."""
    if isinstance(arr, pa.RecordBatch):
        keep = arr.column(0).is_valid()
        for c in arr.columns[1:]:
            keep = pc.or_(keep, c.is_valid())
    elif arr.null_count == 0:
        return None, arr
    else:
        keep = arr.is_valid()
    return keep, arr.filter(keep)


def _child(struct: pa.StructArray, name: str):
    i = struct.type.get_field_index(name)
    return struct.field(i) if i >= 0 else None


def _child_values(struct: pa.StructArray, name: str) -> list:
    """A scalar child as a Python list; an absent field reads as all null
    (a missing `path` raises, as a row-wise `a["path"]` would)."""
    child = _child(struct, name)
    if child is None:
        if name == "path":
            raise KeyError(name)
        return [None] * len(struct)
    return _pylist(child)


def _pylist(arr: pa.Array) -> list:
    """arr.to_pylist(), through numpy where that gives the same Python
    values about 10x faster: strings and bools (a null reads as None),
    and integers without nulls (numpy would turn a null into NaN)."""
    t = arr.type
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_boolean(t)
        or (pa.types.is_integer(t) and arr.null_count == 0)
    ):
        return arr.to_numpy(zero_copy_only=False).tolist()
    return arr.to_pylist()


def _child_maps(
    struct: pa.StructArray, name: str, keep_null: bool = False
) -> list[dict | None]:
    """A map<string,string> child as one dict per row, from its offsets
    and flattened keys/items.  An empty map reads as {}; a null slot and
    an absent field read as {}, or as None with `keep_null` (a remove's
    optional partitionValues, as its JSON form folds)."""
    m = _child(struct, name)
    if m is None:
        return [None if keep_null else {} for _ in range(len(struct))]
    offs = _pylist(m.offsets)
    lo, hi = offs[0], offs[-1]
    keys = _pylist(m.keys.slice(lo, hi - lo))
    items = _pylist(m.items.slice(lo, hi - lo))
    out = [
        dict(zip(keys[a - lo : b - lo], items[a - lo : b - lo])) if b > a else {}
        for a, b in zip(offs, offs[1:])
    ]
    if m.null_count:
        # a null slot reads as {} (or None) whatever its offsets span
        for i, ok in enumerate(_pylist(m.is_valid())):
            if not ok:
                out[i] = None if keep_null else {}
    return out


def _map_to_dict(v):
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return dict(v)  # pyarrow map -> list of (k, v) tuples


_STR_MAP = pa.map_(pa.string(), pa.string())

CHECKPOINT_SCHEMA = pa.schema(
    [
        pa.field(
            "txn",
            pa.struct(
                [
                    pa.field("appId", pa.string()),
                    pa.field("version", pa.int64()),
                    pa.field("lastUpdated", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "add",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("partitionValues", _STR_MAP),
                    pa.field("size", pa.int64()),
                    pa.field("modificationTime", pa.int64()),
                    pa.field("dataChange", pa.bool_()),
                    pa.field("stats", pa.string()),
                    pa.field("tags", _STR_MAP),
                ]
            ),
        ),
        pa.field(
            "remove",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("deletionTimestamp", pa.int64()),
                    pa.field("dataChange", pa.bool_()),
                    pa.field("extendedFileMetadata", pa.bool_()),
                    pa.field("partitionValues", _STR_MAP),
                    pa.field("size", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "metaData",
            pa.struct(
                [
                    pa.field("id", pa.string()),
                    pa.field("name", pa.string()),
                    pa.field("description", pa.string()),
                    pa.field(
                        "format",
                        pa.struct(
                            [
                                pa.field("provider", pa.string()),
                                pa.field("options", _STR_MAP),
                            ]
                        ),
                    ),
                    pa.field("schemaString", pa.string()),
                    pa.field("partitionColumns", pa.list_(pa.string())),
                    pa.field("configuration", _STR_MAP),
                    pa.field("createdTime", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "protocol",
            pa.struct(
                [
                    pa.field("minReaderVersion", pa.int32()),
                    pa.field("minWriterVersion", pa.int32()),
                ]
            ),
        ),
    ]
)


def _small_action_rows(
    protocol: Protocol,
    metadata: Metadata,
    set_transactions: list[SetTransaction],
    tombstones: list[RemoveFile],
) -> list[dict]:
    """Checkpoint rows for everything EXCEPT the add actions: protocol,
    metaData, txns, removes — bounded by the tombstone retention window
    and app count, never by table size."""
    rows: list[dict] = []
    rows.append({"protocol": {"minReaderVersion": protocol.min_reader_version,
                              "minWriterVersion": protocol.min_writer_version}})
    rows.append(
        {
            "metaData": {
                "id": metadata.id,
                "name": metadata.name,
                "description": metadata.description,
                "format": {
                    "provider": metadata.format.provider,
                    "options": list((metadata.format.options or {}).items()),
                },
                "schemaString": metadata.schema_string,
                "partitionColumns": metadata.partition_columns,
                "configuration": list((metadata.configuration or {}).items()),
                "createdTime": metadata.created_time,
            }
        }
    )
    for t in set_transactions:
        rows.append({"txn": {"appId": t.app_id, "version": t.version,
                             "lastUpdated": t.last_updated}})
    for r in tombstones:
        rows.append(
            {
                "remove": {
                    "path": r.path,
                    "deletionTimestamp": r.deletion_timestamp,
                    "dataChange": r.data_change,
                    "extendedFileMetadata": r.extended_file_metadata,
                    "partitionValues": (
                        None
                        if r.partition_values is None
                        else list(r.partition_values.items())
                    ),
                    "size": r.size,
                }
            }
        )
    return rows


def _emit_part(store: LogStore, tbl: pa.Table, target: str) -> None:
    """Serialize one checkpoint part and publish it through the log store —
    the same atomic, durable write path as every other log file."""
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    store.write_bytes(target, sink.getvalue().to_pybytes(), overwrite=True)


def write_checkpoint(
    store: LogStore,
    log_path: str,
    version: int,
    protocol: Protocol,
    metadata: Metadata,
    active_files: list[AddFile],
    tombstones: list[RemoveFile],
    set_transactions: list[SetTransaction],
    max_actions_per_part: int | None = 500_000,
) -> CheckpointMetadata:
    """Write a single-file checkpoint + _last_checkpoint pointer
    (reference: checkpoint.go:247-276, checkpoint_writer.go:19-94)."""
    rows = _small_action_rows(protocol, metadata, set_transactions, tombstones)
    for a in active_files:
        rows.append(
            {
                "add": {
                    "path": a.path,
                    "partitionValues": list((a.partition_values or {}).items()),
                    "size": a.size,
                    "modificationTime": a.modification_time,
                    "dataChange": a.data_change,
                    "stats": a.stats,
                    "tags": list(a.tags.items()) if a.tags else None,
                }
            }
        )
    table = pa.Table.from_pylist(rows, schema=CHECKPOINT_SCHEMA)

    # Multi-part when the state outgrows one comfortable parquet file
    # (reference reads multi-part checkpoints: checkpoint.go:214-245,
    # filename.go:73-79; at 100 TB a single file serializes the write and
    # the subsequent reads).  Every part is written before _last_checkpoint
    # flips, so readers either see the complete group or fall back to the
    # previous anchor.
    parts = None
    if max_actions_per_part and len(rows) > max_actions_per_part:
        parts = -(-len(rows) // max_actions_per_part)  # ceil
        targets = filenames.checkpoint_file_parts(log_path, version, parts)
        per = -(-len(rows) // parts)
        for i, target in enumerate(targets):
            _emit_part(store, table.slice(i * per, per), target)
    else:
        target = filenames.checkpoint_file_single(log_path, version)
        _emit_part(store, table, target)
    meta = CheckpointMetadata(version=version, size=len(rows), parts=parts)
    payload = {"version": meta.version, "size": meta.size}
    if parts:
        payload["parts"] = parts
    store.write(
        last_checkpoint_path(log_path),
        [json.dumps(payload, separators=(",", ":"))],
        overwrite=True,
    )
    return meta

