"""Span tracing around the engine's public calls, installed from outside.

The engine is not edited: `install` rebinds public functions and methods of
`delta_go_spark` to timing wrappers for the length of a traced round and
`Patches.restore` puts the originals back.  A name imported into another
module is rebound there too (log.py holds its own reference to
`get_log_segment_for_version`, table.py to `write_dataframe`).

Each timed op of the benchmark is a root span ("op"); every wrapped call
inside it is a child span.  A span's self time is its duration minus the
time its child spans cover, so the self times of one op add up to the op's
wall time and the root's self time is the part no wrapped layer accounts
for.  Generators (store listings, checkpoint decode, log replay, scans, the
change feed) are timed per `next()` and kept as one span per generator, so
interleaved consumption is charged to the layer that produced each item.
"""

from __future__ import annotations

import functools
import json
import os
from collections import Counter
from time import perf_counter_ns

ROOT = "op"


class Tracer:
    """In-memory span recorder with self-time accounting per (op kind,
    span kind).  Single-threaded by design: the metadata plane runs on the
    calling thread, and Spark work appears as the blocking time of the
    Python call that waits for it."""

    def __init__(self):
        self.op_kind: str | None = None
        self.op_seq = 0
        self.stack: list[list] = []  # frames: [kind, start, child_ns, span_id]
        self.self_ns: Counter = Counter()  # (op_kind, kind) -> ns
        self.calls: Counter = Counter()  # (op_kind, kind) -> calls
        self.counts: Counter = Counter()  # (op_kind, name) -> units
        self.ops: Counter = Counter()  # op_kind -> traced ops
        self.op_ns: Counter = Counter()  # op_kind -> traced wall ns
        self.spans: list[tuple] = []
        self._next_id = 0

    # -- op roots -----------------------------------------------------------
    def begin_op(self, kind: str) -> None:
        self.op_kind = kind
        self.op_seq += 1
        self.stack.clear()
        self.enter(ROOT)

    def end_op(self) -> None:
        root = self.stack[0]
        while self.stack:  # an exception may have unwound past wrappers
            fr = self.stack[-1]
            self.leave(fr)
        self.ops[self.op_kind] += 1
        self.op_ns[self.op_kind] += perf_counter_ns() - root[1]
        self.op_kind = None

    # -- spans --------------------------------------------------------------
    def enter(self, kind: str):
        if self.op_kind is None:
            return None
        self._next_id += 1
        fr = [kind, perf_counter_ns(), 0, self._next_id]
        self.stack.append(fr)
        return fr

    def leave(self, fr, record: bool = True) -> int:
        if fr is None:
            return 0
        end = perf_counter_ns()
        dur = end - fr[1]
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        if parent is not None:
            parent[2] += dur
        key = (self.op_kind, fr[0])
        self.self_ns[key] += dur - fr[2]
        if record:
            self.calls[key] += 1
            self.spans.append(
                (self.op_seq, fr[3], parent[3] if parent else 0, fr[0], fr[1], end, dur)
            )
        if fr[0] == "transaction.commit" and any(
            f[0] == "writer.write" for f in self.stack
        ):
            self.counts[(self.op_kind, "writer.commit_ns")] += dur
        return dur

    def count(self, name: str, n: int = 1) -> None:
        if self.op_kind is not None:
            self.counts[(self.op_kind, name)] += n

    def add(self, op_kind: str, name: str, n: int = 1) -> None:
        """Count for an op that has already ended (e.g. Spark job stats
        read after the timed region)."""
        self.counts[(op_kind, name)] += n

    def iterate(self, kind: str, it, on_item=None, on_end=None):
        """Drive generator `it`, timing each step as `kind`; one span is
        recorded per generator with the summed busy time."""
        op_kind = self.op_kind
        if op_kind is not None:
            self.calls[(op_kind, kind)] += 1
        busy, first, last, sid = 0, None, None, None
        parent = self.stack[-1][3] if self.stack else 0
        try:
            while True:
                fr = self.enter(kind)
                try:
                    item = next(it)
                except StopIteration:
                    busy += self.leave(fr, record=False)
                    break
                except BaseException:
                    self.leave(fr, record=False)
                    raise
                if fr is not None:
                    first = first or fr[1]
                    sid = sid or fr[3]
                busy += self.leave(fr, record=False)
                last = perf_counter_ns()
                if on_item is not None:
                    on_item(item)
                yield item
            if on_end is not None:
                on_end()
        finally:
            close = getattr(it, "close", None)
            if close is not None:
                close()
            if op_kind is not None and sid is not None and op_kind == self.op_kind:
                self.spans.append((self.op_seq, sid, parent, kind, first, last, busy))

    # -- output -------------------------------------------------------------
    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for op_seq, sid, parent, kind, start, end, busy in self.spans:
                f.write(
                    json.dumps(
                        {"op": op_seq, "id": sid, "parent": parent, "kind": kind,
                         "start_ns": start, "end_ns": end, "busy_ns": busy}
                    )
                    + "\n"
                )

    def total(self, table: Counter, name: str) -> int:
        """Sum of `name` over every op kind in `table`."""
        return sum(v for (_op, k), v in table.items() if k == name)


class Patches:
    """Attribute rebinding with undo."""

    def __init__(self):
        self._saved: list[tuple] = []

    def set(self, owner, name: str, value) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def restore(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)


def _call(tr: Tracer, kind: str, fn, before=None, after=None, on_error=None):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        k = before(a) if before is not None else kind
        if k is None:
            return fn(*a, **kw)
        fr = tr.enter(k)
        try:
            r = fn(*a, **kw)
        except BaseException as e:
            tr.leave(fr)
            if on_error is not None:
                on_error(e)
            raise
        tr.leave(fr)
        if after is not None:
            after(a, r)
        return r

    return wrapper


def _gen(tr: Tracer, kind: str, fn, on_item=None, on_end=None):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        end = (lambda: on_end(a)) if on_end is not None else None
        return tr.iterate(kind, fn(*a, **kw), on_item, end)

    return wrapper


def install(tr: Tracer) -> Patches:
    """Wrap the engine's public surface used by the workloads."""
    from delta_go_spark import checkpoint, datareader, history, log, scan, snapshot, store
    from delta_go_spark import table, transaction, writer

    p = Patches()

    # store: every log-store call is I/O the metadata plane blocks on
    S = store.LocalStore
    p.set(S, "list_from", _gen(tr, "store.list", S.list_from,
                                on_item=lambda _m: tr.count("store.listed_entries")))

    def _retry(e):
        if isinstance(e, store.FileAlreadyExistsError):
            tr.count("transaction.retries")

    for name in ("read", "read_bytes", "read_range", "size_of"):
        p.set(S, name, _call(tr, "store.read", getattr(S, name)))
    p.set(S, "write", _call(tr, "store.write", S.write, on_error=_retry))
    for name in ("write_bytes", "write_stream"):
        p.set(S, name, _call(tr, "store.write", getattr(S, name)))
    for name in ("exists", "delete"):
        p.set(S, name, _call(tr, "store.meta", getattr(S, name)))

    # checkpoint: parquet decode and write
    p.set(checkpoint, "iter_checkpoint_actions",
          _gen(tr, "checkpoint.read", checkpoint.iter_checkpoint_actions,
               on_item=lambda _a: tr.count("checkpoint.rows_decoded")))

    def _ckpt_bytes(a, meta):
        inst = checkpoint.CheckpointInstance(meta.version, meta.parts)
        tr.count("checkpoint.writes")
        tr.count("checkpoint.bytes_written", sum(
            os.path.getsize(f) for f in checkpoint.checkpoint_files_of(inst, a[1])))

    p.set(checkpoint, "write_checkpoint",
          _call(tr, "checkpoint.write", checkpoint.write_checkpoint, after=_ckpt_bytes))

    # snapshot: segment discovery, replay fold, protocol/metadata resolution
    seg = _call(tr, "snapshot.segment", snapshot.get_log_segment_for_version)
    p.set(snapshot, "get_log_segment_for_version", seg)
    p.set(log, "get_log_segment_for_version", seg)
    p.set(snapshot, "iter_segment_actions",
          _gen(tr, "snapshot.fold", snapshot.iter_segment_actions,
               on_item=lambda _a: tr.count("snapshot.actions_replayed")))

    def _fold(a):
        if a[0]._state is not None:
            return None  # memoized: no work, no span
        tr.count("snapshot.folds")
        return "snapshot.fold"

    Snap = snapshot.Snapshot
    p.set(Snap, "state", _call(tr, "snapshot.fold", Snap.state, before=_fold))
    pm = lambda a: "snapshot.pm" if a[0]._pm is None else None  # noqa: E731
    for name in ("metadata", "protocol"):
        p.set(Snap, name, _call(tr, "snapshot.pm", getattr(Snap, name), before=pm))

    # log: the table handle
    L = log.DeltaLog
    p.set(L, "update", _call(tr, "log.update", L.update))
    p.set(L, "snapshot_for_version_as_of",
          _call(tr, "log.time_travel", L.snapshot_for_version_as_of))

    # scan: partition pruning + stats skipping
    def _scan_end(a):
        sc = a[0]
        tr.count("scan.files_considered", sc.snapshot.num_of_files())
        tr.count("scan.stats_skipped", getattr(sc, "files_skipped_by_stats", 0))

    p.set(scan.DeltaScan, "files",
          _gen(tr, "scan.files", scan.DeltaScan.files,
               on_item=lambda _a: tr.count("scan.files_returned"), on_end=_scan_end))

    # history: change feed
    p.set(history.HistoryManager, "changes",
          _gen(tr, "history.changes", history.HistoryManager.changes,
               on_item=lambda v: tr.count("history.actions_yielded", len(v.actions))))

    # transaction: commit, retry and conflict checking
    def _conflict(e):
        if isinstance(e, transaction.DeltaConcurrentModificationError):
            tr.count("transaction.conflicts")

    T = transaction.OptimisticTransaction
    p.set(T, "commit", _call(tr, "transaction.commit", T.commit, on_error=_conflict))
    p.set(T, "mark_files_as_read",
          _call(tr, "transaction.read", T.mark_files_as_read))

    # writer + datareader: the Spark-facing data plane
    wd = _call(tr, "writer.write", writer.write_dataframe)
    p.set(writer, "write_dataframe", wd)
    p.set(table, "write_dataframe", wd)
    p.set(writer, "stage_files",
          _call(tr, "writer.stage", writer.stage_files,
                after=lambda _a, r: tr.count("writer.files_added", len(r))))
    p.set(datareader, "files_to_df",
          _call(tr, "datareader.plan", datareader.files_to_df))
    return p


# Span kinds -> the layer each belongs to, for the accounting table.
LAYER_OF = {
    "store.list": "store", "store.read": "store", "store.write": "store",
    "store.meta": "store",
    "checkpoint.read": "checkpoint", "checkpoint.write": "checkpoint",
    "snapshot.segment": "snapshot", "snapshot.fold": "snapshot",
    "snapshot.pm": "snapshot",
    "log.update": "log", "log.time_travel": "log",
    "scan.files": "scan",
    "history.changes": "history",
    "transaction.commit": "transaction", "transaction.read": "transaction",
    "writer.write": "writer", "writer.stage": "writer",
    "datareader.plan": "datareader",
    "spark.exec": "spark",
    ROOT: "unaccounted",
}
