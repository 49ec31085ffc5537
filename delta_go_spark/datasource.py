"""Python Data Source: ``spark.read.format("delta_go")`` and
``spark.readStream.format("delta_go")`` over this engine's Delta tables.

This is the idiomatic Spark 4 extension point (pyspark.sql.datasource) —
the engine's log replay, time travel, partition pruning and stats skipping
run on the driver to plan the scan, then executors read ONLY the surviving
parquet files via Arrow batches.  Nothing here shells out to the JVM Delta
implementation; the planning layer is this repo's (reference protocol
semantics: snapshot.go, scan.go), and the data plane is Arrow → Spark.

Filter pushdown: Spark hands the reader its WHERE conjuncts via
``pushFilters``.  Conjuncts on partition columns prune whole files before
any I/O (reference scan.go:185-199 semantics); conjuncts on data columns
prune via AddFile min/max stats (exceeds the reference, which carries stats
unparsed).  ALL filters are reported back as unsupported so Spark
re-applies them row-level — pruning here is a strict optimization, never a
correctness dependency.

Batch scale: size-packed InputPartitions; executors fan out.  The
streaming reader is a partitioned DataSourceStreamReader: the driver only
resolves each trigger's version range into a file list (version offsets,
exactly-once), and the executors read those files as Arrow batches —
identical data plane to the batch reader.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    WriterCommitMessage,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from delta_go_spark import expressions as E
from delta_go_spark.actions import AddFile
from delta_go_spark.log import DeltaLog
from delta_go_spark.scan import stats_may_match
from delta_go_spark.snapshot import canonicalize_path

if TYPE_CHECKING:
    import pyarrow as pa

FORMAT_NAME = "delta_go"


def register(spark) -> None:
    """Register the source: ``spark.read.format('delta_go').load(path)``."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static conf in some deployments; reader() degrades gracefully
    spark.dataSource.register(DeltaGoDataSource)


def _pushdown_enabled() -> bool:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    return (
        spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        == "true"
    )


def _open_snapshot(options: dict):
    path = options.get("path")
    if not path:
        raise ValueError("delta_go requires a table path: .load('/table/path')")
    log = DeltaLog.for_table(path)
    if options.get("versionasof") is not None:
        return log, log.snapshot_for_version_as_of(int(options["versionasof"]))
    if options.get("timestampasof") is not None:
        return log, log.snapshot_for_timestamp_as_of(int(options["timestampasof"]))
    return log, log.update()


def _starting_version(log: DeltaLog, options: dict) -> tuple[int, bool]:
    """Resolve the stream/CDF start: explicit startingVersion wins, else
    startingTimestamp (epoch millis) resolves to the first commit at or
    after it (Delta's semantics; a future timestamp starts past the tip,
    yielding nothing until new commits land), else version 0.  Returns
    (version, from_timestamp): a timestamp past the tip legitimately means
    'empty for now', while an EXPLICIT startingVersion past the tip is a
    user error that batch CDF must surface, not silently read as empty."""
    sv = options.get("startingversion")
    st = options.get("startingtimestamp")
    if sv is not None and st is not None:
        raise ValueError(
            "startingVersion and startingTimestamp are mutually exclusive"
        )
    if sv is not None:
        return int(sv), False
    if st is not None:
        v = log.history.first_version_at_or_after(int(st))
        if v is not None:
            return v, True
        return log.update().version + 1, True
    return 0, False


def _filter_to_expression(
    f: Filter, schema: StructType
) -> E.Expression | None:
    """Translate one pushed Spark filter into the engine AST; None if the
    filter shape isn't translatable (it stays Spark-side only)."""
    if isinstance(f, Not):
        inner = _filter_to_expression(f.child, schema)
        return E.Not(inner) if inner is not None else None
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None  # nested columns: let Spark evaluate
    name = attr[0]
    try:
        dtype = schema[name].dataType
    except Exception:
        return None
    col = E.Column(name, dtype)
    if isinstance(f, EqualTo):
        return E.EqualTo(col, E.Literal(f.value, dtype))
    if isinstance(f, GreaterThan):
        return E.GreaterThan(col, E.Literal(f.value, dtype))
    if isinstance(f, GreaterThanOrEqual):
        return E.GreaterThanOrEq(col, E.Literal(f.value, dtype))
    if isinstance(f, LessThan):
        return E.LessThan(col, E.Literal(f.value, dtype))
    if isinstance(f, LessThanOrEqual):
        return E.LessThanOrEq(col, E.Literal(f.value, dtype))
    if isinstance(f, In):
        return E.In(col, tuple(E.Literal(v, dtype) for v in f.value))
    if isinstance(f, IsNull):
        return E.IsNull(col)
    if isinstance(f, IsNotNull):
        return E.IsNotNull(col)
    if isinstance(f, StringStartsWith):
        return E.StartsWith(col, str(f.value))  # min/max-prunable prefix range
    # EndsWith/Contains as LIKE: no order constraint, so they prune only
    # partition values (a raw '%' in the value widens the pattern — a
    # may-match inflation, which is always safe for pruning).
    if isinstance(f, StringEndsWith):
        return E.Like(col, f"%{f.value}")
    if isinstance(f, StringContains):
        return E.Like(col, f"%{f.value}%")
    return None


def _arrow_batches_for_file(
    abs_path: str,
    schema: StructType,
    partition_cols: list[str],
    partition_values: dict[str, str | None],
) -> Iterator["pa.RecordBatch"]:
    """Read one data file and emit batches matching the declared schema:
    data columns in declared order (nulls for columns added after the file
    was written — schema evolution), partition columns materialized as
    constants parsed with the Delta partition-value rules (record.go)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    pset = {c.lower() for c in partition_cols}
    pv_lower = {k.lower(): v for k, v in (partition_values or {}).items()}

    table = pq.read_table(
        abs_path,
        columns=None,
    )
    file_cols = {n.lower(): n for n in table.column_names}
    n = table.num_rows

    columns: list[pa.Array | pa.ChunkedArray] = []
    for field in schema.fields:
        target = arrow_schema.field(field.name).type
        if field.name.lower() in pset:
            raw = pv_lower.get(field.name.lower())
            value = E.parse_partition_value(raw, field.dataType)
            columns.append(pa.repeat(pa.scalar(value, type=target), n))
        elif field.name.lower() in file_cols:
            col = table.column(file_cols[field.name.lower()])
            if col.type != target:
                col = col.cast(target)
            columns.append(col)
        else:
            # File predates an ADD COLUMNS evolution: fill with nulls.
            columns.append(pa.nulls(n, target))
    out = pa.table(columns, schema=arrow_schema)
    yield from out.to_batches()


def _readable_paths(
    paths: list[str], table_root: str, native_opt: str | None = None
) -> list[str]:
    """Paths an executor's pyarrow can open: cloud URIs are localized into
    the deterministic cache AT PLANNING TIME (executor Python workers
    cannot reach per-process store state; planner and executors share the
    cache directory in the connector-less local mode this fallback
    serves).  Local paths pass through untouched.

    Native pass-through: with DGS_NATIVE_CLOUD set (or the reader's
    nativeCloud option), cloud URIs are returned as-is for pyarrow's own
    filesystem layer to open — Spark 4 runs DataSource planning in a
    separate Python worker with no JVM handle, so the env/option flag is
    the only native signal available here (no auto-probe).  Note also
    that driver-process register_store bindings are not visible in this
    worker; SDK reads through this surface need real credentials/endpoint
    env — the DeltaTable API sees in-process fakes, format("delta_go")
    does not.

    This is the one scan-path rule outside datareader.scan_paths: without
    a JVM handle this worker cannot probe the scheme's Hadoop connector,
    and pyarrow, not Spark, opens the files, so no reported file name ever
    needs decoding here."""
    from delta_go_spark.datacache import is_cloud_uri, localize
    from delta_go_spark.datacloud import use_native_cloud

    if not paths or not is_cloud_uri(table_root):
        return paths
    if use_native_cloud(None, table_root, option=native_opt):
        return paths
    return localize(paths)


class _FilePartition(InputPartition):
    """One scan task: a size-bounded group of data files (the
    maxPartitionBytes analog — a million tiny files must not become a
    million tasks, and one task must not read unbounded bytes)."""

    def __init__(self, files: list[tuple[str, dict[str, str | None]]]):
        self.files = files


def _pack_partitions(
    files: list[tuple[str, dict[str, str | None], int]],
    target_bytes: int,
    max_files: int | None = None,
) -> list[_FilePartition]:
    """First-fit pack by on-disk size from the AddFile metadata (no file
    system calls).  Files above target_bytes get their own task.
    max_files additionally caps files per task — the admission control
    that keeps a post-restart catch-up batch (whose OFFSET range cannot be
    throttled, see latestOffset) a set of bounded tasks instead of one
    unbounded scan."""
    parts: list[_FilePartition] = []
    cur: list[tuple[str, dict[str, str | None]]] = []
    cur_bytes = 0
    for path, pv, size in files:
        if cur and (
            cur_bytes + size > target_bytes
            or (max_files is not None and len(cur) >= max_files)
        ):
            parts.append(_FilePartition(cur))
            cur, cur_bytes = [], 0
        cur.append((path, pv))
        cur_bytes += size
    if cur:
        parts.append(_FilePartition(cur))
    return parts


class DeltaGoBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = dict(options)
        # Planning state (driver-only): resolved eagerly so the pickled
        # reader carries only plain data — no log/store/lock handles.
        log, snap = _open_snapshot(self.options)
        meta = snap.metadata()
        self.partition_cols = list(meta.partition_columns or [])
        self.table_root = snap.table_root
        self._files: list[AddFile] = list(snap.all_files())
        self._pushed: list[E.Expression] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            expr = _filter_to_expression(f, self.schema)
            if expr is not None:
                self._pushed.append(expr)
            # Report EVERY filter unsupported: Spark re-applies them all
            # row-level, so file pruning stays a pure optimization.
            yield f

    def partitions(self) -> list[InputPartition]:
        files = self._files
        predicate = E.and_all(self._pushed) if self._pushed else None
        if predicate is not None:
            pushed, residual = E.split_metadata_and_data_predicates(
                predicate, self.partition_cols
            )
            kept = []
            for add in files:
                if pushed is not None:
                    record = {
                        k.lower(): v
                        for k, v in (add.partition_values or {}).items()
                    }
                    if pushed.eval(record) is not True:
                        continue
                if not stats_may_match(residual, add.stats):
                    continue
                kept.append(add)
            files = kept
        target = int(
            self.options.get("maxpartitionbytes", 128 * 1024 * 1024)
        )
        paths = _readable_paths(
            [canonicalize_path(a.path, self.table_root) for a in files],
            self.table_root,
            self.options.get("nativecloud"),
        )
        return _pack_partitions(
            [
                (p, dict(a.partition_values or {}), a.size or 0)
                for a, p in zip(files, paths)
            ],
            target,
        )

    def read(self, partition: _FilePartition) -> Iterator["pa.RecordBatch"]:
        for abs_path, pv in partition.files:
            yield from _arrow_batches_for_file(
                abs_path,
                self.schema,
                self.partition_cols,
                pv,
            )


class _CDFPartition(InputPartition):
    """One CDF scan task: (abs_path, partition_values, change_type, version)
    per file; change_type None means a cdc file that carries its own
    `_change_type` column."""

    def __init__(self, files: list[tuple]):
        self.files = files


def _pack_cdf_partitions(
    entries: list[tuple], target_bytes: int, max_files: int | None = None
) -> list[_CDFPartition]:
    """Size-pack cdf_entries (same first-fit policy as _pack_partitions)."""
    parts: list[_CDFPartition] = []
    cur: list[tuple] = []
    cur_bytes = 0
    for path, pv, ctype, version, size in entries:
        if cur and (
            cur_bytes + size > target_bytes
            or (max_files is not None and len(cur) >= max_files)
        ):
            parts.append(_CDFPartition(cur))
            cur, cur_bytes = [], 0
        cur.append((path, pv, ctype, version))
        cur_bytes += size
    if cur:
        parts.append(_CDFPartition(cur))
    return parts or [_CDFPartition([])]


class DeltaGoCDFReader(DataSourceReader):
    """Change-feed batch read: option('readChangeFeed', 'true') with
    optional startingVersion/endingVersion.  The driver resolves the
    version range to (file, change_type, version) entries exactly like
    cdf.table_changes; executors read and attach the constants."""

    def __init__(self, schema: StructType, options: dict):
        from delta_go_spark.cdf import cdf_entries

        self.schema = schema  # table schema + _change_type + _commit_version
        self.options = dict(options)
        log, snap = _open_snapshot(self.options)
        meta = snap.metadata()
        self.partition_cols = list(meta.partition_columns or [])
        self.table_root = snap.table_root
        table_schema = meta.schema()
        self.table_schema = table_schema
        self.cdc_schema = StructType(
            [*table_schema.fields, schema["_change_type"]]
        )
        start, from_ts = _starting_version(log, self.options)
        end = self.options.get("endingversion")
        end_excl = int(end) + 1 if end is not None else None
        if start > snap.version and from_ts:
            # A TIMESTAMP resolved past the tip: an empty change set, not a
            # planning-time range error (cdf.table_changes' guard).  An
            # explicit startingVersion past the tip falls through to
            # cdf_entries, which raises — a typo'd version must not read
            # as an empty feed.
            entries = []
        else:
            entries = cdf_entries(log, self.table_root, start, end_excl)
        # Raw (possibly cloud) paths here; localization is deferred to
        # partitions(), AFTER partition pruning — pruned-out files must
        # never be downloaded.
        self._entries = entries
        self._pushed: list[E.Expression] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # Same contract as the batch reader: remember what we can prune
        # on, report everything unsupported so Spark re-applies row-level.
        for f in filters:
            expr = _filter_to_expression(f, self.schema)
            if expr is not None:
                self._pushed.append(expr)
            yield f

    def partitions(self) -> list[InputPartition]:
        entries = self._entries
        if self._pushed and self.partition_cols:
            pushed, _residual = E.split_metadata_and_data_predicates(
                E.and_all(self._pushed), self.partition_cols
            )
            if pushed is not None:
                # prune only entries carrying a complete partition tuple —
                # legacy cdc files recorded {} and must always be read
                # (mirrors cdf.table_changes' pruned_out rule)
                def keep(pv: dict) -> bool:
                    if not all(c in pv for c in self.partition_cols):
                        return True
                    record = {k.lower(): v for k, v in pv.items()}
                    return pushed.eval(record) is True

                entries = [e for e in entries if keep(e[1])]
        # Localize only what survived pruning (cloud fallback is a no-op
        # for local tables): cdf.table_changes prunes before localize and
        # this surface must match — a pruned file is never downloaded.
        paths = _readable_paths(
            [e[0] for e in entries],
            self.table_root,
            self.options.get("nativecloud"),
        )
        entries = [(p, *e[1:]) for e, p in zip(entries, paths)]
        target = int(self.options.get("maxpartitionbytes", 128 * 1024 * 1024))
        return _pack_cdf_partitions(entries, target)

    def read(self, partition: _CDFPartition) -> Iterator["pa.RecordBatch"]:
        yield from _cdf_partition_batches(
            partition, self.table_schema, self.cdc_schema, self.partition_cols
        )


def _cdf_partition_batches(
    partition: _CDFPartition,
    table_schema: StructType,
    cdc_schema: StructType,
    partition_cols: list[str],
) -> Iterator["pa.RecordBatch"]:
    """Executor-side CDF read, shared by the batch and streaming readers:
    cdc files carry their own _change_type column; add/remove entries get
    it as a constant; every batch gets its _commit_version."""
    import pyarrow as pa

    for abs_path, pv, ctype, version in partition.files:
        if ctype is None:
            # hive-layout cdc files carry a complete partition tuple and
            # inject it like data files; legacy cdc files ({}) embed the
            # partition columns physically
            hive = partition_cols and all(c in (pv or {}) for c in partition_cols)
            file_schema, pcols = cdc_schema, (partition_cols if hive else [])
        else:
            file_schema, pcols = table_schema, partition_cols
        for batch in _arrow_batches_for_file(abs_path, file_schema, pcols, pv):
            n = batch.num_rows
            arrays = list(batch.columns)
            names = list(batch.schema.names)
            if ctype is not None:
                arrays.append(pa.array([ctype] * n, type=pa.string()))
                names.append("_change_type")
            arrays.append(pa.array([version] * n, type=pa.int64()))
            names.append("_commit_version")
            yield pa.RecordBatch.from_arrays(arrays, names=names)


class _NoPushdownReader(DeltaGoBatchReader):
    """DeltaGoBatchReader minus the pushFilters hook (full-table plan).
    Spark detects 'implements pushFilters' by method identity against the
    base class, so rebinding the base implementation opts back out."""

    pushFilters = DataSourceReader.pushFilters


class DeltaGoStreamReader(DataSourceStreamReader):
    """PARTITIONED micro-batch source over the commit log: offset = next
    unread version; a micro-batch is the dataChange AddFiles of versions
    [start, end), size-packed into InputPartitions that EXECUTORS read as
    Arrow batches — the driver only plans (version range -> file list).
    Exactly-once: a version's files are emitted in exactly one batch
    (reference Changes semantics, log.go:188-226, version_log.go:9-71)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = dict(options)
        log, snap = _open_snapshot(self.options)
        self._log = log
        meta = snap.metadata()
        self.partition_cols = list(meta.partition_columns or [])
        self.table_root = snap.table_root
        # Streams tolerate a past-tip start either way: they simply wait
        # for future commits (the from_timestamp flag only matters for
        # batch CDF, where an explicit bad version must raise).
        self._start, _ = _starting_version(log, options)
        self._committed: int | None = None  # advanced by commit()
        self._planned: tuple | None = None  # (start, end, adds) memo
        # Change-feed mode: micro-batches carry row-level changes
        # (_change_type + _commit_version) instead of appended rows.
        self._cdf = (
            str(self.options.get("readchangefeed", "false")).lower() == "true"
        )
        if self._cdf:
            self.table_schema = meta.schema()
            self.cdc_schema = StructType(
                [*self.table_schema.fields, schema["_change_type"]]
            )

    # Spark pickles the reader into the streaming plan and to executors;
    # the log handle holds locks, so it is dropped on serialize and
    # reopened lazily (only the driver-side planning methods touch it).
    @property
    def log(self) -> DeltaLog:
        if self._log is None:
            self._log, _ = _open_snapshot(self.options)
        return self._log

    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state["_log"] = None
        state["_planned"] = None  # driver-only planning memo
        return state

    def initialOffset(self) -> dict:
        # Spark calls this only when there is NO checkpoint (and, observed
        # on Spark 4, AFTER the first latestOffset of batch 0 — so it
        # cannot seed throttling for that batch; see latestOffset).
        if self._committed is None:
            self._committed = self._start
        return {"version": self._start}

    def latestOffset(self) -> dict:
        # End offset is EXCLUSIVE: next version the stream has not seen.
        # maxFilesPerTrigger bounds the batch like Delta's option: with a
        # deep backlog the stream advances version-by-version in chunks of
        # roughly that many files instead of one giant catch-up batch.
        #
        # The FIRST latestOffset of a (re)started query necessarily
        # returns the unthrottled tip: pyspark's DataSourceStreamReader
        # has no latestOffset(start, limit) form, Spark asks for the
        # latest offset BEFORE revealing the start (initialOffset comes
        # after it on fresh queries; on restarts the start lives only in
        # the JVM's checkpoint), and a limited offset computed blind
        # could land BEHIND the checkpointed position — Spark compares
        # offsets by inequality, so that would plan a backwards batch and
        # then replay versions (duplicates), or stall.  That one catch-up
        # batch is still admission-controlled: partitions() caps files
        # per task at maxFilesPerTrigger, so it executes as bounded
        # tasks, never one unbounded scan.  The reader learns its
        # position from that call's range (partitions()/commit() both
        # seed it), so every batch AFTER the first throttles normally.
        tip = self.log.update().version + 1
        limit = self.options.get("maxfilespertrigger")
        if limit is None or self._committed is None:
            return {"version": tip}
        max_files = int(limit)
        start_v = self._committed
        if start_v >= tip:
            return {"version": tip}  # caught up; changes() would raise
        n = 0
        end_v = start_v
        adds: list[AddFile] = []
        for vlog in self.log.changes(start_v, fail_on_data_loss=True):
            if vlog.version >= tip:
                break
            adds.extend(
                a
                for a in vlog.actions
                if isinstance(a, AddFile) and a.data_change
            )
            n = len(adds)
            end_v = vlog.version + 1
            if n >= max_files:
                break
        end_v = max(end_v, start_v)
        # memo: partitions() for this exact range reuses the AddFiles we
        # just materialized instead of re-parsing the same commit JSON
        self._planned = (start_v, end_v, adds)
        return {"version": end_v}

    def _adds_between(self, start_v: int, end_v: int) -> list[AddFile]:
        adds: list[AddFile] = []
        if end_v <= start_v:
            return adds
        if self._planned is not None and self._planned[:2] == (start_v, end_v):
            return self._planned[2]
        for vlog in self.log.changes(start_v, fail_on_data_loss=True):
            if vlog.version >= end_v:
                break
            adds.extend(
                a
                for a in vlog.actions
                if isinstance(a, AddFile) and a.data_change
            )
        return adds

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # Track the stream's position (also set on restart replay, where
        # Spark hands us the checkpointed offsets directly).  The planned
        # batch covers [start, end), so the next trigger continues from
        # `end`; a failed batch replans the same deterministic range, so
        # advancing optimistically here cannot skip data.
        self._committed = max(self._committed or 0, int(end["version"]))
        target = int(self.options.get("maxpartitionbytes", 128 * 1024 * 1024))
        limit = self.options.get("maxfilespertrigger")
        max_files = int(limit) if limit is not None else None
        if self._cdf:
            from delta_go_spark.cdf import cdf_entries

            start_v, end_v = int(start["version"]), int(end["version"])
            entries = (
                cdf_entries(self.log, self.table_root, start_v, end_v)
                if end_v > start_v
                else []
            )
            paths = _readable_paths(
                [e[0] for e in entries],
                self.table_root,
                self.options.get("nativecloud"),
            )
            entries = [(p, *e[1:]) for e, p in zip(entries, paths)]
            return _pack_cdf_partitions(entries, target, max_files)
        adds = self._adds_between(int(start["version"]), int(end["version"]))
        paths = _readable_paths(
            [canonicalize_path(a.path, self.table_root) for a in adds],
            self.table_root,
            self.options.get("nativecloud"),
        )
        return _pack_partitions(
            [
                (p, dict(a.partition_values or {}), a.size or 0)
                for a, p in zip(adds, paths)
            ],
            target,
            max_files,
        ) or [_FilePartition([])]

    def read(self, partition) -> Iterator["pa.RecordBatch"]:
        # Executor-side: identical Arrow path as the batch readers.
        if isinstance(partition, _CDFPartition):
            yield from _cdf_partition_batches(
                partition, self.table_schema, self.cdc_schema, self.partition_cols
            )
            return
        for abs_path, pv in partition.files:
            yield from _arrow_batches_for_file(
                abs_path, self.schema, self.partition_cols, pv
            )

    def commit(self, end: dict) -> None:
        # Nothing to clean up (offsets derive from the log); remember the
        # high-water mark so a rate-limited latestOffset continues from it.
        self._committed = int(end["version"])


class _DeltaWriteBase:
    """Shared executor-side write logic for the batch and streaming
    DataSource writers: each task streams its Arrow batches into one
    parquet file per partition-value combination under a unique staging
    prefix inside the table (``dswrite-<id>/<hive dirs>/part-*.parquet``),
    and reports (rel_path, size, partition_values, rows) back to the
    driver.  No file ever moves afterwards — AddFile.path is arbitrary
    and visibility is governed by the log commit, so the "staging" prefix
    IS the final location (same rationale as the native cloud write).

    Driver-side __init__ resolves everything the pickled writer needs as
    plain data (no log/store handles cross the pickle boundary).
    Semantics to match: reference trnx.go:144-224 (blind append vs
    logical replace).

    Scope guards (honest limits of a no-SparkSession commit worker):
    local table roots only — cloud URIs must use the DeltaTable facade,
    whose write path routes the LogStore/native-connector branches; and
    tables with CHECK constraints or generated columns are refused, since
    enforcing them requires a Spark scan the DataSource commit worker
    cannot run (NOT NULL is still enforced, from footer stats)."""

    def __init__(self, schema: StructType, options: dict):
        import uuid

        from delta_go_spark.store import is_cloud_uri, normalize_table_uri
        from delta_go_spark.writer import (
            CONSTRAINT_PREFIX,
            GENERATION_EXPRESSION_KEY,
        )

        path = options.get("path")
        if not path:
            raise ValueError(
                "delta_go requires a table path: .save('/table/path')"
            )
        if is_cloud_uri(path):
            raise ValueError(
                "df.write.format('delta_go') supports local table roots; "
                "write cloud tables through the DeltaTable facade "
                "(append/overwrite), which routes the LogStore and "
                "native-connector paths"
            )
        self.table_root = normalize_table_uri(path)
        self.schema = schema
        self.options = dict(options)
        self.staging_rel = f"dswrite-{uuid.uuid4().hex}"
        self.merge_schema = (
            str(options.get("mergeschema", "false")).lower() == "true"
        )
        log = DeltaLog.for_table(self.table_root)
        snap = None
        try:
            snap = log.update()
        except Exception:
            snap = None
        if snap is not None and snap.version >= 0:
            meta = snap.metadata()
            cfg = meta.configuration or {}
            if any(k.startswith(CONSTRAINT_PREFIX) for k in cfg):
                raise ValueError(
                    "table has CHECK constraints; the DataSource commit "
                    "worker cannot evaluate them — write via DeltaTable"
                )
            if any(
                f.metadata and GENERATION_EXPRESSION_KEY in f.metadata
                for f in meta.schema().fields
            ):
                raise ValueError(
                    "table has generated columns; the DataSource commit "
                    "worker cannot compute them — write via DeltaTable"
                )
            self.partition_cols = list(meta.partition_columns or [])
            pb = options.get("partitionby")
            if pb is not None:
                want = [c.strip() for c in pb.split(",") if c.strip()]
                # case-insensitive, like every Delta field lookup
                # (type_utils.go:100-107)
                if [c.lower() for c in want] != [
                    c.lower() for c in self.partition_cols
                ]:
                    raise ValueError(
                        f"partitionBy {want} does not match the existing "
                        f"table partitioning {self.partition_cols}"
                    )
        else:
            pb = options.get("partitionby", "") or ""
            self.partition_cols = [c.strip() for c in pb.split(",") if c.strip()]
        # Delta field lookup is case-insensitive (type_utils.go:100-107):
        # keep self.partition_cols in the TABLE's spelling (AddFile
        # partitionValues keys, commit-side partitionBy check) but record
        # the WRITTEN frame's spelling separately for the executor-side
        # groupby and data-schema split.
        by_lower = {f.name.lower(): f.name for f in schema.fields}
        missing = [
            c for c in self.partition_cols if c.lower() not in by_lower
        ]
        if missing:
            raise ValueError(
                f"partition column(s) {missing} absent from the written "
                f"schema {[f.name for f in schema.fields]}"
            )
        self.frame_pcols = [by_lower[c.lower()] for c in self.partition_cols]

    # -- executor side -----------------------------------------------------
    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        pcols = self.partition_cols  # table spelling: pv keys + hive dirs
        fcols = self.frame_pcols  # frame spelling: groupby + schema split
        data_schema = StructType(
            [f for f in self.schema.fields if f.name not in fcols]
        )
        arrow_schema = to_arrow_schema(data_schema)
        base_dir = os.path.join(self.table_root, self.staging_rel)
        # pv tuple -> [ParquetWriter, local_path, rel_path, rows, pv_dict]
        writers: dict = {}

        def sink_for(pv: dict):
            key = tuple(sorted(pv.items()))
            if key not in writers:
                hive = "/".join(
                    f"{c}={_hive_value(pv[c])}" for c in pcols
                )
                d = os.path.join(base_dir, *hive.split("/")) if hive else base_dir
                os.makedirs(d, exist_ok=True)
                name = f"part-{pid:05d}-{uuid.uuid4().hex}.parquet"
                rel = "/".join(
                    x for x in (self.staging_rel, hive, name) if x
                )
                writers[key] = [
                    pq.ParquetWriter(os.path.join(d, name), arrow_schema),
                    os.path.join(d, name),
                    rel,
                    0,
                    pv,
                ]
            return writers[key]

        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            for pv, sub in _split_by_partitions(tbl, fcols, arrow_schema, pcols):
                sink = sink_for(pv)
                sink[0].write_table(sub)
                sink[3] += sub.num_rows

        files = []
        for w, local, rel, rows, pv in writers.values():
            w.close()
            files.append((rel, os.path.getsize(local), pv, rows))
        return _WriteMessage(files)

    # -- driver side -------------------------------------------------------
    def _staged_adds(self, messages) -> list[AddFile]:
        import time

        from delta_go_spark.actions import encode_path
        from delta_go_spark.writer import _stats_from_footer

        now_ms = int(time.time() * 1000)
        adds = []
        for m in messages:
            if m is None:
                continue
            for rel, size, pv, _rows in m.files:
                local = os.path.join(self.table_root, *rel.split("/"))
                adds.append(
                    AddFile(
                        path=encode_path(rel),
                        partition_values=dict(pv),
                        size=size,
                        modification_time=now_ms,
                        data_change=True,
                        stats=_stats_from_footer(local),
                    )
                )
        return adds

    def _drop_staged(self, messages) -> None:
        import shutil

        shutil.rmtree(
            os.path.join(self.table_root, self.staging_rel),
            ignore_errors=True,
        )
        del messages  # whole-prefix cleanup covers every task's files


class DeltaGoWriter(_DeltaWriteBase, DataSourceArrowWriter):
    """``df.write.format("delta_go").mode("append"|"overwrite").save(p)``:
    executors write the parquet, the commit worker runs the optimistic
    transaction (bootstrap / schema-evolve / NOT NULL / logical replace)."""

    def __init__(self, schema: StructType, overwrite: bool, options: dict):
        super().__init__(schema, options)
        self.mode = "overwrite" if overwrite else "append"

    def commit(self, messages) -> None:
        from delta_go_spark.writer import commit_staged_adds

        adds = self._staged_adds(messages)
        try:
            commit_staged_adds(
                self.table_root,
                adds,
                self.schema,
                mode=self.mode,
                partition_by=self.partition_cols,
                merge_schema=self.merge_schema,
            )
        except Exception:
            self._drop_staged(messages)
            raise

    def abort(self, messages) -> None:
        self._drop_staged(messages)


class DeltaGoStreamWriter(_DeltaWriteBase, DataSourceStreamArrowWriter):
    """``df.writeStream.format("delta_go")``: each micro-batch commits as
    one transaction.  Pass ``.option("txnAppId", <stable id>)`` to ride a
    SetTransaction token (appId, batchId) per commit — replayed batch ids
    then become no-ops, upgrading restart semantics from at-least-once to
    exactly-once (same contract as DeltaStreamCommitter)."""

    def __init__(self, schema: StructType, overwrite: bool, options: dict):
        super().__init__(schema, options)
        if overwrite:
            raise ValueError(
                "delta_go streaming sink supports append output mode only"
            )
        self.txn_app_id = options.get("txnappid")

    def commit(self, messages, batchId: int) -> None:
        from delta_go_spark.writer import commit_staged_adds

        adds = self._staged_adds(messages)
        try:
            committed = commit_staged_adds(
                self.table_root,
                adds,
                self.schema,
                mode="append",
                partition_by=self.partition_cols,
                merge_schema=self.merge_schema,
                txn_app_id=self.txn_app_id,
                txn_version=batchId if self.txn_app_id is not None else None,
            )
        except Exception:
            self._drop_staged(messages)
            raise
        if committed is None:
            # replayed batch: the token check skipped the commit — the
            # just-staged duplicates must not linger until VACUUM
            self._drop_staged(messages)

    def abort(self, messages, batchId: int) -> None:
        self._drop_staged(messages)


class _WriteMessage(WriterCommitMessage):
    def __init__(self, files):
        self.files = files


def _hive_value(v) -> str:
    from delta_go_spark.writer import HIVE_NULL

    if v is None:
        return HIVE_NULL
    from urllib.parse import quote

    return quote(str(v), safe="")


def _split_by_partitions(tbl, fcols: list[str], arrow_schema, pv_names=None):
    """Split one Arrow table into (partition_values, data-only table)
    groups.  fcols are the FRAME's partition-column spellings (grouping);
    pv_names the table metadata's (partitionValues keys) — Delta matches
    fields case-insensitively, so the two may differ in case.  The
    no-partition fast path never leaves Arrow; partitioned writes group
    via pandas (robust across key types — partition keys are
    low-cardinality, so the conversion is bounded by design)."""
    import pyarrow as pa

    if not fcols:
        return [({}, tbl.select(arrow_schema.names).cast(arrow_schema))]
    pv_names = pv_names or fcols
    pdf = tbl.to_pandas()
    out = []
    for key, sub in pdf.groupby(fcols, dropna=False, sort=False):
        if not isinstance(key, tuple):
            key = (key,)
        pv = {c: _partition_value_str(v) for c, v in zip(pv_names, key)}
        data = sub.drop(columns=fcols)
        out.append(
            (
                pv,
                pa.Table.from_pandas(
                    data, schema=arrow_schema, preserve_index=False
                ),
            )
        )
    return out


def _partition_value_str(v) -> str | None:
    """Delta partitionValues serialization (record.go string forms):
    None for NULL, ISO forms for date/timestamp, plain str otherwise."""
    import datetime

    import pandas as pd

    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        # protocol form YYYY-MM-DD HH:MM:SS[.ffffff]: every microsecond
        # kept, so the partition value equals the row's value
        fmt = "%Y-%m-%d %H:%M:%S.%f" if v.microsecond else "%Y-%m-%d %H:%M:%S"
        return v.strftime(fmt)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class DeltaGoDataSource(DataSource):
    """``format("delta_go")``: batch + streaming read AND write of a
    delta_go table.

    Read options: ``versionAsOf``/``timestampAsOf`` (batch time travel),
    ``startingVersion``/``startingTimestamp`` (streaming/CDF),
    ``readChangeFeed``.  Write options: ``partitionBy`` (comma-separated,
    first write only), ``mergeSchema``, ``txnAppId`` (streaming
    exactly-once token)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _cdf_requested(self) -> bool:
        return str(self.options.get("readchangefeed", "false")).lower() == "true"

    def schema(self) -> StructType:
        _, snap = _open_snapshot(self.options)
        schema = snap.metadata().schema()
        if schema is None:
            raise ValueError("table has no schema in its Delta log")
        if self._cdf_requested():
            from pyspark.sql.types import LongType, StringType, StructField

            return StructType(
                [
                    *schema.fields,
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
        return schema

    def reader(self, schema: StructType):
        if self._cdf_requested():
            return DeltaGoCDFReader(schema, self.options)
        # Spark refuses a reader that defines pushFilters while
        # spark.sql.python.filterPushdown.enabled is false (it is false by
        # default): hand such sessions the pushdown-less subclass — same
        # scan, Spark just applies every filter row-level itself.
        if _pushdown_enabled():
            return DeltaGoBatchReader(schema, self.options)
        return _NoPushdownReader(schema, self.options)

    def streamReader(self, schema: StructType) -> DeltaGoStreamReader:
        return DeltaGoStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DeltaGoWriter:
        return DeltaGoWriter(schema, overwrite, self.options)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DeltaGoStreamWriter:
        return DeltaGoStreamWriter(schema, overwrite, self.options)
