"""Table maintenance: OPTIMIZE (small-file compaction, optional clustering)
and file-level change feed.

OPTIMIZE is the operational other-half of copy-on-write DML: rewrites
accumulate small files; compaction bin-packs them back into target-size
files and commits with dataChange=False, so concurrent readers see the
same rows and the conflict checker runs at SnapshotIsolation
(trnx.go:174-179 — no dataChange ⇒ snapshot isolation).

The change feed reads each commit's added files as row-level inserts
(append-only CDF): the reference carries AddCDCFile but never interprets
change data (action/cdc.go); for append-heavy pipelines the add-files of a
commit ARE the change rows, which is what this exposes with
_commit_version provenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_go_spark import ops
from delta_go_spark.actions import AddFile
from delta_go_spark.log import DeltaLog
from delta_go_spark.store import normalize_table_uri


DEFAULT_TARGET_SIZE = 128 * 1024 * 1024  # a sane parquet target; tunable


def optimize(
    spark: SparkSession,
    table_path: str,
    target_size_bytes: int = DEFAULT_TARGET_SIZE,
    min_files: int = 2,
    cluster_by: list[str] | None = None,
    predicate=None,
) -> int | None:
    """Compact small active files into ~target-size files.

    `predicate` (partition-only Expression) scopes the compaction to
    matching partitions — the way a 100 TB table is maintained: compact
    yesterday's partition, not the world.  Partition pruning is exact, so
    the scope is precise; a data-column conjunct raises (min/max skipping
    is conservative and compaction must not silently touch extra files).

    Only files smaller than target_size participate; they are grouped into
    bins whose total is ~target_size and each bin is rewritten as one file
    (coalesce(1) per bin — the bins are independent Spark jobs planned off
    one cached scan at cluster scale).  With cluster_by, rows are sorted
    within the rewrite so min/max stats tighten and stats-skipping gets
    sharper (poor-man's Z-order: effective for single-column or prefix
    lookups).  Commits with dataChange=False.

    Returns the committed version, or None when nothing needed compaction.
    """
    from delta_go_spark.datareader import files_to_df
    from delta_go_spark.writer import stage_files

    table_path = normalize_table_uri(table_path)
    log = DeltaLog.for_table(table_path)
    txn = log.start_transaction()
    snap = txn.snapshot
    if snap is None or txn.read_version < 0:
        raise ValueError(f"not a Delta table: {table_path}")

    if predicate is not None:
        from delta_go_spark.scan import DeltaScan

        scan = DeltaScan(snap, predicate)
        if scan.residual_predicate() is not None:
            raise ValueError(
                "OPTIMIZE predicate must be partition-only; residual "
                f"data predicate: {scan.residual_predicate()}"
            )
        candidates = list(scan.files())
    else:
        candidates = snap.all_files()
    small = [a for a in candidates if (a.size or 0) < target_size_bytes]
    # group per partition tuple — compaction must not mix partitions
    by_part: dict[tuple, list[AddFile]] = {}
    for a in small:
        key = tuple(sorted((a.partition_values or {}).items()))
        by_part.setdefault(key, []).append(a)
    victims: list[AddFile] = []
    for group in by_part.values():
        if len(group) >= min_files:
            victims.extend(group)
    if not victims:
        return None

    pcols = snap.metadata().partition_columns
    df = files_to_df(spark, snap, victims)
    # one output file per partition-dir bin: repartition by partition cols
    # keeps hive layout; within a partition the sort order survives the
    # single-file write.
    if pcols:
        df = df.repartition(*[F.col(c) for c in pcols])
        if cluster_by:
            df = df.sortWithinPartitions(*cluster_by)
    else:
        n_bins = int(max(1, sum(a.size or 0 for a in victims) // max(target_size_bytes, 1)))
        if cluster_by:
            # range-partition on the cluster keys then sort within each
            # output file: contiguous, non-overlapping min/max ranges.
            df = df.repartitionByRange(n_bins, *cluster_by).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(n_bins)

    clock_ms = log.clock.now_millis()
    adds = [
        AddFile(
            path=a.path,
            partition_values=a.partition_values,
            size=a.size,
            modification_time=a.modification_time,
            data_change=False,
            stats=a.stats,
        )
        for a in stage_files(df, table_path, pcols)
    ]
    removes = [a.remove(clock_ms, data_change=False) for a in victims]
    return txn.commit(
        [*adds, *removes],
        ops.MANUAL_UPDATE,
        operation_parameters={
            "operation": "OPTIMIZE",
            "clusterBy": ",".join(cluster_by or []),
        },
    )


def changes_df(
    spark: SparkSession, table_path: str, start_version: int = 0
) -> DataFrame:
    """Row-level change feed for append-style commits: rows of every file
    ADDED at each version >= start_version, with _commit_version.

    One scan over all added files: partition values and the version that
    last added each file attach through datareader's one broadcast join,
    a single job regardless of version count.
    """
    from delta_go_spark.datareader import read_files_with_pv, scan_paths
    from delta_go_spark.snapshot import canonicalize_path

    table_path = normalize_table_uri(table_path)
    log = DeltaLog.for_table(table_path)
    meta = log.update().metadata()
    # canonical path -> (partitionValues, latest version that added it)
    added: dict[str, tuple[dict, int]] = {}
    for vlog in log.changes(start_version):
        for action in vlog.actions:
            if isinstance(action, AddFile) and action.data_change:
                added[canonicalize_path(action.path, table_path)] = (
                    action.partition_values or {},
                    vlog.version,
                )
    paths = scan_paths(spark, table_path, list(added), log.store)
    return read_files_with_pv(
        spark,
        meta.schema(),
        meta.partition_columns,
        dict(zip(paths, added.values())),
        versioned=True,
    )


def cleanup_expired_logs(log: DeltaLog, retention_millis: int | None = None) -> list[str]:
    """Delete log files no longer needed for state reconstruction: version
    files and checkpoints strictly BELOW the latest complete checkpoint,
    once older than logRetentionDuration.

    The reference carries the config (config.go:84-88) and leaves the hook
    as a TODO (checkpoint.go:273 `todo: doLogCleanup()`); this implements
    it.  Safety: a snapshot at or after the surviving checkpoint is always
    reconstructable; older time travel intentionally expires (that is what
    logRetentionDuration means).  Returns deleted paths.
    """
    from delta_go_spark import config as cfg
    from delta_go_spark.filenames import (
        checkpoint_version,
        delta_version,
        is_checkpoint_file,
        is_delta_file,
    )

    snap = log.update()
    ckpt_v = snap.segment.checkpoint_version
    if ckpt_v is None:
        return []
    if retention_millis is None:
        try:
            retention_millis = cfg.get_millis(
                snap.metadata().configuration or {}, cfg.LOG_RETENTION
            )
        except Exception:
            return []
    horizon = log.clock.now_millis() - retention_millis

    # Listing and deletion go through the LogStore so cleanup works on
    # cloud-URI tables too (os.listdir would crash at the first
    # checkpointInterval commit with cleanup enabled).
    deleted: list[str] = []
    anchor = os.path.join(log.log_path, f"{0:020d}")
    for meta in log.store.list_from(anchor):
        name = os.path.basename(meta.path)
        if is_delta_file(name):
            v = delta_version(name)
        elif is_checkpoint_file(name):
            v = checkpoint_version(name)
        else:
            continue  # _last_checkpoint etc.
        if v >= ckpt_v:
            continue
        if meta.modification_time >= horizon:
            continue
        # An expiring commit takes its change-data files with it: once the
        # version file is gone, nothing references those cdc parquet files
        # (VACUUM never touches _change_data/), so this is their only
        # reclamation point.
        if is_delta_file(name):
            from delta_go_spark.actions import AddCDCFile, action_from_json

            try:
                for line in log.store.read(meta.path):
                    a = action_from_json(line)
                    if isinstance(a, AddCDCFile):
                        cdc_path = os.path.join(log.table_path, a.decoded_path())
                        log.store.delete(cdc_path)
                        deleted.append(cdc_path)
            except OSError:
                pass
        log.store.delete(meta.path)
        deleted.append(meta.path)
    return deleted


def _bucket_columns(df: DataFrame, cols: list[str], bits: int = 8):
    """Equal-width 2^bits bucket ids per column between its min/max (one
    tiny agg job) — shared by the Z-order interleave and the Hilbert walk."""
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_mx_{c}") for c in cols],
    ).first()
    n_buckets = 1 << bits
    bucket_cols = []
    for c in cols:
        mn, mx = bounds[f"_mn_{c}"], bounds[f"_mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            bucket_cols.append(F.lit(0).cast("long"))
            continue
        frac = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn)
        b = F.least(
            F.lit(n_buckets - 1),
            F.floor(frac * n_buckets).cast("long"),
        )
        bucket_cols.append(F.coalesce(b, F.lit(0).cast("long")))
    return bucket_cols


def _zorder_column(df: DataFrame, cols: list[str], bits: int = 8):
    """Bit-interleaved Z-value over `cols` as a Spark expression.

    Each column is mapped to a 2^bits equal-width bucket between its
    min/max (one tiny agg job), then the bucket bits are interleaved with
    shiftleft/bitwiseOR — pure codegen, ANSI-safe (no arithmetic overflow
    tricks).  Files written in Z-value order have tight min/max boxes in
    EVERY clustered dimension, which is what makes multi-column
    stats-skipping effective at scale.
    """
    bucket_cols = _bucket_columns(df, cols, bits)
    z = F.lit(0).cast("long")
    k = len(cols)
    for bit in range(bits):
        for j, b in enumerate(bucket_cols):
            src = F.shiftright(b, bit).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(src, bit * k + j))
    return z


def hilbert_index_expr(x, y, bits: int = 8):
    """Hilbert-curve index d of a (x, y) grid cell, 2^bits per side, as a
    pure-codegen Spark expression (the standard xy2d bit walk, unrolled).

    Why offer it next to Z-order: consecutive Hilbert cells are ALWAYS
    grid-neighbours (every step is Manhattan distance 1), while the Z
    curve takes long diagonal jumps at quadrant boundaries — so files cut
    from a Hilbert-sorted layout have strictly tighter min/max boxes on
    average (the layout modern clustered tables use).  Exact for
    non-negative integer cell coordinates below 2^bits; ANSI-safe (shift /
    and / or / xor only, no overflow tricks).

    CAUTION: the inlined tree QUADRUPLES per level — use only for small
    `bits` (the locality audit's 4).  For real layouts use
    with_hilbert_index, which stages each level as columns (linear plan).
    """
    one = F.lit(1).cast("long")
    d = F.lit(0).cast("long")
    x = x.cast("long")
    y = y.cast("long")
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        sl = F.lit(s).cast("long")
        rx = F.when(x.bitwiseAND(sl) > 0, one).otherwise(F.lit(0).cast("long"))
        ry = F.when(y.bitwiseAND(sl) > 0, one).otherwise(F.lit(0).cast("long"))
        d = d + F.lit(s * s).cast("long") * (rx * 3).bitwiseXOR(ry)
        # rotate the quadrant so the sub-curve enters/exits correctly:
        # reflections and the swap read the PRE-update x and y
        refl_x = F.when(rx == 1, F.lit(s - 1).cast("long") - x).otherwise(x)
        refl_y = F.when(rx == 1, F.lit(s - 1).cast("long") - y).otherwise(y)
        x, y = (
            F.when(ry == 0, refl_y).otherwise(x),
            F.when(ry == 0, refl_x).otherwise(y),
        )
    return d


def with_hilbert_index(
    df: DataFrame, x: str, y: str, out: str = "_h", bits: int = 8
):
    """df + Hilbert index column `out` over integer cell columns (x, y).

    Stages each xy2d level's (x, y, d) state as REAL columns via one
    select per level, so the plan grows LINEARLY in `bits`.  The
    expression-only form (hilbert_index_expr) inlines the rewritten x/y
    into every use and its tree QUADRUPLES per level — fine at the
    locality audit's bits=4 (~256 nodes), pathological at bits=8 (~65k
    nodes: Catalyst analysis alone runs minutes).  This is the form the
    cluster rewrite uses."""
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    keep = df.columns
    cur = df.select(
        *keep,
        F.col(x).cast("long").alias("_hx"),
        F.col(y).cast("long").alias("_hy"),
        zero.alias(out),
    )
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        sl = F.lit(s).cast("long")
        rx = F.when(F.col("_hx").bitwiseAND(sl) > 0, one).otherwise(zero)
        ry = F.when(F.col("_hy").bitwiseAND(sl) > 0, one).otherwise(zero)
        d_new = F.col(out) + F.lit(s * s).cast("long") * (rx * 3).bitwiseXOR(ry)
        refl_x = F.when(rx == 1, F.lit(s - 1).cast("long") - F.col("_hx")).otherwise(
            F.col("_hx")
        )
        refl_y = F.when(rx == 1, F.lit(s - 1).cast("long") - F.col("_hy")).otherwise(
            F.col("_hy")
        )
        cur = cur.select(
            *keep,
            F.when(ry == 0, refl_y).otherwise(F.col("_hx")).alias("_hx"),
            F.when(ry == 0, refl_x).otherwise(F.col("_hy")).alias("_hy"),
            d_new.alias(out),
        )
    return cur.drop("_hx", "_hy")


def hilbert_index_sql(x: str, y: str, bits: int = 8) -> str:
    """The SAME xy2d walk rendered as a scalar SQL expression usable by
    BOTH engines (DuckDB oracle + Spark F.expr): xor spelled as
    (a|b)-(a&b) because DuckDB's `^` is exponentiation, and every level's
    x/y rewrite substituted inline so no engine-specific lateral-alias
    behaviour can bite."""
    d_terms: list[str] = []
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
        a, b = f"(3 * {rx})", ry
        d_terms.append(f"{s * s} * (({a} | {b}) - ({a} & {b}))")
        nx = (
            f"(CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - ({y}) ELSE ({y}) END) "
            f"ELSE ({x}) END)"
        )
        ny = (
            f"(CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - ({x}) ELSE ({x}) END) "
            f"ELSE ({y}) END)"
        )
        x, y = nx, ny
    return "(" + " + ".join(d_terms) + ")"


def zorder_index_sql(x: str, y: str, bits: int = 8) -> str:
    """Bit-interleaved Z-index as a shared-engine SQL expression (the
    oracle-side twin of _zorder_column's interleave for 2 columns)."""
    terms = []
    for bit in range(bits):
        terms.append(f"((({x} >> {bit}) & 1) << {2 * bit})")
        terms.append(f"((({y} >> {bit}) & 1) << {2 * bit + 1})")
    return "(" + " | ".join(terms) + ")"


def hilbert_cluster(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    n_files: int | None = None,
    incremental: bool = False,
) -> int | None:
    """OPTIMIZE ... CLUSTER BY hilbert(cols): the Hilbert-curve sibling of
    zorder() — same bucketing, same dataChange=False rewrite, tighter
    per-file min/max boxes (see hilbert_index_expr).  Exactly 2 columns
    (the classic curve; higher dimensions need a Gray-code generalization
    this engine does not claim).

    incremental=True rewrites ONLY files added since the last HILBERT
    commit (found by walking CommitInfo history; the prior layout's files
    survive byte-identical) — the liquid-clustering maintenance shape: on
    a 100 TB table a nightly ingest re-clusters the night's files, never
    the petabyte.  Cost: O(new data) rewrite + O(versions) driver history
    walk.  Falls back to the full rewrite when no prior HILBERT commit
    exists."""
    if len(cols) != 2:
        raise ValueError("hilbert_cluster requires exactly 2 columns")
    since = None
    if incremental:
        log = DeltaLog.for_table(normalize_table_uri(table_path))
        v = log.update().version
        for ver in range(v, -1, -1):
            try:
                ci = log.commit_info_at(ver)
            except Exception:
                continue
            if (ci.operation_parameters or {}).get("operation") == "HILBERT":
                since = ver
                break
    return _cluster_rewrite(
        spark, table_path, cols, n_files, curve="hilbert", since_version=since
    )


def zorder(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    n_files: int | None = None,
) -> int | None:
    """Rewrite the whole active set clustered by the Z-value of `cols`
    (multi-dimensional clustering; single-column degenerates to a plain
    sort).  dataChange=False — readers see identical rows.
    """
    return _cluster_rewrite(spark, table_path, cols, n_files, curve="z")


def _cluster_rewrite(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    n_files: int | None = None,
    curve: str = "z",
    since_version: int | None = None,
) -> int | None:
    from delta_go_spark.datareader import files_to_df
    from delta_go_spark.writer import stage_files

    table_path = normalize_table_uri(table_path)
    log = DeltaLog.for_table(table_path)
    txn = log.start_transaction()
    snap = txn.snapshot
    if snap is None or txn.read_version < 0:
        raise ValueError(f"not a Delta table: {table_path}")
    victims = snap.all_files()
    if since_version is not None:
        # incremental: only files NOT already active at the prior cluster
        # commit (set difference of two snapshots via time travel — the
        # already-clustered layout survives byte-identical)
        prior = {
            a.path
            for a in log.snapshot_for_version_as_of(since_version).all_files()
        }
        victims = [a for a in victims if a.path not in prior]
    if not victims:
        return None
    pcols = snap.metadata().partition_columns
    if any(c in pcols for c in cols):
        raise ValueError("zorder columns must be data columns, not partition columns")
    df = files_to_df(spark, snap, victims)
    bins = n_files or max(1, len(victims) // 2)
    if curve == "hilbert":
        bx, by = _bucket_columns(df, cols)
        keyed = with_hilbert_index(
            df.withColumn("_bx", bx).withColumn("_by", by), "_bx", "_by", out="_z"
        ).drop("_bx", "_by")
    else:
        keyed = df.withColumn("_z", _zorder_column(df, cols))
    clustered = (
        keyed.repartitionByRange(int(bins), F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    clock_ms = log.clock.now_millis()
    adds = [
        AddFile(
            path=a.path,
            partition_values=a.partition_values,
            size=a.size,
            modification_time=a.modification_time,
            data_change=False,
            stats=a.stats,
        )
        for a in stage_files(clustered, table_path, pcols)
    ]
    removes = [a.remove(clock_ms, data_change=False) for a in victims]
    return txn.commit(
        [*adds, *removes],
        ops.MANUAL_UPDATE,
        operation_parameters={
            "operation": "ZORDER" if curve == "z" else "HILBERT",
            "zOrderBy": ",".join(cols),
        },
    )


def restore(spark: SparkSession, table_path: str, version: int) -> int:
    """RESTORE TABLE to `version`: one commit that re-adds the files active
    at that version and removes files added since — time travel as a WRITE
    (the read side is snapshot_for_version_as_of).  History is preserved:
    the restore is itself a new version, so nothing is lost.
    """
    table_path = normalize_table_uri(table_path)
    log = DeltaLog.for_table(table_path)
    txn = log.start_transaction()
    snap = txn.snapshot
    if snap is None or txn.read_version < 0:
        raise ValueError(f"not a Delta table: {table_path}")
    target = log.snapshot_for_version_as_of(version)
    # "the table is now exactly version N" is a fully-specified post-state:
    # a restore whose diff is empty commits no data-change action, and only
    # Serializable makes a concurrent append conflict (rule 3) instead of
    # sliding under the RESTORE's claimed version.
    txn.read_whole_table(require_serializable=True)

    current = {a.path: a for a in snap.all_files()}
    wanted = {a.path: a for a in target.all_files()}
    clock_ms = log.clock.now_millis()
    adds = [a for p, a in wanted.items() if p not in current]
    removes = [a.remove(clock_ms) for p, a in current.items() if p not in wanted]
    return txn.commit(
        [*adds, *removes],
        ops.MANUAL_UPDATE,
        operation_parameters={"operation": "RESTORE", "version": str(version)},
    )


def restore_to_timestamp(
    spark: SparkSession, table_path: str, timestamp_millis: int
) -> int:
    """RESTORE TABLE TO TIMESTAMP: resolve the last commit at-or-before
    the timestamp on the table's adjusted timeline (the same resolution
    the read side's snapshot_for_timestamp_as_of uses), then restore to
    that version."""
    table_path = normalize_table_uri(table_path)
    log = DeltaLog.for_table(table_path)
    latest = log.update().version
    commit = log.history.active_commit_at_time(
        latest, timestamp_millis, can_return_last_commit=True
    )
    return restore(spark, table_path, commit.version)


def clone_shallow(
    spark: SparkSession, src_path: str, dest_path: str
) -> int:
    """SHALLOW CLONE: create `dest_path` as a zero-copy table whose log
    references the SOURCE's data files by absolute path (the Delta
    protocol's absolute-path AddFile form; `_relativize` deliberately
    leaves outside-the-root paths absolute — transaction.py:289-292).

    O(#files) metadata work, zero data bytes moved: the 100 TB way to
    fork a table for experimentation.  The clone starts its OWN history
    (version 0 = CLONE), gets a fresh table id, and subsequent writes
    land inside the clone's root — the source is never touched.  VACUUM
    on the clone only lists under the clone's root, so it can never
    delete source data; VACUUM on the source CAN delete files the clone
    still references (the documented Delta shallow-clone hazard).

    reference: delta-go has no clone; semantics follow the public Delta
    protocol (add.path "may be absolute") + OSS delta SHALLOW CLONE.
    """
    import dataclasses
    import uuid

    from delta_go_spark.actions import encode_path
    from delta_go_spark.snapshot import DeltaError, canonicalize_path

    src_log = DeltaLog.for_table(src_path)
    snap = src_log.update()
    dest_log = DeltaLog.for_table(dest_path)
    if dest_log.table_exists():
        raise DeltaError(f"clone destination already exists: {dest_path}")
    txn = dest_log.start_transaction()
    meta = snap.metadata()
    txn.update_metadata(
        dataclasses.replace(
            meta, id=str(uuid.uuid4()), created_time=dest_log.clock.now_millis()
        )
    )
    adds = [
        dataclasses.replace(
            a,
            path=encode_path(canonicalize_path(a.path, snap.table_root)),
            data_change=True,
        )
        for a in snap.all_files()
    ]
    return txn.commit(
        adds,
        "CLONE",
        operation_parameters={
            "source": snap.table_root,
            "sourceVersion": str(snap.version),
        },
    )


def _stats_for_uri(uri: str) -> str | None:
    """Footer-only Delta stats for one data file (local open or ranged
    GETs through the store) — module-level so Spark executors can import
    and run it inside the distributed backfill job."""
    from delta_go_spark.store import store_for
    from delta_go_spark.writer import (
        _stats_from_footer,
        _stats_from_remote_footer,
    )

    if "://" in uri and not uri.startswith("file://"):
        return _stats_from_remote_footer(uri, store_for(uri))
    return _stats_from_footer(uri.removeprefix("file://"))


def compute_stats(spark: SparkSession, table_path: str) -> int | None:
    """ANALYZE-style stats backfill (OSS Delta's `ANALYZE TABLE ...
    COMPUTE DELTA STATISTICS`): recompute per-file stats for active files
    MISSING them and commit replacement AddFiles with data_change=False —
    newest-add-wins replay swaps the entries in place, so min/max file
    skipping and metadata-only COUNT(*) start working on files written by
    stats-less writers (a converted table, another engine's output).

    Only parquet FOOTERS are read (KBs per file, ranged GETs on cloud
    stores), as a Spark job over the missing-file list when the paths are
    executor-resolvable (same dispatch rule as the deep-clone copy); each
    returned stats string is a few hundred bytes, so collecting them is
    O(missing files) driver memory — the same order the commit itself
    requires.  Returns the new version, or None when nothing was missing
    or no footer yielded stats (no empty commits).

    reference: stats carriage per action/add.go:10-18; the reference has
    no ANALYZE — semantics follow OSS Delta's statistics recompute.
    """
    import dataclasses

    from delta_go_spark.snapshot import canonicalize_path
    from delta_go_spark.store import has_registered_binding

    log = DeltaLog.for_table(table_path)
    # The transaction opens BEFORE the missing-file list is derived, and
    # declares the whole table read: a concurrent DELETE/OPTIMIZE that
    # removes a listed file while the (potentially long) footer job runs
    # must surface as a commit conflict — committing a replacement
    # AddFile for a removed path would RESURRECT it under newest-add-wins
    # replay (deleted rows back, compacted rows duplicated).
    txn = log.start_transaction()
    snap = txn.snapshot
    if snap is None:
        from delta_go_spark.snapshot import DeltaError

        raise DeltaError(f"table does not exist: {table_path}")
    txn.read_whole_table()
    missing = [a for a in snap.all_files() if not a.stats]
    if not missing:
        return None
    uris = [canonicalize_path(a.path, snap.table_root) for a in missing]
    driver_only = spark is None or any(has_registered_binding(u) for u in uris)
    if driver_only:
        stats_list = [_stats_for_uri(u) for u in uris]
    else:
        sc = spark.sparkContext
        n = max(1, min(len(uris), sc.defaultParallelism * 2))
        stats_list = sc.parallelize(uris, n).map(_stats_for_uri).collect()
    updated = [
        dataclasses.replace(a, stats=s, data_change=False)
        for a, s in zip(missing, stats_list)
        if s is not None
    ]
    if not updated:
        return None
    return txn.commit(
        updated,
        "COMPUTE STATISTICS",
        operation_parameters={"files": str(len(updated))},
    )


# Ranged-GET / streamed-PUT chunk size for deep-clone copies: large enough
# to amortize per-request overhead, small enough that a task never holds
# more than ~2 chunks in memory regardless of file size.
_CLONE_CHUNK_BYTES = 32 << 20


def _clone_copy_one(
    src_uri: str,
    dest_uri: str,
    size: int | None,
    chunk_bytes: int = _CLONE_CHUNK_BYTES,
) -> None:
    """Copy one file store->store in bounded memory: ranged reads feeding
    a streaming write — never a whole-file bytes object.  Module-level so
    Spark executors can import and run it inside the distributed copy
    job (and the driver fallback uses the identical code path)."""
    from delta_go_spark.store import store_for

    src = store_for(src_uri)
    dst = store_for(dest_uri)
    n_total = src.size_of(src_uri) if not size else size

    def chunks():
        off = 0
        while off < n_total:
            n = min(chunk_bytes, n_total - off)
            yield src.read_range(src_uri, off, n)
            off += n

    dst.write_stream(dest_uri, chunks())


def clone_deep(
    spark: SparkSession, src_path: str, dest_path: str, max_workers: int = 8
) -> int:
    """DEEP CLONE: a fully independent copy — every live data file is
    copied under the destination root, then a CLONE commit references
    the copies by relative path.  Unlike `clone_shallow`, VACUUM on the
    source can never invalidate the clone.

    The byte movement runs as a SPARK JOB: the file list is parallelized
    across executors and each task streams its files store-to-store in
    32 MiB ranged chunks — aggregate copy bandwidth scales with the
    cluster, and no whole file (let alone the table) ever transits the
    driver, which at 100 TB is the difference between hours and days
    (this is how OSS Delta distributes deep clones).  The driver-side
    thread pool remains ONLY for register_store-bound paths (injected
    fake/emulator clients exist solely in the driver process), and it
    streams the same bounded chunks.  File CONTENTS are copied
    byte-for-byte, so sizes and stats carry over unchanged (AddFile
    stats carriage per reference: action/add.go:10-18) and data skipping
    works immediately on the clone.  Outside-the-root absolute
    references (e.g. in a shallow clone being deepened) are flattened to
    uniquified basenames under the clone root.

    reference: delta-go has no clone; semantics follow OSS Delta's
    CREATE TABLE ... DEEP CLONE (fresh table id, history restarts at 0).
    """
    import dataclasses
    import uuid
    from concurrent.futures import ThreadPoolExecutor
    from urllib.parse import unquote

    from delta_go_spark.actions import encode_path
    from delta_go_spark.snapshot import DeltaError, canonicalize_path
    from delta_go_spark.store import has_registered_binding, store_for

    src_log = DeltaLog.for_table(src_path)
    snap = src_log.update()
    dest_log = DeltaLog.for_table(dest_path)
    if dest_log.table_exists():
        raise DeltaError(f"clone destination already exists: {dest_path}")
    dest_root = dest_log.table_path

    copies: list[tuple[str, str, AddFile, str]] = []
    for i, a in enumerate(snap.all_files()):
        src_uri = canonicalize_path(a.path, snap.table_root)
        rel = unquote(a.path)
        if "://" in rel or rel.startswith("file:") or os.path.isabs(rel):
            # flatten outside-root references; the index prefix keeps two
            # same-named source files from colliding in the flat layout
            rel = f"{i:05d}-{src_uri.rstrip('/').rsplit('/', 1)[-1]}"
        if "://" in dest_root:
            dest_uri = f"{dest_root}/{rel}"
        else:
            dest_uri = os.path.join(dest_root, rel)
        copies.append((src_uri, dest_uri, a, rel))

    # register_store bindings live only in the driver process — executors
    # could not resolve those URIs, so such clones stay on the driver
    # pool (still chunk-streamed, never whole-file bytes).
    driver_only = spark is None or any(
        has_registered_binding(u) for s, d, _, _ in copies for u in (s, d)
    )

    try:
        if copies and not driver_only:
            specs = [(s, d, a.size) for s, d, a, _ in copies]
            sc = spark.sparkContext
            n_slices = max(1, min(len(specs), sc.defaultParallelism * 2))
            sc.parallelize(specs, n_slices).foreach(
                lambda t: _clone_copy_one(t[0], t[1], t[2])
            )
        elif copies:
            with ThreadPoolExecutor(max_workers=max_workers) as pool:
                list(
                    pool.map(
                        lambda t: _clone_copy_one(t[0], t[1], t[2].size),
                        copies,
                    )
                )
        txn = dest_log.start_transaction()
        meta = snap.metadata()
        txn.update_metadata(
            dataclasses.replace(
                meta,
                id=str(uuid.uuid4()),
                created_time=dest_log.clock.now_millis(),
            )
        )
        adds = [
            dataclasses.replace(a, path=encode_path(rel), data_change=True)
            for (_, _, a, rel) in copies
        ]
        return txn.commit(
            adds,
            "CLONE",
            operation_parameters={
                "source": snap.table_root,
                "sourceVersion": str(snap.version),
                "deep": "true",
            },
        )
    except BaseException:
        # until the CLONE commit lands there is no _delta_log at dest, so
        # files left by a failed copy could never be VACUUMed — clean
        # them out so a retry starts from nothing.  EXCEPT when the
        # failure is a lost commit race: a concurrent clone committed the
        # same rel-path files, and deleting them would gut the winner's
        # live table — re-check for a committed log before touching
        # anything.
        if not DeltaLog.for_table(dest_path).table_exists():
            for _, dest_uri, _, _ in copies:
                try:
                    store_for(dest_uri).delete(dest_uri)
                except Exception:
                    pass
        raise


def convert_to_delta(
    spark: SparkSession,
    directory: str,
    partition_by: list[str] | None = None,
) -> int:
    """CONVERT an existing parquet directory into a Delta table IN PLACE
    (reference: op/names.go CONVERT; delta.io `CONVERT TO DELTA`
    semantics): no data file is rewritten or moved — ONE commit records
    Protocol + Metadata + an AddFile per existing file, with footer-only
    stats, after which the directory is a live Delta table (DML, time
    travel, OPTIMIZE all work; version 0 is the pre-Delta state).

    Hive-partitioned layouts are recognized from `key=value` path
    segments; `partition_by` pins the expected partition columns (and
    their order) — inferred from the first file's path when omitted.
    Column TYPES (including partition columns) come from Spark's parquet
    schema inference over the directory, exactly what a reader of the
    un-converted directory would see.

    Scale shape: the directory listing is one filesystem walk and each
    AddFile's stats read only that file's FOOTER (the compute_stats
    machinery) — cost is O(#files) metadata operations, zero data bytes;
    the same shape the reference's conversion-equivalent (a fresh commit
    of existing objects) would have.  Local paths only: a cloud prefix
    would instead register existing objects through the LogStore listing
    (store-side walk), which native cloud tables get by writing through
    the engine in the first place."""
    import json

    from delta_go_spark.actions import Metadata, encode_path
    from delta_go_spark.snapshot import DeltaError
    from delta_go_spark.store import is_cloud_uri
    from delta_go_spark.types import schema_to_json
    from delta_go_spark.writer import (
        _partition_values_from_rel,
        _stats_from_footer,
    )

    directory = normalize_table_uri(directory)
    if is_cloud_uri(directory):
        raise DeltaError(
            "convert_to_delta supports local directories; cloud prefixes "
            "should be written through the engine (or registered via a "
            "store-side listing job)"
        )
    local = directory  # normalize_table_uri returns a plain abspath here
    log = DeltaLog.for_table(directory)
    if log.table_exists():
        raise DeltaError(f"{directory} is already a Delta table")

    rels: list[str] = []
    for root, dirs, files in os.walk(local):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in files:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                rel = os.path.relpath(os.path.join(root, name), local)
                rels.append(rel.replace(os.sep, "/"))
    if not rels:
        raise DeltaError(f"no parquet files under {local}")
    rels.sort()

    def parts_of(rel: str) -> list[str]:
        return [
            seg.split("=", 1)[0]
            for seg in rel.split("/")[:-1]
            if "=" in seg
        ]

    inferred = parts_of(rels[0])
    if partition_by is None:
        partition_by = inferred
    for rel in rels:
        if parts_of(rel) != partition_by:
            raise DeltaError(
                f"inconsistent hive layout: {rel} does not carry partition "
                f"columns {partition_by}"
            )

    # Types (incl. partition columns) = Spark's own inference over the
    # un-converted directory; basePath keeps hive columns in the schema.
    schema = (
        spark.read.option("basePath", local).parquet(local).schema
    )
    missing = [
        p for p in partition_by
        if p.lower() not in {f.name.lower() for f in schema.fields}
    ]
    if missing:
        raise DeltaError(f"partition columns {missing} not in inferred schema")

    clock_ms = log.clock.now_millis()
    adds = []
    for rel in rels:
        abs_path = os.path.join(local, rel.replace("/", os.sep))
        rel_dir = os.path.dirname(rel)
        adds.append(
            AddFile(
                path=encode_path(rel),
                # the helper splits on os.sep — hand it native separators
                # or multi-level hive layouts mis-parse on Windows
                partition_values=_partition_values_from_rel(
                    rel_dir.replace("/", os.sep), partition_by
                ),
                size=os.path.getsize(abs_path),
                modification_time=int(os.path.getmtime(abs_path) * 1000),
                data_change=True,
                stats=_stats_from_footer(abs_path),
            )
        )

    txn = log.start_transaction()
    txn.update_metadata(
        Metadata(
            schema_string=schema_to_json(schema),
            partition_columns=list(partition_by),
            created_time=clock_ms,
        )
    )
    return txn.commit(
        adds,
        ops.CONVERT,
        operation_parameters={
            "numFiles": str(len(adds)),
            "partitionBy": json.dumps(list(partition_by)),
        },
    )
