"""Change Data Feed reader: row-level changes between versions.

The write side (dml.py) stages preimage/postimage/delete/insert rows under
`_change_data/` and commits AddCDCFile actions when
`delta.enableChangeDataFeed` is true — the public Delta CDF layout (the
reference carries the cdc action but never interprets it, action/cdc.go).
This module is the read half: `table_changes` returns the table schema plus
`_change_type` and `_commit_version`.

Versions WITHOUT cdc actions degrade to file-level semantics: dataChange
adds surface as `insert` rows and dataChange removes as `delete` rows (the
removed parquet is still on disk until VACUUM's retention passes — the
copy-on-write invariant).  That covers appends and whole-file deletes
exactly; a rewrite commit from a pre-CDF UPDATE shows as delete+insert of
the rewritten rows, which is a faithful (if coarser) change set.

Scale: at most four scans regardless of version count — Hive-layout cdc
files, legacy cdc files, non-cdc adds and non-cdc removes.  Each is one
datareader.read_files_with_pv call: the scan paths come from
datareader.scan_paths, and partition values and `_commit_version` attach
through that reader's single broadcast join on the decoded file name.
This module never spells a scan path or decodes Spark's file name itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from delta_go_spark.actions import AddCDCFile, AddFile, RemoveFile
from delta_go_spark.datareader import COMMIT_VERSION_COL
from delta_go_spark.log import DeltaLog
from delta_go_spark.snapshot import canonicalize_path
from delta_go_spark.writer import CHANGE_TYPE_COL


def cdf_entries(
    log: DeltaLog,
    table_root: str,
    start_version: int,
    end_version_exclusive: int | None = None,
    fail_on_data_loss: bool = True,
) -> list[tuple]:
    """The single source of truth for resolving a version range into
    change entries `(abs_path, partition_values, change_type|None,
    version, size)` — change_type None marks a cdc file that carries its
    own `_change_type` column; versions with cdc actions contribute ONLY
    those (their add/remove actions are rewrite mechanics, not changes).
    Shared by table_changes, the batch CDF reader, and the streaming CDF
    source.  fail_on_data_loss raises on a log gap (expired versions)
    instead of silently returning a partial change set."""
    entries: list[tuple] = []
    for vlog in log.changes(start_version, fail_on_data_loss=fail_on_data_loss):
        if end_version_exclusive is not None and vlog.version >= end_version_exclusive:
            break
        cdcs = [a for a in vlog.actions if isinstance(a, AddCDCFile)]
        if cdcs:
            for c in cdcs:
                entries.append(
                    (canonicalize_path(c.path, table_root),
                     dict(c.partition_values or {}), None,
                     vlog.version, c.size or 0)
                )
            continue
        for a in vlog.actions:
            if isinstance(a, AddFile) and a.data_change:
                entries.append(
                    (canonicalize_path(a.path, table_root),
                     dict(a.partition_values or {}), "insert",
                     vlog.version, a.size or 0)
                )
            elif isinstance(a, RemoveFile) and a.data_change:
                entries.append(
                    (canonicalize_path(a.path, table_root),
                     dict(a.partition_values or {}), "delete",
                     vlog.version, a.size or 0)
                )
    return entries


def table_changes(
    spark: SparkSession,
    table_path: str,
    start_version: int = 0,
    end_version: int | None = None,
    fail_on_data_loss: bool = True,
    predicate=None,
    start_timestamp: int | None = None,
    end_timestamp: int | None = None,
) -> DataFrame:
    """Row-level changes for versions in [start_version, end_version]
    (end defaults to latest).  Output: table schema + `_change_type`
    ('insert' | 'delete' | 'update_preimage' | 'update_postimage') +
    `_commit_version`.  Raises when the range reaches into expired
    (cleaned-up) versions unless fail_on_data_loss=False.

    `predicate` (an expressions.Expression) filters the change rows; its
    partition-column conjunct prunes whole files — cdc files included,
    since they carry partitionValues like data files — before any scan.

    Timestamp bounds (epoch millis, Delta's TVF semantics) may replace the
    version bounds: start = first commit at-or-after start_timestamp, end
    = last commit at-or-before end_timestamp."""
    from delta_go_spark.store import normalize_table_uri

    table_path = normalize_table_uri(table_path)
    log = DeltaLog.for_table(table_path)
    snap = log.update()  # resolved once; timestamp bounds reuse it
    start_from_timestamp = start_timestamp is not None
    if start_from_timestamp:
        v = log.history.first_version_at_or_after(int(start_timestamp))
        # every commit older than the bound -> empty change set past the tip
        start_version = v if v is not None else snap.version + 1
    if end_timestamp is not None:
        end_version = log.history.active_commit_at_time(
            snap.version, int(end_timestamp), can_return_last_commit=True
        ).version
    meta = snap.metadata()
    schema = meta.schema()
    pcols = list(meta.partition_columns or [])

    pushed = None
    if predicate is not None and pcols:
        from delta_go_spark.expressions import (
            split_metadata_and_data_predicates,
        )

        pushed, _residual = split_metadata_and_data_predicates(predicate, pcols)

    def pruned_out(pv: dict) -> bool:
        # Prune only when the entry carries a complete partition tuple:
        # legacy cdc files recorded {} and must always be read.
        if pushed is None or not all(c in pv for c in pcols):
            return False
        record = {k.lower(): v for k, v in pv.items()}
        return pushed.eval(record) is not True

    end_excl = end_version + 1 if end_version is not None else None
    if start_from_timestamp and start_version > snap.version:
        # a TIMESTAMP bound past the tip means "no changes yet" — empty
        # set.  An explicit start_version past the tip stays an error
        # (Delta semantics: a typo'd version should not read as empty).
        entries = []
    else:
        entries = [
            e
            for e in cdf_entries(
                log, table_path, start_version, end_excl, fail_on_data_loss
            )
            if not pruned_out(e[1])
        ]
    from delta_go_spark.datareader import read_files_with_pv, scan_paths

    # Scan paths for every surviving entry in ONE batch (a connector-less
    # cloud table downloads them in parallel; pruned files never are).
    # Per change type: scan path -> (partitionValues, latest version).
    paths = scan_paths(spark, table_path, [e[0] for e in entries], log.store)
    by_type: dict[str | None, dict[str, tuple[dict, int]]] = {}
    for (_, pv, ctype, version, _size), p in zip(entries, paths):
        by_type.setdefault(ctype, {})[p] = (pv, version)

    out_schema = StructType(
        [*schema.fields, StructField(CHANGE_TYPE_COL, StringType())]
    )

    def read(group: dict[str, tuple[dict, int]], read_schema, read_pcols):
        return read_files_with_pv(
            spark, read_schema, read_pcols, group, versioned=True
        )

    parts: list[DataFrame] = []
    cdc = by_type.pop(None, {})
    # Hive-layout cdc files (complete partitionValues, written by the
    # current staging) get the columns injected from the log; legacy cdc
    # files recorded {} and embed partition columns physically.
    hive = {
        p: e for p, e in cdc.items() if pcols and all(c in e[0] for c in pcols)
    }
    phys = {p: e for p, e in cdc.items() if p not in hive}
    if hive:
        parts.append(read(hive, out_schema, pcols))
    if phys:
        parts.append(read(phys, out_schema, []))
    for ctype, group in by_type.items():
        parts.append(
            read(group, schema, pcols).withColumn(CHANGE_TYPE_COL, F.lit(ctype))
        )

    if not parts:
        parts.append(read({}, out_schema, []))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.select(*out_schema.names, COMMIT_VERSION_COL)
    if predicate is not None:
        # row-level filter on top of the file-level prune (same layering as
        # DeltaScan.to_df — the pushed conjunct re-applies for free)
        out = out.filter(predicate.to_spark())
    return out


def snapshot_diff(
    spark: "SparkSession",
    table_path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> "DataFrame":
    """Row-level diff between two versions of ANY Delta table — including
    tables WITHOUT change data feed enabled, where `table_changes` can
    only degrade to whole-file add/remove semantics (every row of a
    rewritten file shows as delete+insert even when unchanged).  Output:
    key columns + `change` ('inserted' | 'deleted' | 'updated') +
    `old_<c>` / `new_<c>` for every compared column; rows identical in
    both versions are dropped.

    CONTRACT: `key_cols` must uniquely identify rows (within each
    version).  Duplicate keys would fan the full-outer join into
    per-key cross products and silently misclassify rows as 'updated';
    a key whose rows span a changed and an unchanged file would be
    labeled 'deleted' while a same-key row survives elsewhere.  The
    guard below probes the CHANGED-file rows (the only rows this diff
    can see — one bounded aggregate, same cost class as the join
    itself) and raises DeltaError naming the offending key, the same
    refuse-loudly style as MERGE's NULL-key guard (dml.py).

    The 100 TB property is FILE-LEVEL PRUNING: Delta data files are
    immutable, so a file present in both snapshots is byte-identical and
    contributes no diff — only the symmetric difference of the two
    AddFile sets is read, and the join is bounded by CHANGED-file rows,
    never the table.  (A daily diff of a 100 TB table that rewrote 1% of
    its files reads 2% of it.)  reference: version walking
    log.go:188-226; the row-level reconcile exceeds the reference, whose
    Changes surface is file-granular."""
    from pyspark.sql import functions as F

    from delta_go_spark.datareader import files_to_df
    from delta_go_spark.log import DeltaLog

    log = DeltaLog.for_table(table_path)
    s_old = log.snapshot_for_version_as_of(v_old)
    s_new = log.snapshot_for_version_as_of(v_new)
    old_files = {a.path: a for a in s_old.all_files()}
    new_files = {a.path: a for a in s_new.all_files()}
    only_old = [a for p, a in old_files.items() if p not in new_files]
    only_new = [a for p, a in new_files.items() if p not in old_files]
    old_df = files_to_df(spark, s_old, only_old)
    new_df = files_to_df(spark, s_new, only_new)
    if compare_cols is None:
        compare_cols = [c for c in old_df.columns if c not in key_cols]
    missing = [c for c in [*key_cols, *compare_cols] if c not in old_df.columns]
    if missing:
        raise ValueError(f"unknown column(s) {missing}")
    # duplicate-key probe: one aggregate over the already-bounded
    # changed-file rows (never the table); a dup on either side means the
    # full-outer below would fan out and misclassify — refuse loudly.
    # Helper column names are lengthened until they collide with no key
    # column (the MERGE `_u_` staging-prefix rule): a table legitimately
    # keyed `_side` or `_n` must not break or bias the probe.
    side_col, cnt_col = "_side", "_n"
    while side_col in key_cols:
        side_col = "_" + side_col
    while cnt_col in key_cols:
        cnt_col = "_" + cnt_col
    dup = (
        old_df.select(*key_cols).withColumn(side_col, F.lit("old"))
        .unionByName(
            new_df.select(*key_cols).withColumn(side_col, F.lit("new"))
        )
        .groupBy(side_col, *key_cols)
        .agg(F.count(F.lit(1)).alias(cnt_col))
        .filter(F.col(cnt_col) > 1)
        .limit(1)
        .collect()
    )
    if dup:
        from delta_go_spark.snapshot import DeltaError

        r = dup[0]
        keyrepr = ", ".join(f"{c}={r[c]!r}" for c in key_cols)
        raise DeltaError(
            f"snapshot_diff: key ({keyrepr}) is duplicated within the "
            f"{r[side_col]}-version changed rows; key_cols must uniquely "
            f"identify rows or the full-outer diff join fans out and "
            f"misclassifies rows as 'updated' — pass a unique key"
        )
    o = old_df.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("_in_old", F.lit(True))
    n = new_df.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("_in_new", F.lit(True))
    j = o.join(n, key_cols, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("inserted"))
        .when(F.col("_in_new").isNull(), F.lit("deleted"))
        .otherwise(F.lit("updated"))
    )
    return (
        j.filter(
            F.col("_in_old").isNull() | F.col("_in_new").isNull() | differs
        )
        .select(
            *key_cols,
            change.alias("change"),
            *[F.col(f"old_{c}") for c in compare_cols],
            *[F.col(f"new_{c}") for c in compare_cols],
        )
    )
