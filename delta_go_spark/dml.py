"""Copy-on-write DML over Delta tables: DELETE / UPDATE / MERGE / TRUNCATE.

The reference defines these operation names (op/names.go:16-51) but
delegates the data plane entirely (README.md:14-16) — this module is that
compute engine, Spark-first:

- Candidate files come from the pruned scan (partition + min/max stats
  skipping), so untouched files are never read, let alone rewritten.
- Touched files are identified by running the predicate over the candidate
  scan and collecting each matching row's file — one Spark job that reads
  only candidate files and returns a small path list to the driver
  (O(#files), not rows).  datareader.py owns both halves of that match:
  which path the scan reads for a log file (`scan_files`, resolved once
  per job) and how Spark's reported file name decodes back to it
  (`file_name`); this module never spells a path itself.
- Rewrites read ONLY touched files, apply the row transform, and stage new
  parquet; the commit removes touched files and adds rewritten ones in one
  atomic transaction with the proper operation name, protected by
  mark_files_as_read → conflict detection (trnx.go §A.4 rules).
- MERGE is a broadcast-or-shuffle hash join between the target's touched
  files and the source, exactly the plan Catalyst picks for the join
  condition; not-matched inserts append new files without touching the
  rest of the table.

At 100 TB: cost scales with the touched-file set (the point of
copy-on-write + file skipping), never with table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_go_spark import config as cfg
from delta_go_spark import ops
from delta_go_spark.actions import AddFile
from delta_go_spark.expressions import Expression
from delta_go_spark.log import DeltaLog
from delta_go_spark.snapshot import DeltaError
from delta_go_spark.writer import (
    CHANGE_TYPE_COL,
    apply_generated_columns,
    check_constraints,
    recompute_generated_columns,
    stage_cdc_files,
    stage_files,
)


# Below this many active files a keyed MERGE skips candidate pruning:
# the source-bounds aggregate costs one job, worth paying only when
# there are files to skip (see DeltaDml._merge_candidates).
_MERGE_PRUNE_MIN_FILES = 8
# At or below this many DISTINCT source keys, pruning uses an exact
# In-list (per-value skipping) instead of the [min, max] range — the
# distinct collect is one extra bounded job, gated by a cheap
# approx_count_distinct in the bounds aggregate.
_MERGE_PRUNE_IN_CAP = 64


def _cdf_enabled(snap) -> bool:
    return cfg.get_bool(
        snap.metadata().configuration or {}, cfg.ENABLE_CHANGE_DATA_FEED
    )


def _has_constraints(snap) -> bool:
    from delta_go_spark.writer import CONSTRAINT_PREFIX

    return any(
        k.startswith(CONSTRAINT_PREFIX)
        for k in (snap.metadata().configuration or {})
    )


def _touched_paths(
    spark: SparkSession, snapshot, candidates: list[AddFile], predicate
) -> tuple[list[AddFile], DataFrame]:
    """Which candidate files actually contain rows matching `predicate`?

    Returns (touched AddFiles, DataFrame over exactly those files).  The
    match test is one aggregate over datareader.file_name() — reads
    candidate files once, returns only distinct paths to the driver."""
    from delta_go_spark.datareader import file_name, read_scan, scan_files

    if not candidates:
        return [], None
    scan = scan_files(spark, snapshot, candidates)
    df = read_scan(spark, snapshot, scan)
    # toLocalIterator streams one partition of distinct paths at a time, so
    # the driver never holds a second materialized copy of the path list —
    # on a 100 TB table with millions of matched files the set itself is
    # unavoidable (each path becomes a RemoveFile in the commit), but the
    # Row-object batch from a collect() is not.
    matched_rows = (
        df.filter(predicate)
        .select(file_name().alias("_f"))
        .distinct()
        .toLocalIterator()
    )
    names = {r["_f"] for r in matched_rows}
    touched = {p: a for p, a in scan.items() if p in names}
    if not touched:
        return [], None
    return list(touched.values()), read_scan(spark, snapshot, touched)


class DeltaDml:
    """DML executor bound to one table.  Each method is one transaction."""

    def __init__(self, spark: SparkSession, table_path: str):
        from delta_go_spark.store import normalize_table_uri

        self.spark = spark
        self.table_path = normalize_table_uri(table_path)

    def _begin(self):
        log = DeltaLog.for_table(self.table_path)
        txn = log.start_transaction()
        snap = txn.snapshot
        if snap is None or txn.read_version < 0:
            raise ValueError(f"not a Delta table: {self.table_path}")
        return log, txn, snap

    # -- DELETE ------------------------------------------------------------
    def delete(self, predicate: Expression) -> int:
        """Delete rows matching `predicate` (op/names.go DELETE).  Files
        with no matches survive untouched; files with matches are rewritten
        keeping only non-matching rows."""
        log, txn, snap = self._begin()
        candidates = txn.mark_files_as_read(predicate)
        pred_col = predicate.to_spark()
        touched, df = _touched_paths(self.spark, snap, candidates, pred_col)
        if not touched:
            return txn.commit([], ops.DELETE, operation_parameters={"predicate": str(predicate)})
        cdf = _cdf_enabled(snap)
        if cdf:
            # the rewrite job AND the cdc job both read the touched files —
            # cache the scan so the second pass hits memory, not parquet
            df = df.persist()
        try:
            survivors = df.filter(~pred_col | pred_col.isNull())
            pcols = snap.metadata().partition_columns
            clock_ms = log.clock.now_millis()
            adds = stage_files(survivors, self.table_path, pcols)
            removes = [a.remove(clock_ms) for a in touched]
            cdc: list = []
            if cdf:
                cdc = stage_cdc_files(
                    df.filter(pred_col).withColumn(
                        CHANGE_TYPE_COL, F.lit("delete")
                    ),
                    self.table_path,
                    pcols,
                )
            return txn.commit(
                [*adds, *removes, *cdc],
                ops.DELETE,
                operation_parameters={"predicate": str(predicate)},
            )
        finally:
            if cdf:
                df.unpersist()

    # -- UPDATE ------------------------------------------------------------
    def update(self, predicate: Expression, assignments: dict[str, object]) -> int:
        """UPDATE ... SET col = expr WHERE predicate.  `assignments` maps
        column name -> Spark Column (or literal)."""
        log, txn, snap = self._begin()
        candidates = txn.mark_files_as_read(predicate)
        pred_col = predicate.to_spark()
        touched, df = _touched_paths(self.spark, snap, candidates, pred_col)
        if not touched:
            return txn.commit([], ops.UPDATE, operation_parameters={"predicate": str(predicate)})
        cdf = _cdf_enabled(snap)
        cache = cdf or _has_constraints(snap)
        if cache:
            # the rewrite job, the constraint filter and the cdc pre/post
            # job all re-evaluate this scan — cache it once
            df = df.persist()
        try:
            updated = df
            for col, expr in assignments.items():
                value = expr if hasattr(expr, "_jc") or hasattr(expr, "_expr") else F.lit(expr)
                updated = updated.withColumn(col, F.when(pred_col, value).otherwise(F.col(col)))
            # Assigning a base column leaves stored generated values stale —
            # recompute them on the rewritten frame (no-op on untouched
            # rows, whose stored values already satisfy the formula).
            updated = recompute_generated_columns(
                updated, snap.metadata().schema(), set(assignments)
            )
            check_constraints(
                updated, snap.metadata().configuration, snap.metadata().schema()
            )
            pcols = snap.metadata().partition_columns
            clock_ms = log.clock.now_millis()
            adds = stage_files(updated, self.table_path, pcols)
            removes = [a.remove(clock_ms) for a in touched]
            cdc: list = []
            if cdf:
                # Postimage is assignments applied to the PREIMAGE rows — do
                # not re-filter the rewritten frame: an assignment that
                # touches a predicate column would make updated rows stop
                # matching.
                pre_rows = df.filter(pred_col)
                post = pre_rows
                for col, expr in assignments.items():
                    value = (
                        expr
                        if hasattr(expr, "_jc") or hasattr(expr, "_expr")
                        else F.lit(expr)
                    )
                    post = post.withColumn(col, value)
                post = recompute_generated_columns(
                    post, snap.metadata().schema(), set(assignments)
                )
                cdc = stage_cdc_files(
                    pre_rows.withColumn(CHANGE_TYPE_COL, F.lit("update_preimage"))
                    .unionByName(
                        post.withColumn(CHANGE_TYPE_COL, F.lit("update_postimage"))
                    ),
                    self.table_path,
                    pcols,
                )
            return txn.commit(
                [*adds, *removes, *cdc],
                ops.UPDATE,
                operation_parameters={"predicate": str(predicate)},
            )
        finally:
            if cache:
                df.unpersist()

    # -- MERGE -------------------------------------------------------------
    def _merge_candidates(
        self, snap, source: DataFrame, on: str, bounds=None
    ) -> list[AddFile]:
        """Stats/partition-pruned candidate files for a keyed MERGE.

        A file that can hold NO source key is invisible to every MERGE
        clause: it cannot hold a matched target row (touched-file
        probe) and cannot prove a source key already present (the
        insert anti-join — a pruned file's keys can never equal one).
        Small key sets (<= _MERGE_PRUNE_IN_CAP distinct) prune with an
        exact In-list (per-value skipping — scattered CDC keys keep
        only their own files); larger sources fall back to the
        [min(on), max(on)] range.  One tiny aggregate over the source buys file
        skipping on the big side through the SAME scan machinery filtered
        reads use (partition pruning when `on` is a partition column,
        min/max stats otherwise) — on a key-clustered 100 TB target a
        small upsert batch reads the overlapping files, not the table.  Conservative by construction:
        missing stats, un-coercible bounds, or any scan error keep every
        file; conflict detection is unchanged (read_whole_table).  An
        empty or all-NULL-key source prunes to [] — NULL never
        equi-matches, and the NULL-key insert path never consults
        existing keys.

        Gated on target file count: the bounds aggregate re-evaluates
        the SOURCE plan (one extra job), which only pays for itself
        when there are files to skip — a fixture-scale target of a
        handful of files reads faster than the probe costs (measured
        ~+0.4 s/merge on the streaming aggsink), while the 100 TB
        target this exists for has ~10^5 files.  merge() passes the
        bounds it already measured in its fused source probe via
        `bounds` (a mapping with _mn/_mx/_acd), removing the separate
        aggregate job; without it (direct callers, tests) the aggregate
        runs here as before."""
        candidates = snap.all_files()
        if len(candidates) < _MERGE_PRUNE_MIN_FILES:
            return candidates
        try:
            b = bounds if bounds is not None else source.agg(
                F.min(on).alias("_mn"),
                F.max(on).alias("_mx"),
                F.approx_count_distinct(on).alias("_acd"),
            ).first()
            if b is None or b["_mn"] is None:
                return []
            # NaN bounds make range pruning a LIE, not merely loose: Spark
            # orders NaN greatest, so a float-key source containing one NaN
            # yields _mx = NaN, and stats_may_match evaluates `mn <= NaN`
            # as provably-false for every stats-bearing file — ALL
            # candidates would prune, matched rows would never update, and
            # the insert anti-join would re-insert their keys as
            # duplicates.  No exception fires, so the conservative guard
            # below never sees it — bail to the unpruned scan explicitly.
            import math

            if any(
                isinstance(v, float) and math.isnan(v)
                for v in (b["_mn"], b["_mx"])
            ):
                return candidates
            from delta_go_spark.expressions import (
                And,
                Column,
                GreaterThanOrEq,
                In,
                LessThanOrEq,
                Literal,
            )

            # bind the key's declared dtype (sqlpred.py house rule): the
            # partition-value eval path parses raw strings through the
            # Column's dtype, so a StringType default on an int partition
            # key would compare "5" against 5
            fields = {f.name: f.dataType for f in snap.metadata().schema().fields}
            col = Column(on, fields[on])
            # a SMALL key set prunes per VALUE, not per range: a CDC batch
            # touching keys {1, 9_000_000} keeps only the two files that
            # can hold them, where [min, max] keeps everything between.
            # approx_count_distinct gates the extra distinct-collect job;
            # its few-percent error is absorbed by re-checking the exact
            # collected size (an undercount falls through to range).
            if b["_acd"] <= _MERGE_PRUNE_IN_CAP:
                # NULLs filter BEFORE the limit: a NULL key occupying the
                # overflow-detection slot would let 65 real keys pass the
                # exact size re-check as 64 — one key silently missing
                # from the In-list is the lost-update/duplicate-key
                # corruption class again (NULL keys themselves never
                # equi-match, so dropping them from the list is safe)
                ks = [
                    r[0]
                    for r in source.select(on)
                    .where(F.col(on).isNotNull())
                    .distinct()
                    .limit(_MERGE_PRUNE_IN_CAP + 1)
                    .collect()
                ]
                if ks and len(ks) <= _MERGE_PRUNE_IN_CAP:
                    pred = In(
                        col, tuple(Literal(k, fields[on]) for k in ks)
                    )
                    return list(snap.scan(pred).files())
            pred = And(
                GreaterThanOrEq(col, Literal(b["_mn"], fields[on])),
                LessThanOrEq(col, Literal(b["_mx"], fields[on])),
            )
            return list(snap.scan(pred).files())
        except Exception:
            return candidates

    def merge(
        self,
        source: DataFrame,
        on: str,
        update_set: dict[str, object] | None = None,
        delete_matched: bool = False,
        insert_not_matched: bool = True,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        delete_condition: str | None = None,
        insert_set: dict[str, object] | None = None,
        allow_null_keys: bool = False,
    ) -> int | None:
        """MERGE INTO target USING source ON target.<on> = source.<on>.

        whenMatched: UPDATE SET (update_set) or DELETE (delete_matched);
        whenNotMatched: INSERT (insert_not_matched).  `on` is an equi-join
        key present in both sides — the standard upsert shape; the source
        is joined once (broadcast when small, shuffle hash otherwise, by
        Catalyst's choice).  Candidate files are PRUNED by the source's
        key range before anything is read (_merge_candidates): the
        touched-file probe and the insert anti-join scan only files whose
        key stats can intersect [min(on), max(on)] of the source.

        insert_set (Delta's whenNotMatchedInsert(values=...) shape):
        overrides the VALUES written for not-matched rows — each entry maps
        a target column to an expression over the source columns, applied
        after the not-matched filter, so the stored value can differ from
        the join key that proved the row absent.  That decoupling is what
        makes the SCD2 merge-key union trick repeatable: the insert row
        joins on a key guaranteed to miss while persisting the natural key.
        Generated columns stay engine-computed and cannot be overridden.

        delete_condition names a BOOLEAN source column (Delta's
        whenMatchedDelete(condition=...) shape): matched target rows whose
        source row flags true are DELETED, other matched rows take
        update_set, and flagged not-matched rows are skipped rather than
        inserted.  This makes a mixed delete+upsert change batch a SINGLE
        atomic commit — the CDC-apply committer's whole contract.

        txn_app_id/txn_version: idempotent merges (SetTransaction tokens,
        same contract as write_dataframe) — a replayed merge with the same
        (app_id, version) is a no-op returning None, which is what makes
        exactly-once streaming upserts possible."""
        if update_set and delete_matched:
            raise ValueError("choose update_set or delete_matched, not both")
        if delete_condition is not None and delete_matched:
            raise ValueError(
                "delete_condition refines update_set merges; with "
                "delete_matched every matched row is deleted already"
            )
        if delete_condition is not None and delete_condition not in source.columns:
            raise ValueError(
                f"delete_condition column '{delete_condition}' not in source"
            )
        if insert_set and not insert_not_matched:
            raise ValueError("insert_set requires insert_not_matched=True")
        log, txn, snap = self._begin()
        if (
            txn_app_id is not None
            and txn_version is not None
            and txn.txn_version(txn_app_id) >= txn_version
        ):
            return None  # already applied by a previous attempt
        # The merge pipeline below evaluates the source plan repeatedly
        # (fused probe, touched-file semi-join, duplicate-key probe, the
        # rewrite join, the insert anti-join + its emptiness probe, CDC
        # staging) — up to ~7 executions.  Materialize it ONCE: delta-spark
        # itself materializes the merge source for the same reason.  The
        # source is an O(batch) frame by contract; MEMORY_AND_DISK persist
        # is bounded, keeps lineage for executor-loss recovery, and the
        # first probe below triggers it without a dedicated job.  The
        # persist sits AFTER the SetTransaction replay short-circuit, so a
        # replayed merge still pays nothing.
        source = source.persist()
        try:
            return self._merge_exec(
                log, txn, snap, source, on, update_set, delete_matched,
                insert_not_matched, txn_app_id, txn_version,
                delete_condition, insert_set, allow_null_keys,
            )
        finally:
            source.unpersist()

    def _merge_exec(
        self,
        log,
        txn,
        snap,
        source: DataFrame,
        on: str,
        update_set,
        delete_matched: bool,
        insert_not_matched: bool,
        txn_app_id,
        txn_version,
        delete_condition,
        insert_set,
        allow_null_keys: bool,
    ) -> int | None:
        """merge() body, split out so the persisted source unpersists on
        every exit path (see merge's try/finally)."""
        from delta_go_spark.hints import byte_estimate_aggs

        # ONE fused aggregate over the persisted source replaces what were
        # three separate source-plan jobs: the NULL-key probe, the
        # candidate-pruning bounds aggregate (_merge_candidates) and the
        # broadcast-guard size measurement (estimated_df_bytes).  Falls
        # back to the legacy per-probe path if the key type rejects
        # min/max (the probe must never make a mergeable source
        # unmergeable).  Gated on its CONSUMERS (the r13 ADVICE finding —
        # the fused probe ran even where the old path ran no source
        # aggregate at all): skip it entirely for a merge into an EMPTY
        # table that also needs no NULL check, and drop the bounds
        # columns when the target sits below the pruning gate, so the
        # probe never costs more than what it replaces.
        needs_null = insert_not_matched and not allow_null_keys
        n_target_files = len(snap.all_files())
        needs_bounds = n_target_files >= _MERGE_PRUNE_MIN_FILES
        fixed_per_row, baggs = 0, []
        probe = None
        if needs_null or n_target_files > 0:
            try:
                fixed_per_row, baggs = byte_estimate_aggs(source)
                aggs = [
                    F.count(F.lit(1)).alias("_cnt"),
                    F.count(F.when(F.col(on).isNull(), F.lit(1))).alias("_nk"),
                ]
                if needs_bounds:
                    aggs += [
                        F.min(on).alias("_mn"),
                        F.max(on).alias("_mx"),
                        F.approx_count_distinct(on).alias("_acd"),
                    ]
                probe = source.agg(
                    *aggs,
                    *[a.alias(f"_b{i}") for i, a in enumerate(baggs)],
                ).first()
            except Exception:
                probe = None
        # NULL merge keys never equi-match: a NULL-key source row passes
        # the insert anti-join on EVERY retry — re-inserted per batch in a
        # non-idempotent streaming upsert.  Refuse loudly, but only where
        # the trap exists: with insert_not_matched=False a NULL-key row
        # does nothing at all (ANSI behavior, matched clauses just skip
        # it).  allow_null_keys=True restores upstream ANSI behavior
        # (NULL-key rows insert) for single-shot merges that legitimately
        # want it.
        if (
            insert_not_matched
            and not allow_null_keys
            and (
                probe["_nk"] > 0
                if probe is not None
                else source.filter(F.col(on).isNull()).limit(1).count()
            )
        ):
            raise DeltaError(
                f"MERGE: source contains NULL '{on}' keys; NULL never "
                f"equi-matches, so matched clauses would silently skip and "
                f"inserts would duplicate on replay — coalesce the key to a "
                f"sentinel, filter NULLs before merging, or pass "
                f"allow_null_keys=True for ANSI insert-them-anyway behavior"
            )
        txn.read_whole_table()
        candidates = self._merge_candidates(
            snap, source, on, bounds=probe if needs_bounds else None
        )
        # Delta's multiple-match rule: a TARGET row may match at most one
        # source row.  Duplicate source keys alone are legal (an insert-only
        # merge inserts them all), so the guard is deferred until touched
        # target files are known and only runs for matched-clause merges —
        # insert-only merges pay no extra job.
        has_matched_clause = (
            bool(update_set) or delete_matched or delete_condition is not None
        )
        if has_matched_clause:
            key_counts = source.groupBy(on).agg(F.count(F.lit(1)).alias("_n"))
            keys = key_counts.select(F.col(on))
        else:
            key_counts = None
            keys = source.select(on).distinct()
        from delta_go_spark.datareader import file_name, read_scan, scan_files

        scan = scan_files(self.spark, snap, candidates) if candidates else {}
        target_df = read_scan(self.spark, snap, scan) if scan else None
        # One measured size estimate for the source batch, shared by every
        # broadcast site below (the key frames are column-subsets of the
        # source, so the full-source estimate upper-bounds them): an
        # incremental batch broadcasts as before, while a BACKFILL-sized
        # source degrades all three joins to shuffles instead of OOMing
        # executors — the size-guard rule the maintainers' other
        # change-volume broadcasts already follow.  Served from the fused
        # probe (no extra job); the legacy measurement only runs when the
        # probe itself fell back.
        from delta_go_spark.hints import broadcast_if_small, estimated_df_bytes

        if probe is not None:
            src_est_bytes = int(
                probe["_cnt"] * fixed_per_row
                + sum(probe[f"_b{i}"] or 0 for i in range(len(baggs)))
            )
        else:
            src_est_bytes = (
                estimated_df_bytes(source) if target_df is not None else 0
            )
        touched: dict[str, AddFile] = {}
        if target_df is not None:
            # The file name must bind to the TARGET scan before the join:
            # selected after it, Spark rejects the file-name expression as
            # ambiguous whenever the source is itself file-backed (e.g.
            # merging from another Delta table) — MULTI_SOURCES_UNSUPPORTED.
            semi = (
                target_df.withColumn("_f", file_name())
                .join(broadcast_if_small(keys, src_est_bytes), on, "left_semi")
                .select("_f")
                .distinct()
                .toLocalIterator()
            )
            names = {r["_f"] for r in semi}
            touched = {p: a for p, a in scan.items() if p in names}
        pcols = snap.metadata().partition_columns
        clock_ms = log.clock.now_millis()
        cdf = _cdf_enabled(snap)
        actions: list = []

        if touched:
            tdf = read_scan(self.spark, snap, touched)
            if cdf or _has_constraints(snap):
                tdf = tdf.persist()  # rewrite/constraints/cdc share one scan
            try:
                if has_matched_clause:
                    # The multiple-match check proper: a duplicated source
                    # key only errors when it hits an actual target row.
                    # Reads the touched files (already cached when
                    # cdf/constraints), never the whole table.
                    dup_keys = key_counts.filter(F.col("_n") > 1).select(F.col(on))
                    hit = (
                        tdf.join(
                            broadcast_if_small(dup_keys, src_est_bytes),
                            on,
                            "left_semi",
                        )
                        .limit(1)
                        .count()
                    )
                    if hit:
                        raise DeltaError(
                            f"MERGE: a target row matches multiple source rows "
                            f"on '{on}'; matched-clause semantics are ambiguous"
                        )
                src_cols = [c for c in source.columns if c != on]
                src = source.select(
                    F.col(on).alias("_mk"), *[F.col(c).alias(f"_s_{c}") for c in src_cols]
                )
                joined = tdf.join(
                    broadcast_if_small(src, src_est_bytes),
                    tdf[on] == F.col("_mk"),
                    "left_outer",
                )
                is_match = F.col("_mk").isNotNull()
                if delete_matched:
                    rewritten = joined.filter(~is_match).select(*tdf.columns)
                    if cdf:
                        actions.extend(
                            stage_cdc_files(
                                joined.filter(is_match)
                                .select(*tdf.columns)
                                .withColumn(CHANGE_TYPE_COL, F.lit("delete")),
                                self.table_path,
                                pcols,
                            )
                        )
                else:
                    rewritten = joined
                    if delete_condition is not None:
                        # matched + flagged => the row is deleted, not
                        # updated; CDC records it before the filter drops it
                        is_del = is_match & F.coalesce(
                            F.col(f"_s_{delete_condition}").cast("boolean"),
                            F.lit(False),
                        )
                        if cdf:
                            actions.extend(
                                stage_cdc_files(
                                    rewritten.filter(is_del)
                                    .select(*tdf.columns)
                                    .withColumn(
                                        CHANGE_TYPE_COL, F.lit("delete")
                                    ),
                                    self.table_path,
                                    pcols,
                                )
                            )
                        rewritten = rewritten.filter(~is_del)
                    # ANSI MERGE semantics: every SET expression reads the
                    # PRE-update row.  Sequential withColumn would let a
                    # later assignment see an earlier one's result — e.g. a
                    # conditional last-wins upsert whose condition compares
                    # _s_ts > ts would update ts first and then judge every
                    # other column against the NEW ts (always false).  Stage
                    # all values into temp columns first, then assign.
                    # staging prefix for the pre-image temp columns below;
                    # lengthened until it collides with no real column, so
                    # a table that legitimately has an `_u_<col>` column
                    # cannot be clobbered mid-merge
                    prefix = "_u_"
                    existing = set(rewritten.columns)
                    while any(f"{prefix}{c}" in existing for c in update_set or {}):
                        prefix = "_" + prefix
                    staged: dict[str, str] = {}
                    for col, expr in (update_set or {}).items():
                        value = (
                            expr
                            if hasattr(expr, "_jc") or hasattr(expr, "_expr")
                            else F.lit(expr)
                        )
                        tmp = f"{prefix}{col}"
                        staged[col] = tmp
                        rewritten = rewritten.withColumn(
                            tmp, F.when(is_match, value).otherwise(F.col(col))
                        )
                    for col, tmp in staged.items():
                        rewritten = rewritten.withColumn(col, F.col(tmp)).drop(tmp)
                    rewritten = recompute_generated_columns(
                        rewritten, snap.metadata().schema(), set(update_set or {})
                    )
                    # constraints BEFORE any staging: a rejected merge must not
                    # leave orphaned change-data parquet on disk
                    check_constraints(
                        rewritten.select(*tdf.columns),
                        snap.metadata().configuration,
                        snap.metadata().schema(),
                    )
                    if cdf:
                        # deleted-by-condition rows already emitted their
                        # 'delete' images; pre must mirror post's row set
                        updated = is_match
                        if delete_condition is not None:
                            updated = is_match & ~F.coalesce(
                                F.col(f"_s_{delete_condition}").cast("boolean"),
                                F.lit(False),
                            )
                        pre = joined.filter(updated).select(*tdf.columns)
                        post = rewritten.filter(updated).select(*tdf.columns)
                        actions.extend(
                            stage_cdc_files(
                                pre.withColumn(
                                    CHANGE_TYPE_COL, F.lit("update_preimage")
                                ).unionByName(
                                    post.withColumn(
                                        CHANGE_TYPE_COL, F.lit("update_postimage")
                                    )
                                ),
                                self.table_path,
                                pcols,
                            )
                        )
                    rewritten = rewritten.select(*tdf.columns)
                actions.extend(stage_files(rewritten, self.table_path, pcols))
                actions.extend(a.remove(clock_ms) for a in touched.values())
            finally:
                # unpersist even when a constraint rejection aborts the
                # merge — otherwise the cached frame leaks for the session
                if cdf or _has_constraints(snap):
                    tdf.unpersist()

        if insert_not_matched:
            schema_cols = [f.name for f in snap.metadata().schema().fields]
            existing_keys = (
                target_df.select(on).distinct() if target_df is not None else None
            )
            new_rows = source
            if delete_condition is not None:
                # a delete for an absent key is a no-op, never an insert
                new_rows = new_rows.filter(
                    ~F.coalesce(
                        F.col(delete_condition).cast("boolean"), F.lit(False)
                    )
                )
            if existing_keys is not None:
                new_rows = new_rows.join(existing_keys, on, "left_anti")
            from delta_go_spark.writer import GENERATION_EXPRESSION_KEY

            schema = snap.metadata().schema()
            fields = {f.name: f.dataType for f in schema.fields}
            gen_cols = {
                f.name
                for f in schema.fields
                if f.metadata and GENERATION_EXPRESSION_KEY in f.metadata
            }
            if insert_set:
                bad = sorted(set(insert_set) - set(fields))
                if bad:
                    raise ValueError(f"insert_set targets unknown columns: {bad}")
                bad = sorted(set(insert_set) & gen_cols)
                if bad:
                    raise ValueError(
                        f"insert_set cannot override generated columns: {bad}"
                    )
                # after the not-matched filter (the join key already proved
                # absence), before schema alignment — so the stored value
                # may differ from the join key
                for col, expr in insert_set.items():
                    value = (
                        expr
                        if hasattr(expr, "_jc") or hasattr(expr, "_expr")
                        else F.lit(expr)
                    )
                    new_rows = new_rows.withColumn(col, value)
            # Missing NON-generated columns become typed NULLs; missing
            # generated columns are computed from their expressions (a NULL
            # fill would violate the stored-value contract on insert).
            base = new_rows.select(
                *[
                    F.col(c)
                    if c in new_rows.columns
                    else F.lit(None).cast(fields[c]).alias(c)
                    for c in schema_cols
                    if c in new_rows.columns or c not in gen_cols
                ]
            )
            insertable = apply_generated_columns(base, schema).select(*schema_cols)
            if insertable.limit(1).count() > 0:
                check_constraints(
                    insertable,
                    snap.metadata().configuration,
                    snap.metadata().schema(),
                )
                actions.extend(stage_files(insertable, self.table_path, pcols))
                if cdf:
                    actions.extend(
                        stage_cdc_files(
                            insertable.withColumn(CHANGE_TYPE_COL, F.lit("insert")),
                            self.table_path,
                            pcols,
                        )
                    )

        if txn_app_id is not None and txn_version is not None:
            from delta_go_spark.actions import SetTransaction

            actions.append(SetTransaction(txn_app_id, txn_version, clock_ms))
        return txn.commit(actions, ops.MERGE, operation_parameters={"on": on})

    # -- TRUNCATE ----------------------------------------------------------
    def truncate(self) -> int:
        """Remove every active file; schema survives (op/names.go TRUNCATE)."""
        log, txn, snap = self._begin()
        # "the table is now empty" is a fully-specified post-state:
        # truncating an ALREADY-empty table commits no data-change action,
        # and only Serializable lets a concurrent append conflict (rule 3)
        # instead of surviving a TRUNCATE that claims a later version.
        txn.read_whole_table(require_serializable=True)
        clock_ms = log.clock.now_millis()
        removes = [a.remove(clock_ms) for a in snap.all_files()]
        return txn.commit(removes, ops.TRUNCATE, operation_parameters={})
