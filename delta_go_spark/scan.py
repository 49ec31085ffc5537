"""Partition-pruned + stats-pruned file scan over a snapshot.

Reference: scan.go (filtered scan + accepter), with the predicate split of
partition_utils.go.  Pruning happens before any Spark job: the pushed
conjunct is evaluated per AddFile against its partitionValues, the
residual comes back to the caller to apply on data rows
(scan.go:37-39 contract) — Catalyst then re-applies its own pushdown on
the surviving parquet files for row-group-level skipping.

Stats-based data skipping EXCEEDS the reference: AddFile.Stats is carried
but never parsed there (parquet_marshaller.go:114-115 marshals it;
no reader ever consumes it).  We parse the per-file min/max/nullCount JSON
and drop files whose value range provably cannot satisfy the residual
(data-column) predicate — on a 100 TB table this is the difference between
listing files and reading them.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

from delta_go_spark.actions import AddFile
from delta_go_spark.expressions import (
    And,
    Column,
    EqualTo,
    Expression,
    GreaterThan,
    GreaterThanOrEq,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEq,
    Literal,
    Or,
    StartsWith,
    prefix_upper_bound,
    split_metadata_and_data_predicates,
)

_FLIP = {
    GreaterThan: LessThan,
    LessThan: GreaterThan,
    GreaterThanOrEq: LessThanOrEq,
    LessThanOrEq: GreaterThanOrEq,
    EqualTo: EqualTo,
}


def _coerce(stat_val: Any, lit_val: Any) -> Any:
    """Make a stats min/max comparable with a literal, or None if the pair
    is not safely comparable (mixed types keep the file — never skip on a
    guess)."""
    import datetime

    if isinstance(lit_val, bool) or isinstance(stat_val, bool):
        return stat_val if isinstance(stat_val, bool) and isinstance(lit_val, bool) else None
    if isinstance(lit_val, (int, float)) and isinstance(stat_val, (int, float)):
        return stat_val
    if isinstance(lit_val, str) and isinstance(stat_val, str):
        return stat_val
    if isinstance(lit_val, (datetime.date, datetime.datetime)) and isinstance(stat_val, str):
        # writer emits ISO-8601; ISO strings order like their values
        try:
            if isinstance(lit_val, datetime.datetime):
                return datetime.datetime.fromisoformat(stat_val)
            return datetime.date.fromisoformat(stat_val[:10])
        except ValueError:
            return None
    return None


def stats_may_match(pred: Expression | None, stats_json: str | None) -> bool:
    """Conservative satisfiability of `pred` against one file's Delta stats.

    Returns False ONLY when the file provably contains no matching row;
    any unknown (missing column stats, un-comparable types, unsupported
    node) returns True.  Mirrors Delta's data-skipping semantics: a NULL
    comparison result cannot satisfy a WHERE, so all-null columns fail
    comparisons."""
    if pred is None or not stats_json:
        return True
    try:
        stats = json.loads(stats_json)
    except (ValueError, TypeError):
        return True
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    nulls = stats.get("nullCount") or {}
    num = stats.get("numRecords")

    def may(e: Expression) -> bool:
        if isinstance(e, And):
            return may(e.left) and may(e.right)
        if isinstance(e, Or):
            return may(e.left) or may(e.right)
        if isinstance(e, IsNull):
            c = e.child
            if isinstance(c, Column) and nulls.get(c.name) == 0:
                return False
            return True
        if isinstance(e, IsNotNull):
            c = e.child
            if (
                isinstance(c, Column)
                and num is not None
                and nulls.get(c.name) == num
            ):
                return False
            return True
        if isinstance(e, In):
            c = e.child
            if not isinstance(c, Column):
                return True
            name = c.name
            if num is not None and nulls.get(name) == num and num > 0:
                return False
            vals = [x.value if isinstance(x, Literal) else x for x in e.values]
            if any(v is None for v in vals):
                return True  # NULL in list: never satisfies WHERE, but stay safe
            mn = mins.get(name)
            mx = maxs.get(name)
            in_range = []
            for v in vals:
                cmn = _coerce(mn, v) if name in mins else None
                cmx = _coerce(mx, v) if name in maxs else None
                below = cmn is not None and v < cmn
                above = cmx is not None and v > cmx
                in_range.append(not (below or above))
            return any(in_range)
        if isinstance(e, StartsWith):
            c = e.child
            if not isinstance(c, Column):
                return True
            name = c.name
            if num is not None and nulls.get(name) == num and num > 0:
                return False
            mn, mx = mins.get(name), maxs.get(name)
            # every match v satisfies prefix <= v < prefix_upper_bound
            if mx is not None and isinstance(mx, str) and mx < e.prefix:
                return False
            ub = prefix_upper_bound(e.prefix)
            if (
                ub is not None
                and mn is not None
                and isinstance(mn, str)
                and mn >= ub
            ):
                return False
            return True
        if isinstance(e, _COMPARISONS):
            left, right, op = e.left, e.right, type(e)
            if isinstance(left, Literal) and isinstance(right, Column):
                left, right, op = right, left, _FLIP[op]
            if not (isinstance(left, Column) and isinstance(right, Literal)):
                return True
            name, v = left.name, right.value
            if v is None:
                return False  # comparison with NULL literal matches nothing
            if num is not None and nulls.get(name) == num and num > 0:
                return False  # column is all-null in this file
            mn = _coerce(mins.get(name), v) if name in mins else None
            mx = _coerce(maxs.get(name), v) if name in maxs else None
            if op is EqualTo:
                if mn is not None and v < mn:
                    return False
                if mx is not None and v > mx:
                    return False
            elif op is GreaterThan:
                if mx is not None and not (mx > v):
                    return False
            elif op is GreaterThanOrEq:
                if mx is not None and not (mx >= v):
                    return False
            elif op is LessThan:
                if mn is not None and not (mn < v):
                    return False
            elif op is LessThanOrEq:
                if mn is not None and not (mn <= v):
                    return False
            return True
        return True  # Not / unsupported nodes: keep the file

    return may(pred)


_COMPARISONS = (EqualTo, GreaterThan, GreaterThanOrEq, LessThan, LessThanOrEq)


class DeltaScan:
    """reference: scan.go:54-231."""

    def __init__(self, snapshot, predicate: Expression | None = None):
        self.snapshot = snapshot
        self.predicate = predicate
        if predicate is not None:
            pcols = self.snapshot.metadata().partition_columns
            self.pushed, self.residual = split_metadata_and_data_predicates(
                predicate, pcols
            )
        else:
            self.pushed, self.residual = None, None

    def input_predicate(self) -> Expression | None:
        """reference: scan.go:33-35."""
        return self.predicate

    def pushed_predicate(self) -> Expression | None:
        """Partition-only conjunct used for file pruning
        (reference: scan.go:41-43)."""
        return self.pushed

    def residual_predicate(self) -> Expression | None:
        """Caller must apply this on data rows (reference: scan.go:37-39)."""
        return self.residual

    def _accept(self, add: AddFile) -> bool:
        """Evaluate the pushed predicate over one file's partitionValues
        (reference: scan.go:185-199).  Only a `true` verdict accepts — a
        NULL verdict (null partition value) excludes the file, exactly as
        SQL WHERE would exclude its rows."""
        record = {k.lower(): v for k, v in (add.partition_values or {}).items()}
        return self.pushed.eval(record) is True

    def files(self) -> Iterator[AddFile]:
        """Surviving active files.  The snapshot state is already deduped
        (newest add per canonical path wins, removes tombstoned —
        replay_action.go:80-116), so this is a filter over all_files():
        partition pruning first (free — no stats parse), then min/max
        stats skipping on the residual data predicate."""
        self.files_skipped_by_stats = 0
        # one verdict per distinct partition tuple: a table holds far fewer
        # tuples than files
        verdicts: dict[tuple, bool] = {}
        for add in self.snapshot.all_files():
            if self.pushed is not None:
                key = tuple((add.partition_values or {}).items())
                if key not in verdicts:
                    verdicts[key] = self._accept(add)
                if not verdicts[key]:
                    continue
            if not stats_may_match(self.residual, add.stats):
                self.files_skipped_by_stats += 1
                continue
            yield add

    def to_df(self, spark):
        """Data plane: read surviving files, apply the residual predicate.

        Catalyst receives the residual as a real filter, so row-group
        pruning and column pruning still engage on the parquet scan."""
        from delta_go_spark.datareader import files_to_df

        df = files_to_df(
            spark,
            self.snapshot,
            list(self.files()),
        )
        # Apply the FULL predicate, not just the residual: partition columns
        # are materialized in the DataFrame, so re-filtering them is free
        # row-group pruning for Catalyst and guards the file-level prune.
        if self.predicate is not None:
            df = df.filter(self.predicate.to_spark())
        return df


def metadata_only_count(snapshot, predicate=None, spark=None) -> int:
    """Exact COUNT(*) from log statistics — no data scan.

    The 100 TB query Delta answers in O(#files): every AddFile carries
    numRecords, so a bare count (or one filtered ONLY on partition
    columns, where file pruning is exact) is a sum over the log.  Files
    without stats (e.g. written by other engines) are counted by scanning
    JUST those files when a SparkSession is supplied.

    Raises ValueError when `predicate` has a data-column conjunct —
    min/max skipping is conservative (a surviving file may still hold
    zero matching rows), so a stats-only count would overcount; callers
    fall back to the real scan.  reference: scan.go:54-231 (file
    iteration), writer stats contract writer.py:117.
    """
    scan = DeltaScan(snapshot, predicate)
    if scan.residual_predicate() is not None:
        raise ValueError(
            "metadata-only count needs a partition-only predicate; "
            f"residual data predicate: {scan.residual_predicate()}"
        )
    total = 0
    statless: list[AddFile] = []
    for add in scan.files():
        n = None
        if add.stats:
            try:
                n = json.loads(add.stats).get("numRecords")
            except (ValueError, TypeError):
                n = None
        if n is None:
            statless.append(add)
        else:
            total += int(n)
    if statless:
        if spark is None:
            raise ValueError(
                f"{len(statless)} files lack numRecords stats and no "
                "SparkSession was supplied to count them"
            )
        from delta_go_spark.datareader import files_to_df

        total += files_to_df(spark, snapshot, statless).count()
    return total


def _typed_stat(v, dtype: str):
    """Normalize a JSON-parsed log statistic to the column's Python type —
    the type a real scan of the same column returns.  Stats serialize
    temporal values as ISO strings (writer._json_safe) and decimals as
    floats; without this, a table mixing stats-bearing and stats-less
    files would compare str vs datetime in the min/max fold (TypeError)
    and stats-served temporal results would come back as strings.
    Raises on malformed input — the caller treats that file as statless
    and lets the scan fallback answer."""
    import datetime

    if v is None:
        return None
    if dtype == "date":
        if isinstance(v, datetime.date):
            return v
        return datetime.date.fromisoformat(str(v))
    if dtype.startswith("timestamp"):
        if isinstance(v, datetime.datetime):
            return v
        return datetime.datetime.fromisoformat(str(v))
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if dtype in ("float", "double"):
        return float(v)
    # decimal never reaches here: metadata_only_min_max refuses decimal
    # columns up front (their log stats are float-serialized — lossy)
    if dtype == "boolean":
        return bool(v)
    return v


def metadata_only_min_max(snapshot, cols, spark=None) -> dict:
    """Exact per-column (min, max) from log statistics — no data scan.

    The companion to metadata_only_count: the global min of per-file mins
    (and max of maxes) is exact because every row lives in exactly one
    active file.  Files where the column is entirely NULL (nullCount ==
    numRecords) contribute nothing; files MISSING the column's stats while
    holding non-null rows are scanned individually when a SparkSession is
    supplied, else the call refuses.

    STRING/BINARY columns are refused outright (parquet writers may
    truncate long min/max statistics, and a truncated max understates the
    real one), and so are DECIMAL columns (the log serializes their stats
    through float — lossy past ~15 significant digits); integer/float/
    date stats are always exact.  Parsed stat values
    are normalized to the column's Python type (_typed_stat): date stats
    live in the log as ISO strings while the statless-file fallback scan
    returns datetime.date, and the two must fold and return consistently.
    reference: the reference carries AddFile.Stats unparsed
    (parquet_marshaller.go:114); this surface exceeds it.
    """
    schema = snapshot.metadata().schema()
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"unknown column {c!r}")
        if by_name[c] in ("string", "binary"):
            raise ValueError(
                f"metadata-only min/max refuses {c!r} ({by_name[c]}): "
                "parquet string statistics may be truncated; scan instead"
            )
        if by_name[c].startswith("decimal"):
            # writer._json_safe serializes decimal stats through float —
            # lossy past ~15 significant digits, so a stats-served extreme
            # could differ from the true one.  Refuse like string/binary
            # rather than return a wrong "exact" answer.
            raise ValueError(
                f"metadata-only min/max refuses {c!r} ({by_name[c]}): "
                "decimal statistics are float-serialized in the log "
                "(precision loss past ~15 digits); scan instead"
            )
    out = {c: [None, None] for c in cols}
    statless: dict[str, list] = {c: [] for c in cols}
    for add in snapshot.all_files():
        stats = {}
        if add.stats:
            try:
                stats = json.loads(add.stats)
            except (ValueError, TypeError):
                stats = {}
        num = stats.get("numRecords")
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        nulls = stats.get("nullCount") or {}
        if num == 0:
            continue  # empty part file (no rows, no per-column stats)
        for c in cols:
            if num is not None and nulls.get(c) == num:
                continue  # all-NULL file: contributes no min/max
            if c in mins and c in maxs:
                try:
                    mn = _typed_stat(mins[c], by_name[c])
                    mx = _typed_stat(maxs[c], by_name[c])
                except (ValueError, TypeError, ArithmeticError):
                    statless[c].append(add)  # malformed stat: scan the file
                    continue
                lo, hi = out[c]
                out[c][0] = mn if lo is None else min(lo, mn)
                out[c][1] = mx if hi is None else max(hi, mx)
            else:
                statless[c].append(add)
    missing = {c: fs for c, fs in statless.items() if fs}
    if missing:
        if spark is None:
            raise ValueError(
                f"files lack min/max stats for {sorted(missing)} and no "
                "SparkSession was supplied to scan them"
            )
        from pyspark.sql import functions as F

        from delta_go_spark.datareader import files_to_df

        for c, fs in missing.items():
            row = (
                files_to_df(spark, snapshot, fs)
                .agg(F.min(c).alias("mn"), F.max(c).alias("mx"))
                .first()
            )
            for val, i, pick in ((row["mn"], 0, min), (row["mx"], 1, max)):
                if val is None:
                    continue
                cur = out[c][i]
                out[c][i] = val if cur is None else pick(cur, val)
    return {c: tuple(v) for c, v in out.items()}
