"""DeltaScan.files() evaluates the pushed partition predicate once per
distinct partition tuple, with the same verdicts as a per-file eval."""

import json

from delta_go_spark import ops
from delta_go_spark.actions import AddFile, Metadata
from delta_go_spark.expressions import And, Column, EqualTo, GreaterThan, Literal
from delta_go_spark.log import DeltaLog
from delta_go_spark.scan import DeltaScan, stats_may_match

SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "region", "type": "string", "nullable": True, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        ],
    }
)


class _CountingEval:
    def __init__(self, expr):
        self.expr, self.calls = expr, 0

    def eval(self, record):
        self.calls += 1
        return self.expr.eval(record)


def test_partition_verdict_once_per_tuple(tmp_path):
    log = DeltaLog.for_table(str(tmp_path / "t"))
    txn = log.start_transaction()
    txn.update_metadata(Metadata(schema_string=SCHEMA, partition_columns=["region"]))
    txn.commit([], ops.CREATE_TABLE)
    regions = ["a", "b", None]  # a None partition value: verdict NULL, excluded
    adds = [
        AddFile(
            f"f{i}.parquet",
            {"region": regions[i % 3]},
            10,
            1,
            True,
            json.dumps({"numRecords": 1, "minValues": {"v": i}, "maxValues": {"v": i},
                        "nullCount": {"v": 0}}),
        )
        for i in range(30)
    ]
    log.start_transaction().commit(adds, ops.WRITE)
    snap = log.update()
    pred = And(
        EqualTo(Column("region"), Literal("a")), GreaterThan(Column("v"), Literal(10))
    )
    scan = DeltaScan(snap, pred)
    per_file = [
        a
        for a in snap.all_files()
        if scan._accept(a) and stats_may_match(scan.residual, a.stats)
    ]
    scan.pushed = _CountingEval(scan.pushed)
    got = list(scan.files())
    assert got == per_file
    assert sorted(a.path for a in got) == ["f12.parquet", "f15.parquet", "f18.parquet",
                                           "f21.parquet", "f24.parquet", "f27.parquet"]
    assert scan.pushed.calls == 3
    assert scan.files_skipped_by_stats == 4
