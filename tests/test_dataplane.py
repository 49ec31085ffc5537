"""M1 milestone (SURVEY §7.4): snapshot -> DataFrame -> query, matched
against DuckDB over the same parquet files; partition-value injection from
the log for partitioned tables."""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from delta_go_spark.log import DeltaLog
from tests.conftest import golden


def test_snapshot_data0_query_matches_duckdb(spark):
    path = golden("snapshot-data0")
    snap = DeltaLog.for_table(path).snapshot()
    df = snap.to_df(spark)
    got = sorted(
        (r["col1"], r["cnt"])
        for r in df.groupBy("col1").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    files = [f"'{p}'" for p in snap.absolute_data_paths()]
    want = sorted(
        duckdb.connect()
        .execute(
            f"SELECT col1, count(*) FROM read_parquet([{','.join(files)}]) GROUP BY col1"
        )
        .fetchall()
    )
    assert got == want


def test_data_reader_primitives(spark):
    path = golden("data-reader-primitives")
    snap = DeltaLog.for_table(path).snapshot()
    df = snap.to_df(spark)
    assert df.count() == 11  # rows 0..9 + all-null row
    ints = sorted(r[0] for r in df.select("as_int").collect() if r[0] is not None)
    assert ints == list(range(10))


def test_partition_values_injected_from_log(spark):
    """data-reader-partition-values: partition columns aren't in the data
    files; values must come from the log and be typed per the declared
    schema (record.go parse rules)."""
    path = golden("data-reader-partition-values")
    snap = DeltaLog.for_table(path).snapshot()
    meta = snap.metadata()
    assert "as_int" in meta.partition_columns
    df = snap.to_df(spark)
    rows = df.select("as_int", "as_string", "as_date", "value").collect()
    assert len(rows) == 3
    by_value = {r["value"]: r for r in rows}
    # two typed partition tuples + one all-null tuple
    assert set(by_value) == {"0", "1", "2"}
    null_row = by_value["2"]
    assert null_row["as_int"] is None and null_row["as_string"] is None
    import datetime

    assert by_value["0"]["as_date"] == datetime.date(2021, 9, 8)


def test_nested_struct(spark):
    path = golden("data-reader-nested-struct")
    snap = DeltaLog.for_table(path).snapshot()
    df = snap.to_df(spark)
    rows = df.select("a.ac.aca", "b").collect()
    assert len(rows) == 10
    assert all(r["aca"] is not None for r in rows)


def test_scan_prunes_partitions(spark):
    """Pruned scan must read only matching files and surface residual."""
    from delta_go_spark.expressions import Column, EqualTo, Literal
    from pyspark.sql.types import IntegerType

    path = golden("data-reader-partition-values")
    snap = DeltaLog.for_table(path).snapshot()
    pred = EqualTo(Column("as_int", IntegerType()), Literal(0))
    scan = snap.scan(pred)
    files = list(scan.files())
    assert 0 < len(files) < snap.num_of_files()
    assert scan.residual_predicate() is None
    assert scan.pushed_predicate() is not None
    df = scan.to_df(spark)
    vals = {r["as_int"] for r in df.select("as_int").collect()}
    assert vals == {0}


def test_scan_residual_applied(spark):
    """Mixed predicate: partition conjunct prunes, data conjunct filters."""
    from delta_go_spark.expressions import Column, EqualTo, Literal
    from pyspark.sql.types import IntegerType, StringType

    path = golden("data-reader-partition-values")
    snap = DeltaLog.for_table(path).snapshot()
    pred = EqualTo(Column("as_int", IntegerType()), Literal(0)) & EqualTo(
        Column("value", StringType()), Literal("0")
    )
    scan = snap.scan(pred)
    assert scan.residual_predicate() is not None
    rows = scan.to_df(spark).collect()
    assert len(rows) == 1 and rows[0]["value"] == "0"


def test_sql_context_time_travel(spark, tmp_path):
    """SQL-text queries over Delta tables: current snapshot, VERSION AS OF,
    and a self-join across two versions."""
    from pyspark.sql import functions as F

    from delta_go_spark.sql import DeltaSqlContext
    from delta_go_spark.table import DeltaTable

    path = str(tmp_path / "tsql")
    DeltaTable.create(spark, path, spark.range(10).select(F.col("id").alias("k")))
    t = DeltaTable.for_path(spark, path)
    t.append(spark.range(100, 105).select(F.col("id").alias("k")))

    ctx = DeltaSqlContext(spark)
    ctx.register("orders_t", path)

    assert ctx.sql("SELECT count(*) AS n FROM orders_t").first()["n"] == 15
    assert (
        ctx.sql("SELECT count(*) AS n FROM orders_t VERSION AS OF 0").first()["n"] == 10
    )
    # rows added between v0 and now, via an anti-join across versions
    grew = ctx.sql(
        """
        SELECT count(*) AS n FROM orders_t cur
        WHERE cur.k NOT IN (SELECT k FROM orders_t VERSION AS OF 0)
        """
    ).first()["n"]
    assert grew == 5


def test_data_filters_reach_partitioned_scan(spark, tmp_path):
    """A data-column range above the partition-value join is pushed into
    the parquet scan, so row-group skipping can engage: the join key is
    the scan's deterministic `_metadata.file_path`, not input_file_name(),
    which Catalyst will not push a filter through."""
    from pyspark.sql.types import IntegerType, LongType

    from delta_go_spark.expressions import And, Column, EqualTo, GreaterThanOrEq, LessThan, Literal
    from delta_go_spark.table import DeltaTable
    from delta_go_spark.writer import write_dataframe

    path = str(tmp_path / "pushdown")
    src = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("y")
    )
    write_dataframe(src.repartition("y"), path, "append", partition_by=["y"])
    k = Column("k", LongType())
    pred = And(
        EqualTo(Column("y", IntegerType()), Literal(3)),
        And(GreaterThanOrEq(k, Literal(1000)), LessThan(k, Literal(2000))),
    )
    df = DeltaTable.for_path(spark, path).to_df(pred)
    plan = df._jdf.queryExecution().executedPlan().toString()
    (pushed,) = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert "GreaterThanOrEqual(k,1000)" in pushed and "LessThan(k,2000)" in pushed
    got = df.agg(F.count(F.lit(1)), F.sum("k"), F.min("y"), F.max("y")).first()
    want = [i for i in range(1000, 2000) if i % 4 == 3]
    assert tuple(got) == (len(want), sum(want), 3, 3)


@pytest.mark.parametrize("kind", ["empty", "partitioned", "versioned"])
def test_per_file_values_are_a_local_relation(spark, tmp_path, kind):
    """read_files_with_pv builds its per-file mapping (and an empty read)
    on the driver: the optimized plan holds a LocalRelation and no RDD
    scan, so no Spark job or Python worker runs to build it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from delta_go_spark.datareader import read_files_with_pv

    files = {}
    if kind != "empty":
        for i, p in enumerate(["a b", "c"]):
            d = tmp_path / f"p={p}"
            d.mkdir()
            f = str(d / "f.parquet")
            pq.write_table(pa.table({"k": pa.array([i], pa.int64())}), f)
            files[f] = ({"p": p}, 10 + i) if kind == "versioned" else {"p": p}
    schema = StructType([StructField("k", LongType()), StructField("p", StringType())])
    df = read_files_with_pv(spark, schema, ["p"], files, versioned=kind == "versioned")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
    want = {
        "empty": [],
        "partitioned": [(0, "a b"), (1, "c")],
        "versioned": [(0, "a b", 10), (1, "c", 11)],
    }[kind]
    assert sorted(tuple(r) for r in df.collect()) == want
