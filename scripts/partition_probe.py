"""Full-table reads of partitioned tables with many partition tuples.

Usage:
    python3 scripts/partition_probe.py [--tuples 1,7,50,200,1000]
        [--rows 50000] [--reps 5] [--cpus N] [--dir DIR]

For each tuple count T, writes one table of `--rows` rows through
`writer.write_dataframe`, partitioned by (`region`, `day`) with T distinct
tuples (one data file each; region values hold a space, so the file-name
decode is exercised), then times

    DeltaTable.for_path(spark, path).to_df()
        .groupBy("region").agg(count, sum(k), sum(day)).collect()

once as a warm-up and `--reps` times measured.  Every result is checked
against the exact aggregate computed in Python; a mismatch exits 1.

Prints one JSON line per T: tuples, files, the measured runs and their
median, in seconds.  No benchmark workload reads more than one partition
tuple per query, so this is the regression check for the data plane's
partition-value injection at many tuples.  The driver heap defaults to 1g
(SPARK_GRAFT_DRIVER_MEM overrides it) and the console progress bar is off
(PYSPARK_SUBMIT_ARGS overrides that).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DAYS = 40


def tuple_of(i: int) -> tuple[str, int]:
    return f"r {i // DAYS}", i % DAYS


def expected(rows: int, tuples: int) -> dict[str, tuple[int, int, int]]:
    out: dict[str, list[int]] = {}
    for k in range(rows):
        region, day = tuple_of(k % tuples)
        acc = out.setdefault(region, [0, 0, 0])
        acc[0] += 1
        acc[1] += k
        acc[2] += day
    return {r: tuple(v) for r, v in out.items()}


def write_table(spark, path: str, rows: int, tuples: int) -> None:
    from pyspark.sql import functions as F

    from delta_go_spark.writer import write_dataframe

    t = F.col("id") % tuples
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.concat(F.lit("r "), (t / DAYS).cast("long").cast("string")).alias("region"),
        (t % DAYS).cast("int").alias("day"),
    )
    write_dataframe(
        df.repartition("region", "day"), path, "append", partition_by=["region", "day"]
    )


def query(spark, path: str) -> dict[str, tuple[int, int, int]]:
    from pyspark.sql import functions as F

    from delta_go_spark.table import DeltaTable

    agg = (
        DeltaTable.for_path(spark, path)
        .to_df()
        .groupBy("region")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k"), F.sum("day").alias("d"))
    )
    return {r["region"]: (r["n"], r["k"], r["d"]) for r in agg.collect()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tuples", default="1,7,50,200,1000")
    ap.add_argument("--rows", type=int, default=50_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--dir", default=None, help="where the tables go (default: a temp dir)")
    args = ap.parse_args(argv)

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from delta_go_spark.log import DeltaLog
    from delta_go_spark.session import get_spark

    spark = get_spark("partition_probe", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="partition_probe-", dir=args.dir)
    status = 0
    try:
        for tuples in (int(t) for t in args.tuples.split(",")):
            path = os.path.join(work, f"t{tuples}")
            write_table(spark, path, args.rows, tuples)
            want = expected(args.rows, tuples)
            runs = []
            for rep in range(args.reps + 1):
                t0 = time.perf_counter()
                got = query(spark, path)
                elapsed = time.perf_counter() - t0
                if got != want:
                    print(f"tuples={tuples}: result differs from the exact aggregate", file=sys.stderr)
                    status = 1
                if rep:
                    runs.append(round(elapsed, 3))
            files = DeltaLog.for_table(path).update().num_of_files()
            print(json.dumps({
                "tuples": tuples, "files": files,
                "median_s": statistics.median(runs), "runs_s": runs,
            }), flush=True)
            shutil.rmtree(path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return status


if __name__ == "__main__":
    sys.exit(main())
