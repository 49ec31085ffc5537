"""table_query: the data plane on Spark local[nproc].

Input: a lineitem-shaped table generated from the seed (600k rows: 150k
orders of four lines, l_shipyear in 1992..1998), split by order key into
6 source parquet files.  Set-up writes them into a Delta table with
`write_dataframe`, one append each, partitioned by ship year (one file per
year per append: 42 files, stats on every file), then runs one warm-up
query (part of setup_s, not a latency sample).  Six appends rather than
twelve, and two set-ups rather than three, keep a run near a minute.
A query's order-key range is as wide as one source file's, so a query
reads two of its year's set-up files (one if it starts on a boundary).

One untimed warm-up round follows the set-ups.  A round restores the
post-set-up log, so appends never grow the table across rounds, then
runs nine ops in a seeded order:
  6 x pruned_agg  DeltaTable.for_path(...).to_df(l_shipyear = Y AND
                  l_orderkey in [lo, lo + orders/6)) -> groupBy(flag)
                  .agg(count, sum(l_orderkey), sum(l_linenumber))
                  .collect()                                  (primary)
  3 x append      write_dataframe of a fixed 2000-row batch  (secondary)
Every query result is checked against exact integer aggregates computed
with numpy from the generated rows plus the batches appended before it;
every append must commit the next version, and after the run the table's
version and row count (the files' numRecords stats) must match the model.

The driver heap is capped at 1g; its initial size and growth are left to
the JVM, so peak_rss_mb follows the heap the engine actually uses.

The metadata plane sees only ~45 files here, so a log-replay change
should move nothing on this workload.
"""

from __future__ import annotations

import functools
import json
import os
import random
import shlex
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "full": {"rows": 600_000, "appends": 6, "batch": 2_000},
    "tiny": {"rows": 24_000, "appends": 4, "batch": 200},
}
YEARS = tuple(range(1992, 1999))
FLAGS = np.array(["A", "N", "R"])
DRIVER_MEM = "1g"  # well under the host's RAM; the engine's default is 16g
WARMUP_QUERIES = 1
ROUND = ["pruned_agg"] * 6 + ["append"] * 3
_ENV_KEYS = ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM",
             "SPARK_LAUNCHER_OPTS", "PYSPARK_SUBMIT_ARGS")


def _lines(rng, first_order: int, orders: int) -> dict:
    n = orders * 4
    return {
        "l_orderkey": np.repeat(np.arange(first_order, first_order + orders, dtype=np.int64), 4),
        "l_linenumber": np.tile(np.arange(1, 5, dtype=np.int32), orders),
        "l_quantity": rng.integers(1, 51, n, dtype=np.int64),
        "l_extendedprice": np.round(rng.random(n) * 10_000, 2),
        "l_returnflag": FLAGS[rng.integers(0, len(FLAGS), n)],
        "l_shipyear": rng.integers(YEARS[0], YEARS[-1] + 1, n, dtype=np.int32),
    }


def _aggregate(cols: dict, year: int, lo: int, hi: int) -> dict:
    m = (cols["l_shipyear"] == year) & (cols["l_orderkey"] >= lo) & (cols["l_orderkey"] < hi)
    out = {}
    for flag in FLAGS:
        f = m & (cols["l_returnflag"] == flag)
        n = int(f.sum())
        if n:
            out[str(flag)] = (
                n,
                int(cols["l_orderkey"][f].sum()),
                int(cols["l_linenumber"][f].sum()),
            )
    return out


def _merge(a: dict, b: dict) -> dict:
    out = dict(a)
    for k, v in b.items():
        w = out.get(k, (0, 0, 0))
        out[k] = (w[0] + v[0], w[1] + v[1], w[2] + v[2])
    return out


class TableQuery:
    name = "table_query"
    primary = frozenset({"pruned_agg"})
    secondary = frozenset({"append"})
    min_rounds = 3
    setup_reps = 2

    def __init__(self, seed: int, work: str, scale: str = "full"):
        self.seed = seed
        self.work = work
        self.sz = SIZES[scale]
        self.spark = None
        self.info: dict = {}
        self._groups = 0

    # -- inputs and the Spark session ----------------------------------------------
    def open(self) -> None:
        import time

        batches = self.make_inputs()
        t0 = time.perf_counter()
        self._start_spark()
        self.info["spark_start_s"] = time.perf_counter() - t0
        self.batches = [
            self.spark.createDataFrame(pa.table(cols).to_pandas()).coalesce(1) for cols in batches
        ]

    def make_inputs(self) -> list[dict]:
        """Source parquet files, the round's plan with expected results, and
        the append batches (returned as columns), all from the seed."""
        sz = self.sz
        rng = np.random.default_rng([self.seed, 7])
        orders = sz["rows"] // 4
        self.orders = orders
        base = _lines(rng, 1, orders)
        src = os.path.join(self.work, "src")
        os.makedirs(src)
        self.sources = []
        per = orders // sz["appends"]
        for k in range(sz["appends"]):
            lo, hi = k * per * 4, (k + 1) * per * 4 if k < sz["appends"] - 1 else orders * 4
            path = os.path.join(src, f"part-{k:02d}.parquet")
            pq.write_table(pa.table({c: v[lo:hi] for c, v in base.items()}), path)
            self.sources.append(path)

        prng = random.Random(f"table_query/round/{self.seed}")
        width = orders // sz["appends"]  # one source file's order keys
        batches = []
        for _ in range(ROUND.count("append")):
            first = prng.randrange(1, orders - sz["batch"] // 4)
            cols = _lines(rng, first, sz["batch"] // 4)
            cols["l_shipyear"][:] = prng.choice(YEARS)
            batches.append(cols)
        ops = list(ROUND)
        prng.shuffle(ops)
        plan, appended, b = [], {}, 0
        for kind in ops:
            if kind == "append":  # expected: versions past the set-up's, in order
                plan.append(("append", (b,), b, b + 1))
                appended[b] = batches[b]
                b += 1
            else:
                year = prng.choice(YEARS)
                lo = prng.randrange(1, orders - width)
                want = _aggregate(base, year, lo, lo + width)
                for cols in appended.values():
                    want = _merge(want, _aggregate(cols, year, lo, lo + width))
                plan.append(("pruned_agg", (year, lo), (year, lo, lo + width), want))
        self.plan = plan
        self.final_rows = orders * 4 + sum(len(c["l_orderkey"]) for c in batches)
        self.warm = [op for op in plan if op[0] == "pruned_agg"][:WARMUP_QUERIES]
        return batches

    def _start_spark(self) -> None:
        import tempfile

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        self._saved_env = {k: os.environ.get(k) for k in _ENV_KEYS}
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None  # re-read TMPDIR
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # Every JVM (spark-submit's launcher included) keeps its scratch
        # files in the work directory.
        java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
                f"--driver-java-options {shlex.quote(java_opts)}",
                "pyspark-shell",
            ]
        )
        from delta_go_spark.session import get_spark

        # The JVM inherits stdout; point it at stderr while it starts so the
        # benchmark's result stays the last line of standard output.
        saved = os.dup(1)
        os.dup2(2, 1)
        try:
            self.spark = get_spark("perfbench-table_query", cpus=len(os.sched_getaffinity(0)))
        finally:
            os.dup2(saved, 1)
            os.close(saved)
        self.spark.sparkContext.setLogLevel("ERROR")

    # -- set-up: appends through the engine's writer, then a warm-up query ---------
    def setup_steps(self, rep: int):
        self.path = os.path.join(self.work, f"table{rep}")
        for src in self.sources:
            yield functools.partial(self._load, src)
        for _kind, _sig, arg, _want in self.warm:
            yield functools.partial(self._query, arg)

    def _load(self, src: str) -> None:
        from delta_go_spark import writer

        df = self.spark.read.parquet(src).repartition("l_shipyear")
        writer.write_dataframe(df, self.path, "append", partition_by=["l_shipyear"])

    def prepare(self, rec) -> None:
        from delta_go_spark.log import DeltaLog

        self.template_version = DeltaLog(self.path).update().version
        self.template_log = os.path.join(self.work, "template_log")
        shutil.copytree(os.path.join(self.path, "_delta_log"), self.template_log)
        # The JVM is still compiling the query path after set-up: without
        # this untimed round the first measured round ran 20-50% slower and
        # decided which position was slowest (tail_ref).
        self.round(rec, False)

    # -- the round ---------------------------------------------------------------------
    def round(self, rec, traced: bool) -> None:
        log_dir = os.path.join(self.path, "_delta_log")
        shutil.rmtree(log_dir)
        shutil.copytree(self.template_log, log_dir)
        for kind, sig, arg, want in self.plan:
            if kind == "append":
                got = rec.op("append", self._append, arg, sig=sig)
                if got is not None:
                    want = self.template_version + want
                    rec.check(got == want, f"append{sig}: committed version {got}, expected {want}")
                continue
            group = None
            if rec.tracer is not None:
                self._groups += 1
                group = f"perfbench-q{self._groups}"
                self.spark.sparkContext.setJobGroup(group, "pruned_agg")
            got = rec.op("pruned_agg", self._query, arg, rec.tracer, sig=sig)
            if got is not None:
                rec.check(got == want, f"pruned_agg{sig}: {got} != {want}")
            if group is not None:
                self._count_jobs(rec.tracer, group)

    def _append(self, b: int) -> int:
        from delta_go_spark import writer

        return writer.write_dataframe(self.batches[b], self.path, "append")

    def _query(self, arg, tracer=None) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.types import IntegerType, LongType

        from delta_go_spark.expressions import And, Column, EqualTo, GreaterThanOrEq, LessThan, Literal
        from delta_go_spark.table import DeltaTable

        year, lo, hi = arg
        pred = And(
            EqualTo(Column("l_shipyear", IntegerType()), Literal(year)),
            And(
                GreaterThanOrEq(Column("l_orderkey", LongType()), Literal(lo)),
                LessThan(Column("l_orderkey", LongType()), Literal(hi)),
            ),
        )
        df = DeltaTable.for_path(self.spark, self.path).to_df(pred)
        agg = df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("ok"),
            F.sum("l_linenumber").alias("ln"),
        )
        fr = tracer.enter("spark.exec") if tracer is not None else None
        try:
            rows = agg.collect()
        finally:
            if tracer is not None:
                tracer.leave(fr)
        return {r["l_returnflag"]: (r["n"], r["ok"], r["ln"]) for r in rows}

    def _count_jobs(self, tracer, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            for sid in info.stageIds if info else ():
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si else 0
        tracer.add("pruned_agg", "spark.queries", 1)
        tracer.add("pruned_agg", "spark.stages", stages)
        tracer.add("pruned_agg", "spark.tasks", tasks)

    def finish(self, rec) -> None:
        from delta_go_spark.log import DeltaLog

        snap = DeltaLog(self.path).update()
        want = self.template_version + ROUND.count("append")
        rec.check(snap.version == want, f"final version {snap.version}, expected {want}")
        rows = sum(json.loads(a.stats)["numRecords"] for a in snap.all_files())
        rec.check(rows == self.final_rows, f"final table has {rows} rows, expected {self.final_rows}")

    def close(self) -> None:
        if self.spark is None:
            return
        import tempfile

        from pyspark import SparkContext

        for k, v in self._saved_env.items():  # the work dir is about to go
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
                proc.wait(timeout=60)
