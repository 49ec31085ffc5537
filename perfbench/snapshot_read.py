"""snapshot_read: the read-only metadata plane, no SparkSession.

Table: ~10.5k active AddFiles with stats over two partition columns,
written as 45 commits of 250 adds with 50 removes on every third commit
(so tombstones exist), checkpointInterval=10.  The latest version (45)
sits mid-interval, so readers decode the version-40 checkpoint plus a
five-commit JSON tail.

A round is nine ops in a seeded order:
  4 x open_scan    fresh DeltaLog -> update() -> scan(region = R AND ts in
                   [lo, lo+10%)) -> list surviving files   (primary)
  2 x time_travel  fresh DeltaLog -> snapshot_for_version_as_of(v) ->
                   all_files()                             (secondary)
  1 x change_feed  changes(start) over the tail
  2 x poll         update() on a long-lived DeltaLog of the unchanged
                   table: served from the engine's snapshot cache
Fresh readers miss the snapshot cache; poll hits it.

The two time-travel targets are stratified: both read the checkpoint
before the latest one (version 30), one with an `o`-commit JSON tail and
the other with a `10 - o`-commit tail, o in 4..6, so every seed replays
the same amount of log and the two costs are close enough that their
median does not depend on the seed.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time

from pyspark.sql.types import LongType

from delta_go_spark.expressions import And, Column, EqualTo, GreaterThanOrEq, LessThan, Literal
from delta_go_spark.log import DeltaLog

import synth

SIZES = {
    "full": {"commits": 45, "adds": 250, "remove_every": 3, "removes": 50},
    "tiny": {"commits": 25, "adds": 16, "remove_every": 3, "removes": 4},
}


class SnapshotRead:
    name = "snapshot_read"
    primary = frozenset({"open_scan"})
    secondary = frozenset({"time_travel"})
    min_rounds = 5
    setup_reps = 3

    def __init__(self, seed: int, work: str, scale: str = "full"):
        self.seed = seed
        self.work = work
        self.sz = SIZES[scale]
        self.path = None
        self.poller = None

    # -- inputs: generated from the seed, before any timing ----------------------
    def open(self) -> None:
        sz = self.sz
        rng = random.Random(f"snapshot_read/table/{self.seed}")
        now_ms = int(time.time() * 1000)
        active: dict = {}
        self.commits = []  # per version >= 1: the actions to commit
        self.count_at = [0]  # active files after each version
        self.actions_at = [3]  # actions in each commit file (commitInfo included)
        for v in range(1, sz["commits"] + 1):
            order = list(synth.REGIONS)
            rng.shuffle(order)
            adds = [
                synth.make_add(rng, f"{v:05d}-{i:05d}", order[i % len(order)])
                for i in range(sz["adds"])
            ]
            removes = []
            if v % sz["remove_every"] == 0:
                for p in rng.sample(sorted(active), sz["removes"]):
                    removes.append(active.pop(p).remove(now_ms))
            for a in adds:
                active[a.path] = a
            self.commits.append(adds + removes)
            self.count_at.append(len(active))
            self.actions_at.append(1 + len(adds) + len(removes))
        latest = sz["commits"]
        self.latest = latest

        prng = random.Random(f"snapshot_read/plan/{self.seed}")
        width = synth.TS_DOMAIN // 10
        ops = []
        for _ in range(4):
            region = prng.choice(synth.REGIONS)
            lo = prng.randrange(synth.TS_DOMAIN - width)
            pred = And(
                EqualTo(Column("region"), Literal(region)),
                And(
                    GreaterThanOrEq(Column("ts", LongType()), Literal(lo)),
                    LessThan(Column("ts", LongType()), Literal(lo + width)),
                ),
            )
            want = frozenset(
                p for p, a in active.items() if synth.may_match(a, region, lo, lo + width)
            )
            ops.append(("open_scan", (region, lo), pred, want))
        base = synth.CHECKPOINT_INTERVAL * (latest // synth.CHECKPOINT_INTERVAL - 1)
        o = prng.randrange(4, 7)  # tails of 4..6 commits: close costs
        for v in (base + o, base + synth.CHECKPOINT_INTERVAL - o):
            ops.append(("time_travel", (v,), v, self.count_at[v]))
        start = prng.randrange(latest - 4, latest + 1)
        want = [(v, self.actions_at[v]) for v in range(start, latest + 1)]
        ops.append(("change_feed", (start,), start, want))
        ops += [("poll", (), None, latest)] * 2
        prng.shuffle(ops)
        self.ops = ops

    # -- set-up: commit the generated log through the engine ---------------------
    def setup_steps(self, rep: int):
        self.path = os.path.join(self.work, f"table{rep}")
        log = DeltaLog(self.path)
        yield functools.partial(synth.create_table, log)
        for v, actions in enumerate(self.commits, start=1):
            yield functools.partial(synth.commit_as, log, actions, v)

    def prepare(self, rec) -> None:
        for name in os.listdir(self.work):
            if os.path.join(self.work, name) != self.path:
                shutil.rmtree(os.path.join(self.work, name))
        self.poller = DeltaLog(self.path)
        self.poller.update()
        seen = set()
        for op in self.ops:  # warm each op kind once, untimed
            if op[0] not in seen:
                seen.add(op[0])
                self._run(rec, op)

    # -- the round -----------------------------------------------------------------
    def round(self, rec, traced: bool) -> None:
        for op in self.ops:
            self._run(rec, op)

    def _run(self, rec, op) -> None:
        kind, sig, arg, want = op
        fn = getattr(self, "_" + kind)
        got = rec.op(kind, fn, arg, sig=sig)
        if got is not None:
            rec.check(got == want, f"{kind}{sig}: result differs from the model")

    def _open_scan(self, pred):
        snap = DeltaLog(self.path).update()
        return frozenset(a.path for a in snap.scan(pred).files())

    def _time_travel(self, version):
        return len(DeltaLog(self.path).snapshot_for_version_as_of(version).all_files())

    def _change_feed(self, start):
        return [(c.version, len(c.actions)) for c in DeltaLog(self.path).changes(start)]

    def _poll(self, _arg):
        return self.poller.update().version

    def finish(self, rec) -> None:
        pass

    def close(self) -> None:
        pass
