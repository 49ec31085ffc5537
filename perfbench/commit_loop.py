"""commit_loop: the metadata write path, no SparkSession.

Template: a table of ~5k AddFiles (20 commits of 250 adds) at version 20,
so its last commit wrote a checkpoint.  Every round restores the template
log, so every round sees the same table whatever the run length, then
commits versions 21..30 in a fixed order of blocks (BLOCKS); the seed picks
every file, region and victim:
  6 x append         blind append of 20 AddFiles
  1 x rewrite        mark_files_as_read(region = R), then remove up to 8
                     of those files and add one compacted file
  1 x pair_disjoint  two transactions opened on one snapshot; the second
                     read region A, the first appends elsewhere and wins,
                     the second retries and commits
  1 x pair_conflict  as above, but the winner appends into region A, so
                     the second must raise ConcurrentAppendError
The commit of version 30, an append, writes the checkpoint (interval 10):
that commit is the secondary op; every other successful commit is the
primary op.  A fixed order keeps each position's cost the same from seed
to seed, so the slowest position (tail_ref) is one kind of commit.
Reads (`txn_read`) and the expected conflict (`conflict`) are timed ops
outside both.

Flush policy: LocalStore fsyncs each commit file and `_last_checkpoint`
before the atomic link/rename; the checkpoint parquet is written to a
temp file and renamed without fsync.  The restore before each round is
flushed with os.sync() outside any timed op, so no commit's fsync pays
for the restore's writes.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time

from delta_go_spark.actions import AddFile
from delta_go_spark.expressions import Column, EqualTo, Literal
from delta_go_spark.log import DeltaLog
from delta_go_spark.transaction import ConcurrentAppendError

import synth

SIZES = {
    "full": {"template_commits": 20, "template_adds": 250, "adds": 20, "victims": 8},
    "tiny": {"template_commits": 20, "template_adds": 10, "adds": 5, "victims": 3},
}
BLOCKS = ["append", "append", "rewrite", "append", "pair_disjoint", "append",
          "pair_conflict", "append", "append"]


def _region_pred(region: str):
    return EqualTo(Column("region"), Literal(region))


class CommitLoop:
    name = "commit_loop"
    primary = frozenset({"commit"})
    secondary = frozenset({"commit_ckpt"})
    min_rounds = 12
    setup_reps = 3

    def __init__(self, seed: int, work: str, scale: str = "full"):
        self.seed = seed
        self.work = work
        self.sz = SIZES[scale]
        self.live = os.path.join(work, "live")

    # -- inputs ---------------------------------------------------------------------
    def open(self) -> None:
        sz = self.sz
        rng = random.Random(f"commit_loop/template/{self.seed}")
        model: dict = {}
        self.template = []
        for v in range(1, sz["template_commits"] + 1):
            order = list(synth.REGIONS)
            rng.shuffle(order)
            adds = [
                synth.make_add(rng, f"t{v:03d}-{i:05d}", order[i % len(order)])
                for i in range(sz["template_adds"])
            ]
            self.template.append(adds)
            model.update((a.path, a) for a in adds)
        self.version0 = sz["template_commits"]

        # The round, simulated on the model: every action, read set and
        # expected version is fixed here, before anything runs.
        prng = random.Random(f"commit_loop/round/{self.seed}")
        now_ms = int(time.time() * 1000)
        version = self.version0
        steps = []

        def appends(tag, regions):
            return [
                synth.make_add(prng, f"{tag}-{i:03d}", regions[i % len(regions)])
                for i in range(sz["adds"])
            ]

        def rewrite_of(region, tag):
            read = sorted(p for p, a in model.items() if a.partition_values["region"] == region)
            victims = prng.sample(read, min(sz["victims"], len(read)))
            day = model[victims[0]].partition_values["day"]
            actions = [model[p].remove(now_ms) for p in victims]
            actions.append(synth.make_add(prng, f"{tag}-compact", region, day))
            return frozenset(read), actions

        def apply(actions):
            for a in actions:
                if isinstance(a, AddFile):
                    model[a.path] = a
                else:
                    model.pop(a.path)

        for b, block in enumerate(BLOCKS):
            tag = f"b{b}"
            if block == "append":
                adds = appends(tag, synth.REGIONS)
                version += 1
                steps.append(("append", adds, version))
                apply(adds)
            elif block == "rewrite":
                region = prng.choice(synth.REGIONS)
                read, actions = rewrite_of(region, tag)
                version += 1
                steps.append(("rewrite", region, read, actions, version))
                apply(actions)
            else:
                region = prng.choice(synth.REGIONS)
                others = [r for r in synth.REGIONS if r != region]
                read, loser = rewrite_of(region, tag + "l")
                if block == "pair_disjoint":
                    winner = appends(tag + "w", others)
                    steps.append((block, region, read, winner, version + 1, loser, version + 2))
                    apply(winner)
                    apply(loser)
                    version += 2
                else:
                    winner = appends(tag + "w", [region] + others)
                    steps.append((block, region, read, winner, version + 1, loser, None))
                    apply(winner)
                    version += 1
        self.steps = steps
        self.final_version = version
        self.final_paths = frozenset(model)

    # -- set-up ----------------------------------------------------------------------
    def setup_steps(self, rep: int):
        path = os.path.join(self.work, f"template{rep}")
        self.template_log = os.path.join(path, "_delta_log")
        log = DeltaLog(path)
        yield functools.partial(synth.create_table, log)
        for v, adds in enumerate(self.template, start=1):
            yield functools.partial(synth.commit_as, log, adds, v)

    def prepare(self, rec) -> None:
        self.round(rec, False)  # warm-up round, samples discarded

    # -- the round ------------------------------------------------------------------
    def _restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.template_log, os.path.join(self.live, "_delta_log"))
        # Flush the copy now: otherwise the first commit's fsync writes the
        # restore's journal entries and data, and its time follows the disk.
        os.sync()

    def round(self, rec, traced: bool) -> None:
        self._restore()
        log = DeltaLog(self.live)
        for step in self.steps:
            block = step[0]
            if block == "append":
                _, adds, v = step
                self._commit(rec, log.start_transaction(), adds, v, (block, v))
            elif block == "rewrite":
                _, region, read, actions, v = step
                txn = log.start_transaction()
                self._read(rec, txn, region, read)
                self._commit(rec, txn, actions, v, (block, v))
            else:
                _, region, read, winner, wv, loser, lv = step
                t1 = log.start_transaction()
                t2 = log.start_transaction()
                self._read(rec, t2, region, read)
                self._commit(rec, t1, winner, wv, (block, "winner", wv))
                if lv is not None:  # disjoint: the loser retries past the winner
                    self._commit(rec, t2, loser, lv, (block, "retry", lv))
                else:
                    got = rec.op("conflict", _expect_conflict, t2, loser, sig=(block, wv))
                    rec.check(got == "conflict", f"{block}: no ConcurrentAppendError ({got})")

    def _read(self, rec, txn, region, want) -> None:
        got = rec.op("txn_read", txn.mark_files_as_read, _region_pred(region), sig=("read", region))
        if got is not None:
            rec.check(frozenset(a.path for a in got) == want, f"read {region}: files differ")

    def _commit(self, rec, txn, actions, version, sig) -> None:
        kind = "commit_ckpt" if version % synth.CHECKPOINT_INTERVAL == 0 else "commit"
        got = rec.op(kind, txn.commit, actions, sig=sig)
        if got is not None:
            rec.check(got == version, f"{sig}: committed version {got}, expected {version}")

    def finish(self, rec) -> None:
        snap = DeltaLog(self.live).update()
        rec.check(snap.version == self.final_version, f"final version {snap.version}")
        got = frozenset(a.path for a in snap.all_files())
        rec.check(got == self.final_paths, "final active set differs from the model")
        rec.check(
            any(os.path.basename(p).startswith(f"{self.final_version:020d}.checkpoint")
                for p in os.listdir(os.path.join(self.live, "_delta_log"))),
            "the round's last commit wrote no checkpoint",
        )

    def close(self) -> None:
        pass


def _expect_conflict(txn, actions) -> str:
    try:
        txn.commit(actions)
    except ConcurrentAppendError:
        return "conflict"
    return "committed"
