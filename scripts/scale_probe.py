"""Driver-side state cost at scale: snapshot + pruned scan and a checkpoint
write over a synthetic table of N adds, with peak RSS.  No SparkSession.

Usage:
    python3 scripts/scale_probe.py N [--reps 2] [--dir DIR]

The table comes from perfbench/synth.py's generator (partitioned by
`region` and `day`, min/max stats on `id` and `ts`).  Its base of N - 3000
adds exists only as the version-1 checkpoint, as after log cleanup; a
3-commit tail (versions 2-4) adds 1000 files each, and its last commit
removes 100 base files.  A separate process builds the table, so the peak
RSS printed is the measuring process's own.

Each repetition prints one JSON line:
  snapshot_scan_s     fresh DeltaLog -> update() -> scan(region = 'r3' AND
                      day = 'd05') -> list the surviving files
  checkpoint_write_s  write_checkpoint of the folded state at the latest
                      version, into a separate log directory so the
                      table itself stays as built
  peak_rss_mb         the process's peak resident set so far
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(REPO, "perfbench"), REPO]

import synth  # noqa: E402

from delta_go_spark import checkpoint as ckpt  # noqa: E402
from delta_go_spark.expressions import And, Column, EqualTo, Literal  # noqa: E402
from delta_go_spark.log import DeltaLog  # noqa: E402

TAIL_COMMITS, TAIL_ADDS, TAIL_REMOVES = 3, 1000, 100


def build(path: str, n: int) -> None:
    rng = random.Random(f"scale_probe/{n}")
    log = DeltaLog.for_table(path)
    synth.create_table(log)
    snap = log.update()
    base = [
        synth.make_add(rng, f"b{i:08d}", synth.REGIONS[i % len(synth.REGIONS)])
        for i in range(n - TAIL_COMMITS * TAIL_ADDS)
    ]
    ckpt.write_checkpoint(
        log.store, log.log_path, 1, snap.protocol(), snap.metadata(), base, [], []
    )
    now = int(time.time() * 1000)
    for v in range(2, 2 + TAIL_COMMITS):
        acts = [
            synth.make_add(rng, f"t{v}-{i:05d}", synth.REGIONS[i % len(synth.REGIONS)])
            for i in range(TAIL_ADDS)
        ]
        if v == 1 + TAIL_COMMITS:
            acts += [a.remove(now) for a in rng.sample(base, TAIL_REMOVES)]
        synth.commit_as(log, acts, v)


def measure(path: str, out_log: str) -> dict:
    pred = And(
        EqualTo(Column("region"), Literal("r3")),
        EqualTo(Column("day"), Literal("d05")),
    )
    t0 = time.perf_counter()
    snap = DeltaLog.for_table(path).update()
    files = list(snap.scan(pred).files())
    t1 = time.perf_counter()
    st = snap.state()
    ckpt.write_checkpoint(
        snap.store,
        out_log,
        snap.version,
        st.protocol,
        st.metadata,
        list(st.active_files.values()),
        list(st.tombstones.values()),
        list(st.set_transactions.values()),
    )
    t2 = time.perf_counter()
    return {
        "active_files": len(st.active_files),
        "files_returned": len(files),
        "snapshot_scan_s": round(t1 - t0, 2),
        "checkpoint_write_s": round(t2 - t1, 2),
        "peak_rss_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("adds", type=int)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--dir", help="parent directory of the temp table")
    ap.add_argument("--build-only", metavar="PATH", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.adds <= TAIL_COMMITS * TAIL_ADDS:
        ap.error(f"adds must exceed the tail's {TAIL_COMMITS * TAIL_ADDS}")
    if args.build_only:
        build(args.build_only, args.adds)
        return 0

    tmp = tempfile.mkdtemp(prefix="scale_probe_", dir=args.dir)
    try:
        path = os.path.join(tmp, "synth")
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(args.adds),
             "--build-only", path],
            check=True,
        )
        print(f"# built {args.adds} adds in {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
        out_log = os.path.join(tmp, "checkpoint_out", "_delta_log")
        os.makedirs(out_log)
        for rep in range(args.reps):
            row = {"adds": args.adds, "rep": rep, **measure(path, out_log)}
            print(json.dumps(row), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
