"""Calibration kernel: a fixed pure-Python workload whose run time tracks
how fast this host runs Python right now.

Run as a script it is the calibration child: every line read on stdin
names a CPU; the child moves to that CPU, runs the kernel once and answers
with its duration in nanoseconds.  The caller names the CPU its own thread
last ran on, so the sample sees the same virtual CPU the op just used (on
a shared host the slowdown differs per CPU).  The child is its own
process, so the engine's interpreter lock, its threads and the JVM never
slow a sample down; only the host does.

The kernel must never change: every `_ref` metric is an op's wall time in
units of this kernel's run time, so editing it rescales every number.
"""

from __future__ import annotations

import json
import os
import sys
import time


def kernel() -> int:
    """Dict building, string formatting, JSON round trip and a sorted walk:
    the same kinds of work as the engine's metadata plane."""
    d = {}
    for i in range(1200):
        k = "region=r%d/day=d%02d/part-%05d.parquet" % (i % 8, i % 30, i)
        d[k] = {"size": i * 7919 % 100003, "ok": (i & 1) == 0}
    e = json.loads(json.dumps(d))
    total = 0
    for k in sorted(e):
        v = e[k]
        if v["ok"]:
            total += v["size"]
    return total


def main() -> int:
    out = sys.stdout
    for line in sys.stdin:
        os.sched_setaffinity(0, {int(line)})
        t0 = time.perf_counter_ns()
        kernel()
        out.write(f"{time.perf_counter_ns() - t0}\n")
        out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
