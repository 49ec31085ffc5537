"""Benchmark entry point for delta_go_spark.

    python3 perfbench/run.py --workload snapshot_read --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see BENCHMARK.json and each
module's docstring): snapshot_read, commit_loop, table_query.  Each run
builds its inputs from the seed inside perfbench/.work/, sets the tables up
several times (three; two on table_query), then runs the workload's fixed
round in a closed loop with one client until --seconds have passed and its
minimum round count is met, and checks every result against the
benchmark's own model.  The round is fixed by the seed and starts from the
same table state every time; elapsed time only decides how many rounds run.

Times are reported in units of a calibration kernel (calib.py) run in a
child process right after each op, so host-wide speed drift cancels: an
op's `_ref` time is its wall time over the fastest of the nearest kernel
samples.  End-to-end metrics (--trace 0):
  setup_s       median set-up time; each set-up step is converted to kernel
                units the same way, then scaled by a nominal 3.5 ms kernel
                (raw seconds are printed beside it)
  p50_ref       median primary-op time
  tail_ref      the slowest primary-op position of the round: the highest
                of the positions' medians over rounds
  side_p50_ref  median secondary-op time
  peak_rss_mb   summed peak RSS of this process and its children (the JVM)

--trace 1 alternates untraced and traced rounds and prints the per-layer
metrics (harness.layer_metrics), with spans written to perfbench/.out/.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = {
    "snapshot_read": ("snapshot_read", "SnapshotRead"),
    "commit_loop": ("commit_loop", "CommitLoop"),
    "table_query": ("table_query", "TableQuery"),
}


def make_workload(name: str, seed: int, work: str, scale: str):
    import importlib

    module, cls = WORKLOADS[name]
    return getattr(importlib.import_module(module), cls)(seed, work, scale)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 scale: str = "full") -> dict:
    """One benchmark run; returns the summary (see harness.summarize)."""
    import harness

    work = os.path.join(HERE, ".work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(HERE, ".out", f"spans-{name}-{seed}.jsonl") if trace else None
    try:
        wl = make_workload(name, seed, work, scale)
        result = harness.run(wl, seconds, trace, spans_path=spans)
        result["info"].update(getattr(wl, "info", {}))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(name: str, result: dict, trace: bool) -> list[str]:
    info = result["info"]
    lines = [
        f"workload {name}: closed loop, 1 client, {info['rounds']} rounds in "
        f"{info['measured_s']:.1f} s; correct={result['correct']} "
        f"attempted={result['attempted']} failed={result['failed']} "
        f"fail_ratio={info['fail_ratio']:.4f}",
        f"  ops: {info['ops_by_kind']}",
        f"  primary={info['primary']} n={info['primary_samples']}  "
        f"secondary={info['secondary']} n={info['secondary_samples']}  "
        f"calibration n={info['calibration_samples']}  "
        f"tail=slowest of {info['primary_positions']} primary positions",
    ]
    for k, (v, unit) in result["end_to_end"].items():
        lines.append(f"  {k:<14} {v:12.4f} {unit}")
    lines.append(f"  {'wall.p50_ms':<14} {info['wall.p50_ms']:12.3f} ms (raw, primary)")
    lines.append(f"  {'side_wall.p50_ms':<14} {info['side_wall.p50_ms']:12.3f} ms (raw, secondary)")
    lines.append(f"  {'machine_ref_ms':<14} {info['machine_ref_ms']:12.4f} ms (calibration kernel)")
    lines.append("  setup reps: " + ", ".join(f"{s:.3f}s" for s in info["setup_reps_s"]))
    if "spark_start_s" in info:
        lines.append(f"  spark session start: {info['spark_start_s']:.2f} s (not in setup_s)")
    for e in info["errors"]:
        lines.append(f"  ERROR {e}")
    if trace and result["per_layer"]:
        for k, (v, unit) in result["per_layer"].items():
            lines.append(f"  {k:<34} {v:14.4f} {unit}")
        for kind, acc in info["accounting"].items():
            layers = ", ".join(
                f"{layer} {ms:.2f}" for layer, ms in sorted(acc["layers"].items(), key=lambda x: -x[1])
            )
            lines.append(
                f"  accounting {kind} (n={acc['ops']}, wall {acc['wall_ms']:.2f} ms/op, "
                f"self ms/op): {layers}"
            )
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the benchmark's own tests")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    sys.path.insert(0, REPO)
    try:
        import delta_go_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import delta_go_spark from {REPO}: {e}", file=sys.stderr)
        return 2

    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                          args.scale)
    for line in report(args.workload, result, bool(args.trace)):
        print(line)
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
