"""Paired benchmark runs of two checkouts, alternating which side runs first.

Usage:
    python3 scripts/perf_pairs.py BASE_ROOT CHANGE_ROOT --workload W \
        --seeds 1-5,11,12 [--seconds 10] [--out runs.jsonl]

For each seed, runs
    python3 perfbench/run.py --workload W --seed S --seconds 10 --trace 0
once in each repository root (the first pair runs BASE first, the next
CHANGE first, and so on), parses each run's last JSON line, and prints:

  * one line per pair with every end-to-end metric of both sides;
  * per metric, each side's median and quartiles, the median change, the
    base side's interquartile range, and in how many pairs CHANGE won
    (direction from BENCHMARK.json's `better`);
  * per side, the runs that came back correct and failed/attempted ops.

With --out, every run's parsed result is appended to a JSON-lines file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_one(root: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = (proc.stderr or proc.stdout).strip().splitlines()[-3:]
        return {"error": f"exit {proc.returncode}: {' | '.join(tail)}"}
    out = json.loads(lines[-1])
    out["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(root: str) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-5,11,12")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", help="append every run's result to this JSON-lines file")
    args = ap.parse_args(argv)

    roots = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    better = directions(roots["change"])
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for k, seed in enumerate(parse_seeds(args.seeds)):
        order = ("base", "change") if k % 2 == 0 else ("change", "base")
        pair = {}
        for side in order:
            pair[side] = run_one(roots[side], args.workload, seed, args.seconds)
            pair[side].update(side=side, seed=seed, workload=args.workload)
            runs[side].append(pair[side])
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(pair[side]) + "\n")
        cells = []
        for side in ("base", "change"):
            r = pair[side]
            cells.append(r["error"] if "error" in r else " ".join(
                f"{m}={v:.4g}" for m, v in r["metrics"].items()))
        print(f"seed {seed} ({order[0]} first): base {cells[0]} | change {cells[1]}",
              flush=True)

    ok = {s: [r for r in rs if "error" not in r] for s, rs in runs.items()}
    print(f"\n{args.workload}: {len(runs['base'])} pairs, seeds {args.seeds}")
    for name, way in better.items():
        pairs = [
            (b["metrics"][name], c["metrics"][name])
            for b, c in zip(runs["base"], runs["change"])
            if "error" not in b and "error" not in c
            and name in b["metrics"] and name in c["metrics"]
        ]
        if not pairs:
            continue
        bq = quartiles([b for b, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        wins = sum((c < b) if way == "lower" else (c > b) for b, c in pairs)
        print(
            f"  {name:<13} base {bq[1]:10.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
            f"change {cq[1]:10.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
            f"median {100 * (cq[1] - bq[1]) / bq[1]:+6.1f}%  "
            f"base IQR {bq[2] - bq[0]:.4g}  change wins {wins}/{len(pairs)}"
        )
    for side in ("base", "change"):
        att = sum(r["attempted"] for r in ok[side])
        fail = sum(r["failed"] for r in ok[side])
        correct = sum(bool(r["correct"]) for r in ok[side])
        print(f"  {side}: {correct}/{len(runs[side])} runs correct, "
              f"failed/attempted {fail}/{att}")
    return 0 if all(len(ok[s]) == len(runs[s]) for s in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
