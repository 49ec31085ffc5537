"""The benchmark's own tests: determinism, tiny-scale smoke runs of every
workload through the CLI, and the refusal to run without the program.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import run  # noqa: E402

SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8"))
METADATA = ["snapshot_read", "commit_loop"]

# Counts the program makes: they must repeat exactly for one seed.
COUNTS = [
    "store.list_calls_per_op",
    "store.listed_entries_per_op",
    "store.read_calls_per_op",
    "store.write_calls_per_commit",
    "checkpoint.rows_decoded_per_op",
    "snapshot.actions_replayed_per_op",
    "scan.files_returned",
    "transaction.retries_per_commit",
    "transaction.conflicts_detected",
    "spark.tasks_per_query",
    "spark.stages_per_query",
]


def _tiny(name: str, seed: int) -> dict:
    return run.run_workload(name, seed, 0, True, scale="tiny")


@pytest.mark.parametrize("name", METADATA + ["table_query"])
def test_same_seed_same_ops_and_counts(name):
    a, b = _tiny(name, 5), _tiny(name, 5)
    assert a["correct"] and b["correct"], (a["info"]["errors"], b["info"]["errors"])
    assert a["plan"] and a["plan"] == b["plan"]
    for k in COUNTS:
        assert a["per_layer"][k] == b["per_layer"][k], k


@pytest.mark.parametrize("name", METADATA)
def test_other_seed_other_ops(name, tmp_path):
    plans = []
    for seed in (5, 6):
        wl = run.make_workload(name, seed, str(tmp_path / str(seed)), "tiny")
        wl.open()
        plans.append(wl.ops if name == "snapshot_read" else wl.steps)
    assert plans[0] != plans[1]


def test_other_seed_other_queries(tmp_path):
    plans = []
    for seed in (5, 6):
        wl = run.make_workload("table_query", seed, str(tmp_path / str(seed)), "tiny")
        os.makedirs(wl.work)
        wl.make_inputs()
        plans.append(wl.plan)
    assert plans[0] != plans[1]


def _cli(*args, cwd=REPO):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("name", METADATA + ["table_query"])
@pytest.mark.parametrize("trace", [0, 1])
def test_cli_smoke(name, trace):
    p = _cli("--workload", name, "--seed", "3", "--seconds", "0", "--trace", str(trace),
             "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_layer_self_times_add_up_to_wall():
    r = _tiny("commit_loop", 4)
    for kind, acc in r["info"]["accounting"].items():
        assert sum(acc["layers"].values()) == pytest.approx(acc["wall_ms"], rel=0.02), kind


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    p = _cli("--workload", "commit_loop", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
