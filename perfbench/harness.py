"""Closed-loop runner: calibration pairing, rounds, statistics and
process-tree probes shared by the three workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
from time import perf_counter, perf_counter_ns

from tracing import LAYER_OF, Tracer, install

HERE = os.path.dirname(os.path.abspath(__file__))
WALL_CAP_S = 150.0  # stop starting rounds past this, to exit well inside 180 s
CAL_WINDOW = 10  # a step's reference: fastest of its own and 10+10 neighbouring samples
NOMINAL_KERNEL_S = 0.0035  # setup_s = set-up time in kernel units x this


def current_cpu() -> int:
    """The CPU this process's main thread last ran on."""
    with open("/proc/thread-self/stat", encoding="utf-8") as f:
        return int(f.read().rsplit(")", 1)[1].split()[36])


class Calibrator:
    """The calibration child (calib.py), run synchronously after each op."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "calib.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )

    def sample_ns(self) -> int:
        self.proc.stdin.write(f"{current_cpu()}\n".encode())
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("calibration child exited")
        return int(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


class Recorder:
    """Times ops, pairs each with the calibration sample taken right after
    it, and collects correctness failures."""

    def __init__(self, cal: Calibrator):
        self.cal = cal
        self.tracer: Tracer | None = None  # set for traced rounds only
        # kind, op ns, cal ns, traced, the op's position in its round
        self.samples: list[tuple[str, int, int, bool, int]] = []
        self.position = 0  # reset at the start of every round
        self.plan: list[tuple] = []  # op signatures of the first measured round
        self.recording_plan = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, kind: str, fn, *args, sig=()):
        """Run one timed op.  An exception counts as a failed op; expected
        outcomes such as a conflict are returned by `fn`, not raised."""
        if self.recording_plan:
            self.plan.append((kind, *sig))
        tr = self.tracer
        self.attempted += 1
        if tr is not None:
            tr.begin_op(kind)
        t0 = perf_counter_ns()
        try:
            out = fn(*args)
        except Exception as e:  # an op must not end the run: count it
            out = None
            self.failed += 1
            self.errors.append(f"{kind} raised {e!r}")
        t1 = perf_counter_ns()
        if tr is not None:
            tr.end_op()
        self.samples.append((kind, t1 - t0, self.cal.sample_ns(), tr is not None, self.position))
        self.position += 1
        return out

    def check(self, ok: bool, what: str) -> None:
        """Record a wrong answer (a correctness failure, not a failed op)."""
        if not ok and len(self.errors) < 50:
            self.errors.append(what)


# -- statistics ----------------------------------------------------------------

def near_min(cal_ns: list[int], i: int) -> float:
    """Fastest of calibration sample i and CAL_WINDOW samples either side.
    Interference only ever slows a kernel run: right after an op the
    engine's threads, the JVM's collector or the disk still compete for
    the CPU, and on table_query the samples' median ran 70% above their
    minimum and moved 6% from run to run while the queries' raw times
    moved 2%.  The fastest nearby run is the host's current speed."""
    return min(cal_ns[max(0, i - CAL_WINDOW) : i + CAL_WINDOW + 1])


def slowest_position(ref: list[float], pos: list[int]) -> tuple[float, int]:
    """(median over rounds of the slowest op position, number of positions).
    Every round runs the same op sequence and each position has its own
    cost, so a pooled high percentile reads the edge between two positions
    and jumps with any stall that lifts a few faster ops past it; the
    slowest position's median is the round's tail without either."""
    by_pos: dict[int, list[float]] = {}
    for r, p in zip(ref, pos):
        by_pos.setdefault(p, []).append(r)
    return max(statistics.median(v) for v in by_pos.values()), len(by_pos)


# -- process tree ----------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def tree_pids(exclude: set[int]) -> list[int]:
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_ms(exclude: set[int]) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(exclude):
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime + stime
    return total * 1000.0 / tick


def tree_peak_rss_mb(exclude: set[int]) -> float:
    """Sum of each live process's peak resident set (VmHWM) over this
    process and its descendants (py4j's JVM included)."""
    kb = 0
    for pid in tree_pids(exclude):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# -- the run -------------------------------------------------------------------

def run(wl, seconds: float, trace: bool, spans_path: str | None = None) -> dict:
    """Set up `wl` several times, then run its fixed round until `seconds`
    have passed and the workload's minimum round count is met.  With
    `trace`, traced and untraced rounds alternate so both see the same
    warm-up state, and two rounds are the minimum."""
    t_start = perf_counter()
    cal = Calibrator()
    exclude = {cal.proc.pid}
    try:
        wl.open()
        # A step's unit comes from the calibration samples nearest it in the
        # whole set-up, not only in its own repetition: table_query's cold
        # first set-up has seven steps, all followed by JIT work.
        reps, cal_ns = [], []
        for rep in range(wl.setup_reps):
            reps.append([])
            for step in wl.setup_steps(rep):
                t0 = perf_counter_ns()
                step()
                reps[-1].append((perf_counter_ns() - t0, len(cal_ns)))
                cal_ns.append(cal.sample_ns())
        setup_s = [sum(ns for ns, _ in steps) / 1e9 for steps in reps]
        setup_ref = [sum(ns / near_min(cal_ns, i) for ns, i in steps) for steps in reps]
        rec = Recorder(cal)
        wl.prepare(rec)  # warm-up: its samples are dropped, its checks kept
        rec.samples.clear()
        tracer = Tracer() if trace else None
        n_rounds, untraced_cpu_ms = 0, 0.0
        t0 = perf_counter()
        while True:
            elapsed = perf_counter() - t0
            if trace:
                if n_rounds >= 2 and n_rounds % 2 == 0 and elapsed >= seconds:
                    break
            elif n_rounds >= wl.min_rounds and elapsed >= seconds:
                break
            if perf_counter() - t_start > WALL_CAP_S and n_rounds >= 2:
                break
            traced = trace and n_rounds % 2 == 1
            rec.recording_plan = n_rounds == 0
            rec.position = 0
            patches = None
            if traced:
                rec.tracer = tracer
                patches = install(tracer)
            cpu0 = tree_cpu_ms(exclude)
            try:
                wl.round(rec, traced)
            finally:
                if patches is not None:
                    patches.restore()
                rec.tracer = None
            if not traced:
                untraced_cpu_ms += tree_cpu_ms(exclude) - cpu0
            n_rounds += 1
        measured_s = perf_counter() - t0
        rec.recording_plan = False
        wl.finish(rec)
        peak_rss = tree_peak_rss_mb(exclude)
    finally:
        try:
            wl.close()
        finally:
            cal.close()
    if tracer is not None and spans_path:
        tracer.write_spans(spans_path)
    return summarize(wl, rec, tracer, setup_s, setup_ref, peak_rss, untraced_cpu_ms,
                     n_rounds, measured_s)


def _ratios(rec: Recorder, kinds, traced: bool) -> tuple[list[float], list[float], list[int]]:
    """(op time in kernel units, op wall ms, position in round) for the ops
    of `kinds`.  The unit is the fastest of the calibration samples nearest
    the op (its own, taken right after it, and CAL_WINDOW either side),
    which follows drift while ignoring disturbed kernel runs."""
    cal = [c for _k, _o, c, _t, _p in rec.samples]
    ref, wall, pos = [], [], []
    for i, (kind, op_ns, _c, tr, p) in enumerate(rec.samples):
        if kind in kinds and tr == traced:
            ref.append(op_ns / near_min(cal, i))
            wall.append(op_ns / 1e6)
            pos.append(p)
    return ref, wall, pos


def summarize(wl, rec, tracer, setup_s, setup_ref, peak_rss, untraced_cpu_ms,
              n_rounds, measured_s) -> dict:
    p_ref, p_wall, p_pos = _ratios(rec, wl.primary, False)
    s_ref, s_wall, _ = _ratios(rec, wl.secondary, False)
    cal = [c for _k, _o, c, _t, _p in rec.samples]
    all_cal = [near_min(cal, i) / 1e6 for i, s in enumerate(rec.samples) if not s[3]]
    tail, n_pos = slowest_position(p_ref, p_pos)
    n_untraced_ops = sum(1 for s in rec.samples if not s[3])
    info = {
        "rounds": n_rounds,
        "measured_s": measured_s,
        "primary": "+".join(sorted(wl.primary)),
        "secondary": "+".join(sorted(wl.secondary)),
        "primary_positions": n_pos,
        "primary_samples": len(p_ref),
        "secondary_samples": len(s_ref),
        "calibration_samples": len(all_cal),
        "setup_reps_s": setup_s,
        "fail_ratio": rec.failed / max(1, rec.attempted),
        "wall.p50_ms": statistics.median(p_wall) if p_wall else 0.0,
        "side_wall.p50_ms": statistics.median(s_wall) if s_wall else 0.0,
        "machine_ref_ms": statistics.median(all_cal) if all_cal else 0.0,
        "ops_by_kind": dict(sorted(_kind_counts(rec).items())),
        "errors": rec.errors[:10],
    }
    end_to_end = {
        "setup_s": (statistics.median(setup_ref) * NOMINAL_KERNEL_S, "s"),
        "p50_ref": (statistics.median(p_ref), "ref"),
        "tail_ref": (tail, "ref"),
        "side_p50_ref": (statistics.median(s_ref), "ref"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    per_layer = None
    if tracer is not None:
        cpu_per_op = untraced_cpu_ms / max(1, n_untraced_ops)
        per_layer = layer_metrics(wl, rec, tracer, info, cpu_per_op)
    return {
        "correct": not rec.errors and rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "info": info,
        "plan": rec.plan,
    }


def _kind_counts(rec: Recorder) -> dict[str, int]:
    out: dict[str, int] = {}
    for kind, *_ in rec.samples:
        out[kind] = out.get(kind, 0) + 1
    return out


def layer_metrics(wl, rec: Recorder, tr: Tracer, info: dict, cpu_per_op: float) -> dict:
    """Per-layer numbers from the traced rounds.  Times are self times in
    ms per traced op; counts are per op unless the name says otherwise."""
    n_ops = max(1, sum(tr.ops.values()))
    n_commits = tr.total(tr.calls, "transaction.commit")
    n_scans = tr.total(tr.calls, "scan.files")
    n_changes = tr.total(tr.calls, "history.changes")
    n_writes = tr.total(tr.calls, "writer.write")
    n_ckpt = tr.total(tr.counts, "checkpoint.writes")
    n_queries = tr.total(tr.counts, "spark.queries")

    def self_ms(*kinds):
        return sum(tr.total(tr.self_ns, k) for k in kinds) / 1e6 / n_ops

    def per(name, denom):
        return tr.total(tr.counts, name) / denom if denom else 0.0

    considered = tr.total(tr.counts, "scan.files_considered")
    returned = tr.total(tr.counts, "scan.files_returned")
    _, w_tr, _ = _ratios(rec, wl.primary, True)
    _, w_un, _ = _ratios(rec, wl.primary, False)
    overhead = 100.0 * (statistics.median(w_tr) / statistics.median(w_un) - 1.0) \
        if w_tr and w_un else 0.0
    prim_wall = sum(tr.op_ns[k] for k in wl.primary)
    prim_root = sum(tr.self_ns[(k, "op")] for k in wl.primary)
    m = {
        "checkpoint.read_ms": (self_ms("checkpoint.read"), "ms"),
        "checkpoint.rows_decoded_per_op": (per("checkpoint.rows_decoded", n_ops), "1/op"),
        "checkpoint.write_ms": (self_ms("checkpoint.write"), "ms"),
        "checkpoint.bytes_written": (per("checkpoint.bytes_written", n_ckpt), "B/ckpt"),
        "snapshot.segment_ms": (self_ms("snapshot.segment"), "ms"),
        "snapshot.fold_ms": (self_ms("snapshot.fold"), "ms"),
        "snapshot.actions_replayed_per_op": (per("snapshot.actions_replayed", n_ops), "1/op"),
        "snapshot.folds_per_op": (per("snapshot.folds", n_ops), "1/op"),
        "snapshot.pm_resolve_ms": (self_ms("snapshot.pm"), "ms"),
        "store.list_calls_per_op": (tr.total(tr.calls, "store.list") / n_ops, "1/op"),
        "store.listed_entries_per_op": (per("store.listed_entries", n_ops), "1/op"),
        "store.read_calls_per_op": (tr.total(tr.calls, "store.read") / n_ops, "1/op"),
        "store.write_calls_per_commit": (
            tr.total(tr.calls, "store.write") / n_commits if n_commits else 0.0, "1/commit"),
        "store.busy_ms": (self_ms("store.list", "store.read", "store.write", "store.meta"), "ms"),
        "log.update_ms": (self_ms("log.update"), "ms"),
        "log.update_calls_per_op": (tr.total(tr.calls, "log.update") / n_ops, "1/op"),
        "log.time_travel_ms": (self_ms("log.time_travel"), "ms"),
        "scan.files_ms": (self_ms("scan.files"), "ms"),
        "scan.files_considered": (per("scan.files_considered", n_scans), "1/scan"),
        "scan.files_returned": (per("scan.files_returned", n_scans), "1/scan"),
        "scan.prune_ratio": (returned / considered if considered else 0.0, "ratio"),
        "scan.stats_skipped": (per("scan.stats_skipped", n_scans), "1/scan"),
        "history.changes_ms": (self_ms("history.changes"), "ms"),
        "history.actions_yielded": (per("history.actions_yielded", n_changes), "1/call"),
        "transaction.commit_ms": (self_ms("transaction.commit"), "ms"),
        "transaction.retries_per_commit": (per("transaction.retries", n_commits), "1/commit"),
        "transaction.conflicts_detected": (per("transaction.conflicts", n_commits), "1/commit"),
        "writer.stage_ms": (self_ms("writer.stage"), "ms"),
        "writer.commit_ms": (tr.total(tr.counts, "writer.commit_ns") / 1e6 / n_ops, "ms"),
        "writer.files_added": (per("writer.files_added", n_writes), "1/write"),
        "datareader.plan_ms": (self_ms("datareader.plan"), "ms"),
        "spark.exec_ms": (self_ms("spark.exec"), "ms"),
        "spark.tasks_per_query": (per("spark.tasks", n_queries), "1/query"),
        "spark.stages_per_query": (per("spark.stages", n_queries), "1/query"),
        "machine_ref_ms": (info["machine_ref_ms"], "ms"),
        "wall.p50_ms": (info["wall.p50_ms"], "ms"),
        "proc.cpu_ms_per_op": (cpu_per_op, "ms"),
        "trace.overhead_pct": (overhead, "%"),
        "trace.unaccounted_pct": (100.0 * prim_root / prim_wall if prim_wall else 0.0, "%"),
    }
    info["accounting"] = {
        kind: accounting(tr, kind) for kind in sorted(tr.ops)
    }
    return m


def accounting(tr: Tracer, op_kind: str) -> dict:
    """Per-layer self time (ms per op) along one op kind's blocking path;
    the root span's self time is the unaccounted remainder."""
    n = tr.ops[op_kind]
    layers: dict[str, float] = {}
    for (op, kind), ns in tr.self_ns.items():
        if op == op_kind:
            layer = LAYER_OF.get(kind, kind)
            layers[layer] = layers.get(layer, 0.0) + ns / 1e6 / n
    return {"ops": n, "wall_ms": tr.op_ns[op_kind] / 1e6 / n, "layers": layers}
