#!/usr/bin/env python3
"""Benchmark runner for graphiti_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The runner starts one worker process
(perfbench/worker.py: the Spark driver on local[<cores>]), samples the
memory of the worker's whole process tree (driver JVM and
Python workers), and prints, as the last line of standard output, one
JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Lines before it give every metric by name with its unit, each operation
kind's median and sample count, and the failed ratio.

The hybrid_search graph is built once per checkout, by the first run
that finds it missing, in a worker of its own before the measured one;
it lives in .perfbench_build/ under a key of the program's and the
benchmark's sources, so a changed program gets a new graph.

A worker that dies (for example killed by the kernel for memory) or
overruns its time limit is reported as a failed run with the metrics of
the operations it finished. Every process the run started is stopped
before the runner exits.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("hybrid_search", "entity_resolve")
# the worker is stopped after this long, so that the runner ends within
# 180 s with time left to stop the process tree (STOP_WAIT_S) and print
WORKER_LIMIT_S = 168.0
STOP_WAIT_S = 10.0
# a run that has to build the hybrid_search graph first may take longer
BUILD_LIMIT_S = 600.0
BUILD_DIR = ROOT / ".perfbench_build"

# Every end-to-end metric, by name and unit.
E2E_UNITS = {
    "setup_s": "s",
    "latency_s": "s",
    "success_ratio": "ratio",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "dedup_precision": "ratio",
    "dedup_recall": "ratio",
    "peak_rss_mb": "MB",
    "stored_mb": "MB",
}


def cores() -> int:
    """Cores this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_yield", "_skew")):
        return "ratio"
    return "count"


def driver_memory() -> str:
    """Driver heap: an eighth of physical memory, between 1 and 4 GiB. The
    JVM's off-heap use and the Python workers come on top, and the
    machine may be shared."""
    total_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    mb = min(4096, max(1024, total_kb // 8 // 1024))
    return f"{mb}m"


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int) -> dict[int, str]:
    """pid -> start time of ``root`` and all its descendants; the start
    time tells a process from a later one that reuses its pid."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            children.setdefault(int(st[1]), []).append(int(d))
            start[int(d)] = st[19]
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        p = todo.pop()
        if p not in out and p in start:
            out[p] = start[p]
            todo.extend(children.get(p, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size (Pss): pages shared between processes, such
    as a Python daemon's forked workers, are split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_memory(tree: dict[int, str]) -> int:
    """Memory of a process tree: the JVM's resident set plus the Pss of
    every Python process. Only the first java process is the JVM; a later
    one is a fork of it that has not yet exec'd, and counting it would add
    the JVM's memory a second time. The JVM is read from statm: reading
    its smaps_rollup walks gigabytes of page tables (about 30 ms on a
    4-core VM) under the lock its own page faults take."""
    javas = []
    for p, start in tree.items():
        try:
            if os.path.basename(os.readlink(f"/proc/{p}/exe")).startswith("java"):
                javas.append((int(start), p))
        except OSError:
            pass
    javas.sort()
    others = set(tree) - {p for _, p in javas}
    return (rss_bytes(javas[0][1]) if javas else 0) + sum(pss_bytes(p) for p in others)


def alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    return st is not None and st[19] == start and st[0] != "Z"


def stop_all(procs: dict[int, str]) -> None:
    """SIGKILL every process seen in the tree that still runs, then wait
    until all have ended."""
    for p, start in procs.items():
        if alive(p, start):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + STOP_WAIT_S
    while time.time() < deadline and any(alive(p, s) for p, s in procs.items()):
        time.sleep(0.1)


def e2e_metrics(report: dict, peak_rss: int) -> tuple[dict, list[str]]:
    """latency_s is the mean over the run's operation labels (the ingest;
    or the four search recipes) of each label's median wall time."""
    ops = [o for o in report.get("ops", []) if o["wall_s"] > 0 and o["cycle"] >= 0]
    by_label: dict[str, list[float]] = {}
    for o in ops:
        by_label.setdefault(o["label"], []).append(o["wall_s"])
    q = report.get("quality", {})
    m = {"setup_s": report.get("setup_s") or 0.0}
    medians = {k: statistics.median(v) for k, v in by_label.items()}
    m["latency_s"] = statistics.mean(medians.values()) if medians else 0.0
    notes = [f"{k}: median {medians[k]:.3f} s of n={len(v)}" for k, v in by_label.items()]
    attempted, failed = counts(report)
    m["success_ratio"] = (attempted - failed) / attempted
    for key in ("triple_precision", "triple_recall", "dedup_precision", "dedup_recall"):
        m[key] = q.get(key, 0.0)
    m["peak_rss_mb"] = peak_rss / 1e6
    m["stored_mb"] = report.get("stored_mb", 0.0)
    phases = report.get("setup_phases", {})
    notes.append("setup_s phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items()))
    notes.append(f"measurement window {report.get('window_s', 0):.2f} s, "
                 f"output checks {report.get('checks_s', 0):.2f} s (untimed)")
    notes.append(f"failed_ratio = {failed}/{attempted} = {failed / attempted:.4f}")
    return m, notes


def counts(report: dict) -> tuple[int, int]:
    ops = report.get("ops", [])
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if not report.get("done") or not ops:
        # the operation in flight when the worker died, or the set-up
        attempted += 1
        failed += 1
    return attempted, failed


def source_key() -> str:
    """Hash of the program's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in (ROOT / "graphiti_spark", HERE):
        for p in sorted(top.rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def supervise(cmd: list[str], env: dict, limit_s: float) -> tuple[int, bool, int]:
    """Runs ``cmd`` in a session of its own, sampling its process tree's
    memory every 0.5 s; stops the tree after ``limit_s`` or when the
    worker exits. Returns (exit code, timed out, peak bytes)."""
    start = time.time()
    proc = subprocess.Popen(
        cmd, env=env, cwd=str(ROOT), stdin=subprocess.DEVNULL,
        stdout=sys.stderr.fileno(), stderr=sys.stderr.fileno(), start_new_session=True,
    )
    seen: dict[int, str] = {}
    peak = 0
    timed_out = False
    try:
        while proc.poll() is None:
            pids = process_tree(proc.pid)
            seen.update(pids)
            peak = max(peak, tree_memory(pids))
            if time.time() - start > limit_s:
                timed_out = True
                break
            time.sleep(0.5)
    finally:
        if proc.poll() is None:
            seen.update(process_tree(proc.pid))
        stop_all(seen)
        proc.wait()
    return proc.returncode, timed_out, peak


def ensure_fixture(worker_cmd: list[str], env: dict, work: Path) -> tuple[Path, str]:
    """The hybrid_search graph for these sources: built now if missing, into
    a temporary directory renamed into place, so that an interrupted build
    is never used. Returns its directory and a note."""
    fixture = BUILD_DIR / f"fixture-{source_key()}"
    if (fixture / "meta.json").is_file():
        return fixture, "hybrid_search graph reused"
    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t = time.time()
    code, timed_out, _ = supervise(
        worker_cmd + ["--trace", "0", "--fixture", str(tmp), "--build-fixture"],
        env, BUILD_LIMIT_S)
    note = f"hybrid_search graph built in {time.time() - t:.1f} s"
    if code == 0 and not timed_out and (tmp / "meta.json").is_file():
        for old in BUILD_DIR.glob("fixture-*"):
            shutil.rmtree(old, ignore_errors=True)
        try:
            os.rename(tmp, fixture)
        except OSError:
            pass                # a concurrent run put the same graph in place
    else:
        note = ("building the hybrid_search graph " +
                ("timed out" if timed_out else f"failed with code {code}"))
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(work / "spark-local", ignore_errors=True)
    return fixture, note


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "graphiti_spark" / "__init__.py").is_file():
        print(f"perfbench: no graphiti_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "report.json"
    spans_out = ROOT / ".perfbench_traces" / f"{a.workload}-seed{a.seed}.json"
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    worker = [
        sys.executable, str(HERE / "worker.py"), "--workload", a.workload,
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--out", str(out), "--spans-out", str(spans_out), "--work", str(work),
    ]
    # a runner stopped by a signal still stops the worker's process tree
    # (supervise's finally clause)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))
    start = time.time()
    fixture, fixture_note = ensure_fixture(worker, env, work)
    notes = [fixture_note]
    if (fixture / "meta.json").is_file():
        code, timed_out, peak = supervise(
            worker + ["--trace", str(a.trace), "--fixture", str(fixture)], env,
            WORKER_LIMIT_S)
    else:
        code, timed_out, peak = 1, False, 0

    try:
        report = json.loads(out.read_text(encoding="utf-8"))
    except (OSError, ValueError):
        report = {}
    if code != 0 or timed_out:
        report["done"] = False

    attempted, failed = counts(report)
    e2e, e2e_notes = e2e_metrics(report, peak)
    notes += e2e_notes
    if not report.get("done"):
        notes.append("worker " + ("timed out" if timed_out else f"exited with code {code}"))
    for o in report.get("ops", []):
        if not o["ok"]:
            notes.append(f"failed {o['kind']} {o['label']} in cycle {o['cycle']}: "
                         f"{o['detail']}")
    notes.append(f"run wall time {time.time() - start:.1f} s")
    if a.trace:
        layer = report.get("per_layer", {})
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layer.items())}
        shares = report.get("write_shares", {})
        notes.append(
            "layer self time as a share of the traced write's wall time (merge pool "
            "threads overlap, so shares can sum past 100%): " + ", ".join(
                f"{k} {v:.1%}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1])))
        if report.get("done"):
            notes.append(f"spans written to {spans_out.relative_to(ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={cores()} driver_heap={env['SPARK_GRAFT_DRIVER_MEM']}")
    for k, v in e2e.items():
        print(f"{k:>22} = {v:.6g} {E2E_UNITS[k]}")
    if a.trace:
        for k, v in metrics.items():
            print(f"{k:>38} = {v['value']:.6g} {v['unit']}")
    for n in notes:
        print(f"# {n}")
    correct = bool(report.get("done")) and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
