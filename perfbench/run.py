"""Benchmark entry point.

    python3 perfbench/run.py --workload shots_etl --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --self-check

Run from the repository root.  Each run starts ``worker.py`` as a fresh
process in its own process group, with Spark's local dirs, temp files,
outputs and checkpoints inside one per-run directory under
``.perfbench_out/runs/``, which is deleted when the run ends, also on
failure.  The last line of standard output is the result object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 1`` prints
the per-layer metrics instead of the end-to-end ones and keeps the spans
in ``.perfbench_out/traces/``.

``--self-check`` runs every workload once on tiny inputs, traced and
untraced, and checks the printed workload and metric names and units
against ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
RUN_TIMEOUT_S = 150  # leaves room for the clean-up inside 180 s
MAX_CPUS = 2


def spark_cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def _become_subreaper() -> None:
    """Orphans of the run (the JVM once the worker exits, the
    ``pyspark.daemon`` in its own process group) re-parent to this
    process, so every one of them can be found, stopped and reaped."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants() -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    data = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(data[data.rfind(")") + 2:].split()[1])
    mine, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        kids = [p for p, pp in parent.items() if pp == pid]
        mine += kids
        todo += kids
    return mine


def _stop_all(timeout_s: float = 20) -> None:
    """Kill every process this run started and reap it."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        pids = _descendants()
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    print(f"[perfbench] processes still alive: {_descendants()}", file=sys.stderr)


def run_once(workload: str, seed: int, seconds: float, trace: int,
             quick: bool = False) -> dict | None:
    """One worker process; returns its result object, or None."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    run_dir = os.path.join(OUT, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # spark-submit's launcher JVM would leave its perf data in /tmp.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--run-dir", run_dir]
    if quick:
        cmd.append("--quick")
    if trace:
        cmd += ["--trace-out", os.path.join(OUT, "traces", f"{workload}-seed{seed}.json")]
    _become_subreaper()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr)
    try:
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] {workload}: no result within {RUN_TIMEOUT_S} s", file=sys.stderr)
            proc.kill()
            proc.wait()
        path = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)
    finally:
        _stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "fotmobdatapipeline_spark", "__init__.py")) \
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def self_check() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    problems = []
    names = [w["name"] for w in spec["workloads"]]
    if sorted(names) != sorted(WORKLOADS):
        problems.append(f"workloads {names} != {sorted(WORKLOADS)}")
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for name in names:
        for trace in (0, 1):
            res = run_once(name, seed=1, seconds=1, trace=trace, quick=True)
            if res is None:
                problems.append(f"{name} trace={trace}: no result")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{name} trace={trace}: metrics/units differ from "
                                f"BENCHMARK.json: {sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not res["correct"]:
                problems.append(f"{name} trace={trace}: {res['failed']} of "
                                f"{res['attempted']} operations failed")
            print(f"[self-check] {name} trace={trace}: attempted={res['attempted']} "
                  f"failed={res['failed']}", file=sys.stderr)
    for p in problems:
        print(f"[self-check] PROBLEM: {p}", file=sys.stderr)
    print(json.dumps({"self_check": "fail" if problems else "ok", "problems": len(problems)}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if not program_present():
        print("[perfbench] fotmobdatapipeline_spark and __spark_entry__.py must sit beside "
              "perfbench/; run from the repository root", file=sys.stderr)
        return 2
    if args.self_check:
        return self_check()
    if not args.workload:
        ap.error("--workload is required")
    res = run_once(args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
