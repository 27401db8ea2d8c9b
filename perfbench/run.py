#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the repository root. The measured run happens in a child process
(``perfbench.worker``) started in its own session; this supervisor gives it
a private scratch directory under ``.perfbench/``, enforces a time limit,
kills and reaps every process the run left behind (the Spark JVM and its
Python workers included), deletes the scratch directory, and re-prints the
child's result line as the last line of standard output. It exits non-zero,
printing no result, when the child fails or produces no result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170
PR_SET_CHILD_SUBREAPER = 36
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _become_subreaper() -> None:
    """Orphaned descendants are re-parented here, so they can be reaped."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after its ')' are fixed
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _descendants(pid: int) -> list[int]:
    ppid = _ppid_map()
    found, frontier = [], [pid]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in ppid.items() if pp == parent]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _kill_and_reap(deadline_s: float = 30.0) -> None:
    """SIGKILL every remaining descendant and wait until each has ended."""
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        pids = _descendants(os.getpid())
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG) == (0, 0):
                    break
            except ChildProcessError:
                break
        if not pids:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _become_subreaper()
    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        # Spark's Python workers import the engine package from the checkout
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PERFBENCH_RUN_DIR=run_dir,
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    out, returncode = "", None
    try:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=TIME_LIMIT_S)
            returncode = proc.returncode
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIME_LIMIT_S}s, killed", file=sys.stderr)
    finally:
        _kill_and_reap()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.splitlines()
    if returncode != 0 or not lines:
        print(f"perfbench: worker exited with {returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print("perfbench: worker printed no result line", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
