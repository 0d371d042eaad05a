"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 14 --trace 0

Run from the repository root. The workload runs in a child process
(``perfbench/workload.py``); this launcher gives it a private work
directory under ``perfbench/.work``, makes itself the reaper of every
process the child starts (the Spark JVM, Spark's Python workers, the
serving pool), stops and waits for all of them, and then prints the
child's result as the last line of standard output. It exits non-zero,
printing no result, when the child fails or the checkout has no
``refimage_spark`` package.
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
CHILD_TIMEOUT_S = 160.0
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def _reap_all(grace_s: float = 10.0) -> None:
    """Terminate and wait for every remaining descendant (re-parented
    to this process by the subreaper flag)."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "refimage_spark")):
        print("perfbench: no refimage_spark package in the checkout", file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become a subreaper", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # every JVM keeps its temp files in the work dir and writes no
        # hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=(
            os.environ.get("JAVA_TOOL_OPTIONS", "")
            + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ).strip(),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    code = 1
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: workload timed out", file=sys.stderr)
            child.kill()
            child.wait()
            code = 1
    finally:
        _reap_all()
        result = None
        if code == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: workload failed (exit {code})", file=sys.stderr)
        return code or 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
