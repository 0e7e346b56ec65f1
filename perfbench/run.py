"""LogTools benchmark: one run of one workload.

    python3 perfbench/run.py --workload needle_search --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. The run happens in a fresh child
process (``measure.py``) started with ``SPARK_GRAFT_CPUS`` set to the
usable cores, ``SPARK_LOCAL_DIRS`` and all scratch files under
``perfbench/.work/`` and the checkout root on ``PYTHONPATH`` so Spark's
Python workers can import the program. The child prints the metrics; its
last stdout line is the JSON result. When it ends, every process it left
behind is stopped and reaped, and its scratch directory is removed.

Exits non-zero, printing no result, if the program is not in the
checkout or the run fails or overruns.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import procstat

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("needle_search", "window_cat")
TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _reap_all(grace_s: float = 15.0) -> None:
    """Stop and reap every process left below this one. As child
    subreaper, this process inherits orphaned descendants (the Spark JVM,
    its Python workers), so waiting on any child covers them all."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        kids = procstat.children_map().get(os.getpid(), [])
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
        while True:
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not (ROOT / "bb_bigdata_log_tools_spark" / "cli.py").is_file():
        print(f"program not found under {ROOT}", file=sys.stderr)
        return 2
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl: {os.strerror(ctypes.get_errno())}", file=sys.stderr)
        return 2

    workdir = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(workdir / "spark-local"),
        PYTHONPATH=os.pathsep.join(
            x for x in (str(ROOT), os.environ.get("PYTHONPATH", "")) if x
        ),
    )
    # the program's own driver memory, whatever the caller exported
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    cmd = [
        sys.executable, str(HERE / "measure.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--workdir", str(workdir), "--outdir", str(HERE / "out"),
    ]
    # a SIGTERM unwinds through the finally below, which stops the rest
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    rc = 3
    try:
        stat0, t0 = procstat.cpu_times(), time.time()
        child = subprocess.Popen(
            [*cmd, "--t0", repr(t0), "--stat0", ",".join(map(str, stat0))], env=env, cwd=ROOT
        )
        try:
            rc = child.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {TIMEOUT_S}s", file=sys.stderr)
    finally:
        _reap_all()
        shutil.rmtree(workdir, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
