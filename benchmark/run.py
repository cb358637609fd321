"""Benchmark entry point: one run of one workload in a clean state.

    python3 benchmark/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run:

* makes a private directory under ``.bench_tmp/`` in the checkout for the
  inputs, the index, ``spark.local.dir``, the JVM's temporary files and
  the event log, and deletes it at exit, also on failure; nothing is kept
  between runs;
* sets ``SPARK_GRAFT_CPUS`` to the CPUs this process may use and sizes
  ``SPARK_DRIVER_MEM`` to a fifth of the host's memory (1-8 GiB), instead
  of the session defaults (32 CPUs, 24 GiB);
* starts the workload (workload.py) in a fresh process group, as a child
  subreaper of its descendants, waits for it (170 s at most), and fails if
  any process below it - the JVM, PySpark's worker daemon or a Python
  worker - is still alive 10 s afterwards (and kills and reaps it);
* prints host context from /proc (steal share of busy CPU time and load
  average over the run) and the workload's extra figures, then, as the
  last line, the result JSON: ``correct``, ``attempted``, ``failed`` and
  ``metrics``. A run that fails prints no result and exits non-zero.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _driver_mem() -> str:
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(8, kib // (5 * 1024 * 1024)))}g"


def _descendants(zombies: bool = False) -> list[int]:
    """Live processes below this one, and with ``zombies`` the ended ones not
    yet reaped. This process is a child subreaper, so an orphan of the
    workload (PySpark's worker daemon runs in a process group of its own)
    is reparented here and stays on the list."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if zombies or fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_all(grace_s: float) -> list[int]:
    """Give the workload's processes ``grace_s`` to exit on their own, then
    kill what is left, and reap every one of them: a process that ends
    after its parent is reparented here and must not outlive this one as a
    zombie. Returns the pids that were still alive after the grace
    period."""
    deadline = time.time() + grace_s
    while True:
        _reap()
        alive = _descendants()
        if not alive or time.time() >= deadline:
            break
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline:
            _reap()
            if not _descendants(zombies=True):
                break
            time.sleep(0.1)
    return alive


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the clean-up below like any other failure
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"prctl(PR_SET_CHILD_SUBREAPER) failed: {os.strerror(ctypes.get_errno())}", file=sys.stderr)
        return 1

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "colbert_jl_spark")):
        print("run from the root of a checkout: colbert_jl_spark/ not found", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, ".bench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".bench_tmp"))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=_driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=tmp,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--tmp", tmp,
    ]
    cpu0, load0, t0 = _cpu_times(), _loadavg(), time.time()
    child = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr, start_new_session=True)
    rc = None  # stays None if the wait times out or a SIGTERM interrupts it
    try:
        rc = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        leftover = _stop_all(10.0 if rc is not None else 0.0)
        try:
            with open(os.path.join(tmp, "result.json")) as f:
                payload = json.load(f)
        except (OSError, ValueError):
            payload = None
        shutil.rmtree(tmp, ignore_errors=True)
    cpu1, load1 = _cpu_times(), _loadavg()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    # user nice system idle iowait irq softirq steal
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    steal = d[7] if len(d) > 7 else 0
    host = {
        "cpus": env["SPARK_GRAFT_CPUS"],
        "driver_mem": env["SPARK_DRIVER_MEM"],
        "wall_s": round(time.time() - t0, 1),
        "steal_share": round(steal / (busy + steal), 4) if busy + steal else 0.0,
        "loadavg_start": load0,
        "loadavg_end": load1,
    }
    print(json.dumps({"host": host}), file=sys.stderr)
    if rc is None:
        print(f"workload did not finish in {TIMEOUT_S} s", file=sys.stderr)
        return 1
    if rc != 0 or payload is None:
        print(f"workload failed (exit {rc})", file=sys.stderr)
        return 1
    if leftover:
        print(f"processes still alive after the workload exited: {leftover}", file=sys.stderr)
        return 1
    print(json.dumps({**payload["extra"], "host": host}))
    print(json.dumps(payload["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
