"""Front-door TSDB benchmark of cnosdb_spark: line-protocol ingest,
dashboard queries and mixed traffic through ``Engine``.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload iot_dashboard --seed 1 --seconds 10 --trace 0

Prints the result JSON as the last stdout line (see README.md). This file
fixes the run's environment, then runs ``worker.py`` in a child process:

* ``PYTHONHASHSEED=0``;
* ``SPARK_GRAFT_CPUS`` = the number of usable cores;
* ``SPARK_GRAFT_DRIVER_MEM`` sized to this host's RAM (the session default
  of 16g can exceed it);
* a fresh warehouse, ``SPARK_LOCAL_DIRS`` and temp dir under
  ``.perfbench/run-<pid>`` in the checkout, deleted after the run;
* ``TZ=UTC``.

The child runs in its own process group; every process left in the group
(the Spark JVM) is killed and waited for before this script exits.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 170


def driver_mem() -> str:
    """Half the host's RAM, between 1 and 4 GiB."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "2g"
    return f"{max(1, min(4, ram // 2 // 2**30))}g"


def _group_running(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is still running (an exited,
    not yet reaped process does not count)."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue  # exited while listing
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill what is left of the child's process group and wait until none
    of it runs."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while _group_running(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def main() -> int:
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="'smoke' is a seconds-long run for the benchmark's tests")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "cnosdb_spark", "engine.py")):
        print("perfbench: no cnosdb_spark package next to perfbench/", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    env = dict(os.environ)
    env.update({
        "PYTHONHASHSEED": "0",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": run_dir,
        "TZ": "UTC",
    })
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), ROOT, run_dir,
           args.workload, str(args.seed), str(args.seconds), str(args.trace), args.size]
    proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    # a terminated run still stops its worker and JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _stop_group(proc.pid)
        proc.communicate()
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        _stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(out, end="")
    return proc.returncode


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
