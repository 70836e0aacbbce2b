"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_daily --seed 1 --seconds 10 --trace 0

Pins the environment (cores, driver memory, import path, temporary
directories), runs the workload in a fresh child process whose working
directory is a throwaway run directory inside the checkout, relays the
child's output (its last stdout line is the result JSON), then stops
every process the child left behind and removes the run directory.
Workload logic lives in harness.py; this file imports nothing from the
engine so it fails fast, without a result, when the engine is absent.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pse_stocks_etl_spark"
# Every run must end within 180 s; leave room for cleanup.
CHILD_TIMEOUT_S = 170
DRIVER_MEMORY_CAP_MB = 4096


def driver_memory_mb() -> int:
    """A quarter of physical RAM, capped: the engine's 48g default
    exceeds small machines, and other processes share the RAM."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(DRIVER_MEMORY_CAP_MB, int(line.split()[1]) // 1024 // 4)
    return DRIVER_MEMORY_CAP_MB


def pinned_env(rundir: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_MASTER=f"local[{cpus}]",
        SPARK_DRIVER_MEMORY=f"{driver_memory_mb()}m",
        SPARK_LOCAL_DIRS=local,
        # Executor Python workers import the engine (mapInPandas
        # closures) and the harness (the counting connector) by module
        # path; the JVM passes this environment on to them.
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=" ".join(
            p
            for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}")
            if p
        ),
    )
    return env


def group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            if os.getpgid(int(pid)) == pgid:
                return True
        except ProcessLookupError:
            continue
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate the child's whole process group (the JVM and its
    Python workers included) and wait until none of it remains."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()  # reap the child, or its zombie keeps the group alive
            if not group_alive(proc.pid):
                return
            time.sleep(0.1)


def main() -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    # Killing this process must still stop the child's processes and
    # remove the run directory: turn SIGTERM into an exit through the
    # finally blocks below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.harness", *sys.argv[1:]],
            cwd=rundir,
            env=pinned_env(rundir),
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
            rc = 124
        finally:
            stop_group(proc)
            proc.wait()
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass  # another run's directory is still there
    return rc


if __name__ == "__main__":
    sys.exit(main())
