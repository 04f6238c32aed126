"""Benchmark entry point.

    python3 perfbench/run.py --workload {rewrite,cdc,curate} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Starts the run (``perfbench/main.py``)
in its own session with Spark scratch, temp files and tables under
``.bench_work/`` in the checkout, waits for every process of that
session to end, removes the scratch and prints the result object as
the last line of standard output. Exits non-zero without a result when
the run fails or the engine package is missing.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 170
REAP_TIMEOUT_S = 20


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    total_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(4096, max(1024, total_mib // 4))}m"


def session_pids(sid: int) -> list[int]:
    """Processes still alive in session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def reap(sid: int) -> None:
    """Stop every process left in the run's session and wait for them."""
    deadline = time.monotonic() + REAP_TIMEOUT_S
    sig = signal.SIGTERM
    while pids := session_pids(sid):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "olake_spark", "__init__.py")):
        print("perfbench: the olake_spark package is not in this checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        # a SPARK_LOCAL_DIRS inherited from the caller would win over
        # spark.local.dir and put shuffle files outside the checkout
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        OLAKE_SPARK_LOCAL_DIR=os.path.join(work, "spark-local"),
        OLAKE_SPARK_DRIVER_MEM=driver_memory(),
        # the JVM spark-submit starts to build the driver command
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    env.pop("OLAKE_SPARK_UI", None)
    cmd = [sys.executable, "-m", "perfbench.main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result]
    # a SIGTERM to the launcher still stops the run's processes below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        reap(child.pid)
        child.wait()
    try:
        with open(result) as f:
            line = f.read().strip() if code == 0 else ""
    except FileNotFoundError:
        line = ""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    if not line:
        return code or 1
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
