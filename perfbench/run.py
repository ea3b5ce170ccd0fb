"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_comparator --seed 1 --seconds 4 --trace 0

Run from the repository root. Each run is a fresh worker process
(``worker.py``) on ``local[nproc / 2]``, with ``PYTHONPATH`` at the root, cwd at
the root, and a private ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and checkpoint root
under ``.perfbench_runs/`` that are removed when the run ends. The worker's
last stdout line, the result JSON, is passed through; detail and trace files
go to ``.perfbench_out/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lets_talk_cdc_change_feed_playground_spark"
TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have the worker's orphans (the Spark JVM, its Python workers)
    re-parented to this process, which reaps them at once; the init of a
    container can take seconds to reap them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # orphans then go to init, and wait_group_gone waits longer


def wait_group_gone(pgid: int, limit_s: float = 15.0) -> None:
    deadline = time.time() + limit_s
    while time.time() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)


def main() -> int:
    t_proc = time.time()
    # a TERM from the caller still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args()

    for needed in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tools", "oracle_check.py"),
                   os.path.join("tools", "gen_scale_data.py")):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2

    # Spark gets half the CPUs this process may use. Each task thread also
    # drives a Python worker, and the JIT and GC run threads of their own;
    # with a task slot per CPU, two busy loops beside a run on 4 vCPUs
    # stretched the stream passes by 78% (local[2]: 30%), while on an idle
    # host local[2] ran every workload as fast as local[4].
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), out_dir):
        os.makedirs(d, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_DRIVER_MEMORY="3g",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
        PERFBENCH_RUN_DIR=run_dir,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--t-proc", repr(t_proc), "--out", out_dir,
    ] + (["--smoke"] if args.smoke else [])
    become_subreaper()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        # the worker's session also holds the Spark JVM and Python workers
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_group_gone(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
