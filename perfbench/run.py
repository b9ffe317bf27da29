"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run is a fresh worker process with a
hermetic environment: the caller's engine overrides are unset, the engine
runs on ``local[nproc]``, and the ledger, Spark's local dirs and every
scratch file live in a temp dir under ``.perfbench_tmp/`` that is removed
afterwards. The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it carries provenance and sample counts. The exit code is
non-zero when any output differs from its oracle or replay.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("nightly", "research", "curation")
# Caller settings that would change the program being measured.
UNSET = (
    "SPARK_GRAFT_EXTRA_CONFS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    "BENCH_SKIP_YARDSTICKS",
    "PYSPARK_SUBMIT_ARGS",
)
WORKER_TIMEOUT_S = 170


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's group (the worker and its JVM) and
    wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()  # reap the worker: an unreaped leader keeps the group alive
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="traced run: write the spans as JSON to this file")
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "profitscout_engine_spark")):
        print("perfbench: run from the repository root (profitscout_engine_spark/ not found)", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(DATA_DIR, "lineitem.parquet")):
        print(f"perfbench: fixture tables missing under {DATA_DIR}", file=sys.stderr)
        return 2

    # Terminated from outside, still stop the worker group and remove the
    # temp dir: SystemExit unwinds through the `finally` blocks below.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    env = {k: v for k, v in os.environ.items() if k not in UNSET}
    os.makedirs(os.path.join(root, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".perfbench_tmp"))
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=root,  # Python workers import the program from any cwd
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
    )
    out = os.path.join(tmp, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA_DIR, "--tmp", tmp, "--out", out,
    ]
    if args.spans:
        cmd += ["--spans", os.path.abspath(args.spans)]
    try:
        # Worker output goes to stderr so that stdout ends with the result.
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
            rc = None
        finally:
            _stop_group(proc)
            proc.wait()
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(res["details"], sort_keys=True))
    print(json.dumps(res["result"]))
    return 0 if res["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
