"""Run the benchmark once: ``python3 perfbench/run.py --workload NAME
--seed N --seconds S --trace 0|1`` from the root of a checkout.

Starts ``worker.py`` in a fresh process (its own process group, so the JVM
it launches can be stopped with it), with per-run directories for inputs,
indexes, job artifacts, ``SPARK_LOCAL_DIRS`` and temp files under
``.perfbench_runs/`` in the checkout. Prints one JSON line as the last line
of stdout: ``{"correct", "attempted", "failed", "metrics"}``. Exits 0 only
when every correctness check passed. Traced runs keep their spans in
``.perfbench_runs/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

HEAP = "4g"
TIMEOUT_S = 170


def _stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait until it
    is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sentiment_analysis_vector_search_spark")):
        print("perfbench: the engine package is missing from this checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(base, "traces")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    env = dict(
        os.environ,
        PERFBENCH_T0=repr(t0),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
                "--conf", "spark.ui.showConsoleProgress=false",
                "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "pyspark-shell",
            ]
        ),
    )
    env.pop("SPARK_GRAFT_RELIABLE_CK_DIR", None)
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(traces, f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir, "--result", result_path, "--spans", spans_path,
    ]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
            rc = -1
        finally:
            _stop_group(proc.pid)
            proc.wait()
        if not os.path.exists(result_path):
            return rc or 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if rc == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
