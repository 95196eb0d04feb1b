"""Benchmark entry point.

    python3 perfbench/run.py --workload autoapi_read --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--workload all`` runs the three workloads
in turn. The run pins its own launch environment (PYTHONPATH, CPU count,
driver memory, a per-run SPARK_LOCAL_DIRS and temp dir inside
``.perfbench/``), runs ``perfbench.worker`` in its own process group, waits
for every process in that group to end and removes the per-run directory.
The last line of stdout is the result object of the (last) workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")
NAMES = ("autoapi_read", "etl_upsert", "analytics_batch")


def launch_env(run_dir: str, launch: dict) -> dict:
    cpus = len(os.sched_getaffinity(0))      # the CPUs `nproc` counts
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        # pandas-UDF workers import the engine by module name
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": launch["driver_mem"],
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # a fixed-size driver heap keeps peak RSS from following GC timing
        "PYSPARK_SUBMIT_ARGS": (f"--conf spark.driver.extraJavaOptions="
                                f"-Xms{launch['driver_mem']} pyspark-shell"),
        "PERFBENCH_RUN_DIR": run_dir,
    })
    return env


def stop_group(pgid: int, timeout_s: float = 20.0) -> None:
    """Kill what is left of the run's process group and wait until it is
    gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_one(workload: str, seed: int, seconds: int, trace: int) -> int:
    with open(SPEC) as fh:
        launch = json.load(fh)["launch"]
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = launch_env(run_dir, launch)
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=launch["child_timeout_s"])
    except subprocess.TimeoutExpired:
        stop_group(proc.pid)
        proc.communicate()
        print(f"{workload}: timed out", file=sys.stderr)
        return 3
    finally:
        stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"{workload}: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "servihabitat_etl_spyke_spark")):
        print("run from the repository root: servihabitat_etl_spyke_spark/ "
              "is missing", file=sys.stderr)
        return 2
    rc = 0
    for w in NAMES if args.workload == "all" else (args.workload,):
        rc = rc or run_one(w, args.seed, args.seconds, args.trace)
    return rc


if __name__ == "__main__":
    sys.exit(main())
