"""Benchmark entry point. Run from the repository root::

    python3 perfbench/run.py --workload oltp_wire --seed 1 --seconds 20 --trace 0

Workloads are ``oltp_wire`` and ``analytics_mix`` (see ``oltp_wire.py`` and
``analytics_mix.py``). ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run. ``--size tiny`` is a
seconds-long smoke size.

The launcher sizes the Spark session to the host through the session
factory's environment hooks (cores, JVM heap, local dirs, no console
progress bars), keeps every file the run writes in a work dir under
``.perfbench_work/`` of the current directory, runs ``worker.py`` in its
own process group with a time limit, stops every process of that group,
and removes the work dir. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the resolved configuration and workload-specific figures.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("analytics_mix", "oltp_wire")
TIME_LIMIT_S = 170
MAX_CORES = 8


def host_config(work: str) -> dict[str, str]:
    """Session environment for this host: all available cores (at most
    MAX_CORES), a quarter of physical memory for the JVM heap (1-4 GiB),
    and every scratch directory inside the run's work dir."""
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    heap_mb = max(1024, min(4096, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    extra = ";".join([
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ])
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "RDB_EXTRA_SPARK_CONF": extra,
        # the short-lived JVM spark-submit starts to assemble the launch command
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group and wait (a
    bounded time) until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "reactivedb_spark", "engine.py")):
        print("perfbench: no reactivedb_spark/ package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, **host_config(work))
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--work", work, "--out", out]
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=sys.stderr,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = None
            print(f"perfbench: run exceeded {TIME_LIMIT_S}s", file=sys.stderr)
        _stop_group(proc.pid)
        proc.wait()
        if code != 0 or not os.path.isfile(out):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    config = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY",
                                  "SPARK_LOCAL_DIRS", "RDB_EXTRA_SPARK_CONF")}
    print("perfbench detail " + json.dumps(
        {"workload": args.workload, "seed": args.seed, "trace": args.trace,
         "config": config, **result.pop("detail")}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
