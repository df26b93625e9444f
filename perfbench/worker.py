"""One benchmark run in its own process: start the Spark session, run one
workload, check it, and write the result to ``--out``.

``run.py`` launches this with the session sized to the host; run that,
not this file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import analytics_mix  # noqa: E402
import oltp_wire  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = {"oltp_wire": oltp_wire, "analytics_mix": analytics_mix}

# Per-size knobs. ``full`` is what BENCHMARK.json measures; ``tiny`` is for
# the smoke test.
SIZES = {
    "full": {"oltp_sf": 0.01, "oltp_warmup": True, "analytics_sf": 0.01},
    "tiny": {"oltp_sf": 0.001, "oltp_warmup": False, "analytics_sf": 0.001,
             "analytics_queries": ("tpch_q1_like", "cube_orders")},
}

# End-to-end metrics: every workload reports each of them, measured with
# tracing off. "Request" is the workload's unit of work: a wire InsertData
# round trip on oltp_wire, one pass over the query list on analytics_mix.
# A run holds too few requests for a tail percentile (one needs ten
# samples beyond it), so the tail goes to the detail line only.
END_TO_END = {
    "setup_s": "s",
    "latency_ms_p50": "ms",
    "throughput_per_s": "1/s",
    "memory_mb": "MB",
}
CANARY_ROWS = 50_000_000


class Ctx:
    """What a workload's ``run(spark, ctx)`` gets: the run's arguments,
    size knobs, work dir, tracer (None when untraced) and job counter."""

    def __init__(self, args, spark, tracer):
        self.seed, self.seconds = args.seed, args.seconds
        self.size = SIZES[args.size]
        self.work = args.work
        self.tracer = tracer
        self.spark = spark
        self.jobs = tracing.JobCounter(spark)
        self.memory_parts: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def rounds(self, nominal_s: float) -> int:
        """Whole rounds (blocks of ops, passes of queries) the timed region
        runs: ``--seconds`` over the round's nominal length on a 4-core
        host. The count depends on the arguments only, never on measured
        speed, so a faster or slower program does the same timed work
        (and is no warmer when it is measured)."""
        return max(1, round(self.seconds / nominal_s))

    def retained_mb(self) -> float:
        """Memory the run holds after a full GC: JVM heap in use, JVM
        non-heap (metaspace, code cache) and this process's resident set."""
        jvm = self.spark._jvm
        # the second GC frees what Spark's cleaner released after the first
        # (unpersisted checkpoints, shuffle bookkeeping)
        jvm.System.gc()
        time.sleep(1)
        jvm.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.memory_parts = {
            "jvm_heap_mb": mx.getHeapMemoryUsage().getUsed() / (1 << 20),
            "jvm_nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / (1 << 20),
            "python_rss_mb": _proc_status_kb(os.getpid(), "VmRSS:") / 1024,
        }
        return sum(self.memory_parts.values())


def quantile(values, q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1])


def _proc_status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the Spark JVM."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    return sum(_proc_status_kb(pid, "VmHWM:") for pid in pids) / 1024


def all_per_layer_names() -> list[str]:
    """Names of every per-layer metric, in report order."""
    names = list(tracing.Tracer(None).layer_metrics(oltp_wire.DERIVED))
    names += ["listen.staged_snapshots"]
    names += [f"suite.{q}.{m}" for q in analytics_mix.QUERIES for m in ("s", "jobs")]
    names += ["spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_per_stage_p50",
              "trace.latency_ms_p50", "host.canary_s", "host.load1"]
    return names


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    from reactivedb_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    session_s = time.perf_counter() - t0

    tracer = tracing.Tracer(spark).install() if args.trace else None
    ctx = Ctx(args, spark, tracer)
    raw = WORKLOADS[args.workload].run(spark, ctx)

    lat = raw["primary_ms"]
    result = {"correct": not raw["problems"], "attempted": raw["attempted"],
              "failed": raw["failed"]}
    if args.trace:
        layers = dict.fromkeys(all_per_layer_names(), 0)
        layers.update(raw["layers"])
        j0, j1 = raw["jobs_window"]
        stages, tasks, per_stage = ctx.jobs.stage_task_counts(j0, j1)
        layers.update({"spark.jobs": j1 - j0, "spark.stages": stages, "spark.tasks": tasks,
                       "spark.tasks_per_stage_p50": tracing.p50(per_stage),
                       # against latency_ms_p50 of an untraced run: the
                       # tracing overhead on the request path
                       "trace.latency_ms_p50": quantile(lat, 0.5)})
        c0 = time.perf_counter()
        spark.range(CANARY_ROWS).selectExpr("sum(id % 7) AS s").collect()
        layers["host.canary_s"] = time.perf_counter() - c0
        layers["host.load1"] = os.getloadavg()[0]
        units = {n: _layer_unit(n) for n in layers}
        result["metrics"] = {n: {"value": float(v), "unit": units[n]} for n, v in layers.items()}
    else:
        values = {
            "setup_s": session_s + raw["setup_s"],
            "latency_ms_p50": quantile(lat, 0.5),
            "throughput_per_s": raw["requests"] / raw["wall_s"],
            "memory_mb": raw["memory_mb"],
        }
        result["metrics"] = {n: {"value": float(values[n]), "unit": u}
                             for n, u in END_TO_END.items()}
    detail = {"session_s": session_s,
              "error_rate": raw["failed"] / max(raw["attempted"], 1),
              "requests": len(lat),
              "latency_ms_p90": quantile(lat, 0.9),
              "peak_rss_mb": peak_rss_mb(spark),
              **ctx.memory_parts,
              "problems": raw["problems"][:20]}
    for k, v in raw["detail"].items():
        if isinstance(v, list):
            detail[f"{k}_p50"] = quantile(v, 0.5)
            detail[f"{k}_p90"] = quantile(v, 0.9)
        else:
            detail[k] = v
    result["detail"] = detail
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("per_input_byte") or name == "host.load1":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
