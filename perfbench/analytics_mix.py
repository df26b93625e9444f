"""``analytics_mix``: registered suite queries, no engine commits.

A fixed list of queries from the registered suite (dedup, multimodal,
time series and three OLAP shapes) runs over generated tables, each forced
through the noop sink inside ``cache_scope`` like ``bench.py`` does. The
list is timed in whole passes, as many as fit the run's time at a nominal
pass length. A pass is the workload's request (one refresh of the report
the queries make up); a query's time is its median over the passes.
Set-up includes one untimed warm-up pass.

The workload never touches the engine or the store, so engine and store
changes should leave it unchanged; operator rewrites and the parallelism
policy show here. After the timed passes every query's result is compared
with its ``oracle_sql()`` entry run by DuckDB over the same files.
"""

from __future__ import annotations

import math
import statistics
import time

import datagen
from checks import compare_frames

# dedup_lsh_candidates_guarded, not its unguarded research twin: the twin is
# quadratic by design on the fixtures' small vocabulary and was still
# warming up after four passes, which made it most of a pass's spread.
QUERIES = ("dedup_lsh_candidates_guarded", "multimodal_dhash", "ohlc_hourly",
           "revenue_by_nation", "tpch_q1_like", "cube_orders")
PASS_S = 4  # nominal seconds per pass at 4 cores, for the pass count


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def oracle_problems(spark, queries, oracles, names, data_dir: str) -> list[str]:
    """Every named query against its DuckDB oracle over ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        problems = []
        for name in names:
            got = queries[name](spark, data_dir).toPandas()
            problems += compare_frames(name, got, con.execute(oracles[name]).fetchdf())
        return problems
    finally:
        con.close()


def run(spark, ctx) -> dict:
    import __spark_entry__ as entry

    from reactivedb_spark.cache import cache_scope

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = ctx.size.get("analytics_queries", QUERIES)

    def timed(name: str, data_dir: str) -> tuple[float, int]:
        j0 = ctx.jobs.next_job_id()
        t0 = time.perf_counter()
        with cache_scope():
            _force(queries[name](spark, data_dir))
        sec = time.perf_counter() - t0
        jobs = ctx.jobs.next_job_id() - j0
        spark.catalog.clearCache()
        return sec, jobs

    t_setup = time.perf_counter()
    data_dir = datagen.write(ctx.path("data"), ctx.size["analytics_sf"], ctx.seed)
    for name in names:
        timed(name, data_dir)
    setup_s = time.perf_counter() - t_setup

    secs = {n: [] for n in names}
    jobs = {}
    passes = []
    failed = attempted = 0
    job0 = ctx.jobs.next_job_id()
    t0 = time.perf_counter()
    for _ in range(ctx.rounds(PASS_S)):
        p0 = time.perf_counter()
        for name in names:
            attempted += 1
            try:
                sec, nj = timed(name, data_dir)
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                failed += 1
                print(f"perfbench: {name} failed: {type(e).__name__}: {e}", flush=True)
                continue
            secs[name].append(sec)
            jobs.setdefault(name, nj)
        passes.append(time.perf_counter() - p0)
    wall = time.perf_counter() - t0
    job1 = ctx.jobs.next_job_id()
    memory_mb = ctx.retained_mb()

    problems = oracle_problems(spark, queries, oracles, names, data_dir)
    medians = {n: statistics.median(v) for n, v in secs.items() if v}
    layers = {}
    for n in QUERIES:
        layers[f"suite.{n}.s"] = medians.get(n, 0.0)
        layers[f"suite.{n}.jobs"] = jobs.get(n, 0)
    return {
        "setup_s": setup_s,
        "primary_ms": [1000 * p for p in passes],
        "requests": len(passes),
        "wall_s": wall,
        "memory_mb": memory_mb,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "jobs_window": (job0, job1),
        "layers": layers,
        "detail": {
            "suite_wall_s": statistics.median(passes),
            "query_s_geomean": math.exp(statistics.fmean(
                math.log(s) for s in medians.values())) if medians else 0.0,
            "passes": len(passes),
        },
    }
