"""SparkSession factory tuned for the test/bench environment.

local[N] single-JVM testing, but every config here is also the right
default on a real cluster (AQE, skew-join handling, UTC timestamps,
Arrow for the Pandas-UDF paths).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Physical memory less 10 GB of headroom, at least a quarter of it
    and 1g, at most 64g.

    Local mode: the driver IS the cluster, so its heap is sized to the
    host, not to a driver's usual coordination-only footprint (a 16g
    heap GC-thrashes a 32-thread suite run into ~3x slowdowns). The
    headroom holds the JVM's off-heap memory, the Python driver and its
    workers: a fixed 64g default let the JVM grow past a 15 GB host's
    memory, which now gets ~5.7g. A 32 GB host gets 22g, a 64 GB host
    54g, and from 74 GB up the heap keeps the 64g it always had."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{min(64 << 10, max(1024, mem_mb // 4, mem_mb - (10 << 10)))}m"


def get_spark(app_name: str = "reactivedb_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism; shuffle partitions
    are sized to cores for local mode (on a cluster you'd size them to
    data volume / target ~128MB per partition instead).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size shuffles by DATA, not by core count: start every shuffle
        # at 8x cores partitions and let AQE coalesce back down
        # (parallelismFirst keeps small shuffles at core-count
        # parallelism, so sf<=0.1 plans are unchanged in effect). At
        # cores-sized partitions a 100x-the-cores dataset sort-spills:
        # the sf10 solo A/B measured fuzzy_join_guarded at 101.7/256.6 s
        # with 32 initial partitions (spill-bound, GC-thrashed canary)
        # vs 28.6/33.0 s with 256 (calm), bigram_logprob 39.2 vs 34.7 s,
        # pure-map and small-shuffle ops unchanged (RESULTS-r13 A/B).
        # On a real cluster you'd size initialPartitionNum to
        # total-shuffle-bytes / 128MB the same way.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                os.environ.get("SPARK_INITIAL_SHUFFLE_PARTITIONS",
                               str(max(cpus, 8) * 8)))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Declared contract (SURVEY.md Appendix A #6): non-ANSI arithmetic —
        # div-by-zero yields NULL, integer overflow wraps like the
        # reference's Rust isize ops.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # catalog tables (bucketed-join demo) should never clutter the
        # caller's cwd with a spark-warehouse dir
        .config("spark.sql.warehouse.dir",
                os.path.join(tempfile.gettempdir(), "rdb_spark_warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
    )
    # A/B hook: extra session confs from the environment
    # ("k=v;k=v"), applied last so experiments can override any default
    # without editing this file mid-measurement.
    for kv in filter(None, os.environ.get("RDB_EXTRA_SPARK_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        if k.strip() and v.strip():
            builder = builder.config(k.strip(), v.strip())
    if not os.environ.get("RDB_NO_PYDAEMON"):
        # Pre-import numpy/pandas/pyarrow in the worker daemon so forked
        # Arrow-UDF workers inherit them copy-on-write instead of paying
        # ~0.3 s import each — a 64-worker fork storm otherwise serializes
        # into multi-second stalls under load (PLANS.md round-7). The
        # daemon module must be importable by the worker python: ship the
        # package dir via PYTHONPATH (driver env is inherited in local
        # mode; on a cluster use spark.executorEnv.PYTHONPATH / --py-files).
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pypath = os.environ.get("PYTHONPATH", "")
        if pkg_root not in pypath.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + ((os.pathsep + pypath) if pypath else "")
            )
        builder = builder.config(
            "spark.python.daemon.module", "rdb_pydaemon"
        ).config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
