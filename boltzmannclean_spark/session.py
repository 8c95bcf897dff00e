"""SparkSession builder tuned for this engine.

Local mode here is a correctness/bench harness; configs are chosen so the
same plans scale to a real cluster: AQE handles runtime re-planning
(partition coalescing, skew-join splitting, broadcast demotion), shuffle
partitions sized to cores locally (on a cluster this would be ~2-3x total
cores), Arrow enabled for the Pandas-UDF paths, UTC session timezone so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The directory that holds this package, put on the Python workers'
#: path so they import the engine wherever the driver runs from.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` if set, else half of physical memory capped
    at 48g: in local mode the driver JVM is the whole engine, and a heap
    larger than the host grows instead of collecting until the host runs
    out of memory."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    half = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2
    return f"{min(half >> 20, 48 << 10)}m"


def get_spark(app_name: str = "boltzmannclean_spark") -> SparkSession:
    cpus = cpu_count()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join handling, dynamic
        # broadcast — the main lever that makes one declarative plan work
        # from sf0.001 local up to a 1000-executor cluster.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r16 (guide §3.1, r15 verdict #6 — the deferred §9 knob,
        # adopted in its AQE-governed form after an isolated ×10 A/B):
        # let AQE rewrite a planned sort-merge join to shuffled-hash at
        # RUNTIME when every post-shuffle partition's MEASURED size
        # fits this per-task hash-map bound. Unlike the blunt
        # preferSortMergeJoin=false (estimate-driven, the classic SHJ
        # OOM at scale when an estimate is wrong), the conversion here
        # is gated on real sizes, so the scale posture is unchanged —
        # oversized or skewed partitions keep the spilling sort-merge
        # path. Measured at the 6M-row ×10 replica, best-of-2 per
        # query, bracketed by two baseline runs: shuffle-heavy set
        # total 18.8–19.0 → 15.7 s (dedup_minhash_lsh 3.65 → 2.43,
        # tpch_q21 5.18 → 4.05); the blunt knob measured 16.3 on the
        # same set and zstd shuffle compression was a wash (page-cache
        # -bound locally — left at lz4). 64 MB per task is a
        # cluster-reasonable bound, overridable for other deployments.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
        # ~cores locally; a cluster deployment overrides via spark-submit.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long (ns since epoch) and let the catalog derive
        # a microsecond timestamp (sources/catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers: import the engine from this checkout, not from
        # the driver's cwd, and run the engine's daemon, which takes
        # Spark's bundled archives off the workers' sys.path when the
        # interpreter has the same PySpark (worker_daemon.py) — each
        # cached zip importer re-reads its archive on every task.
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.python.daemon.module", "boltzmannclean_spark.worker_daemon")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # Managed-table support (bucketed-join tests): keep the warehouse
        # and the derby metastore out of the repo tree.
        .config("spark.sql.warehouse.dir", "/tmp/bcs_warehouse")
        .config(
            "spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/bcs_derby"
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
