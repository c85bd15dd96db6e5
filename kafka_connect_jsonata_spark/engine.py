"""SparkSession factory and engine configuration.

The reference configures one transform per Connect task with typed settings
(``expr``, ``timeout.ms`` default 5000, ``max.depth`` default 1000 —
reference JsonataTransformationConfig.java:31-54). Our equivalent is an
EngineConfig carried on the driver; the eval guards apply inside the
interpreter UDF tier (the compiled-Column tier has no recursion to guard).

Scale notes (local[32] test harness, 1000-executor target):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- shuffle.partitions sized by env (32 locally; a real cluster would use
  ~2-3x total cores — this is config, not code).
- Session timezone pinned to UTC so timestamps compare exactly against the
  DuckDB oracle.
- Arrow enabled: every pandas UDF / toPandas crossing is Arrow-batched.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineConfig:
    """Engine-level settings, mirroring the reference's config surface
    (reference JsonataTransformationConfig.java:23-29,40-53)."""

    timeout_ms: int = 5000       # per-record eval wall-clock bound (tier 2)
    max_depth: int = 1000        # lambda recursion bound (tier 2)
    cache_size: int = 100        # compiled-expression LRU size (driver-side)


DEFAULT_CONFIG = EngineConfig()

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half of physical memory, at most 48g: in local mode the driver heap
    holds every executor too, and a larger heap than the host has gets the
    JVM killed by the kernel instead of collected."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 48 * 1024)}m"


def get_spark(app_name: str = "spark-jsonata", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[N] in this container; on a cluster the same settings apply except
    master/memory come from the submitter.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        # Python workers fork from the engine's daemon (worker_daemon.py),
        # which stops every task re-reading pyspark.zip's directory; the
        # package root on the workers' path lets them import it from any cwd
        .config("spark.python.daemon.module", "kafka_connect_jsonata_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.ui.enabled", "false")
        # progress bars interleave \r-spew with stdout; a driver tail
        # capture of bench.py then truncates its JSON line mid-string
        # (BENCH_r05.json arrived unparseable that way)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The default codegen class cache holds 100 entries; a session that
        # runs the full headline query set compiles several hundred
        # WholeStageCodegen classes, so by the time a benchmark pass repeats
        # a query its generated classes have been evicted and Janino + C2
        # recompile from scratch — on a contended host that recompile is
        # seconds per heavy stage, every pass (round-3 bench:
        # minhash_lsh_dups 25 s driver vs 3.5 s isolated). Size the cache to
        # the workload instead; entries are compiled classes, a few KB each.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark 4.1+ reads
        # it natively as TIMESTAMP_NTZ and ignores this conf — kept so the
        # same code runs on Spark <=4.0 (there the column arrives as a ns
        # long and load_table converts it).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
