"""SparkSession factory.

Pinned defaults for determinism and scale-readiness:
  - UTC session timezone (oracle comparisons; ref serializes ISO-8601 UTC,
    lib/Connections2JSONLD.js:84-85).
  - AQE on (runtime coalesce + skew-join handling — the engine's MemStore/
    LevelStore duality analog, ref lib/GtfsIndex.js:99-146, is broadcast vs
    shuffled join and AQE picks).
  - Arrow on (the extraction stage is an Arrow-batched pandas UDF).
  - shuffle partitions sized to local cores; on a real cluster set this to
    ~2-3x total executor cores via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """16g, or a quarter of physical memory if that is less. The JVM grows
    its heap lazily up to the cap, so a 16g default on a 16 GB host lets one
    long test session reach the kernel's OOM killer; a quarter leaves room
    for the Python workers and the rest of the host."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (non-POSIX)
        return "16g"
    return f"{max(1024, min(16 * 1024, phys // 4 // 2**20))}m"


def get_spark(
    app_name: str = "gtfsrt2lc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Env overrides:

    SPARK_GRAFT_CPUS   -> local[N] parallelism (default local[*])
    SPARK_GRAFT_DRIVER_MEM -> driver memory (default 16g, capped at a
                              quarter of physical memory)
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary/html columns are KB-sized: default 10k-row Arrow batches
        # balloon to 100s of MB per python worker and collapse throughput at
        # high thread counts (measured 4x at local[32]); cap the batch size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # dictionaries broadcast, page facts never do (SURVEY.md §4)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
