"""SparkSession factory.

Scale design: AQE on (runtime re-plan, skew-join splitting, partition
coalescing); shuffle partitions default to the local core count but are meant
to be sized to input volume on a real cluster (rule of thumb: keep shuffle
partitions in the 100-200 MB range). Session timezone is pinned to UTC so
results are comparable with the DuckDB oracle and stable across hosts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# default driver heap: this share of the host's physical memory
HEAP_SHARE = 0.4


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else ``HEAP_SHARE`` of the host's memory."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, int(HEAP_SHARE * total / 2**30))
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{heap_gb}g"


def get_spark(
    app_name: str = "s4hanaconnector_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``) and
    :func:`driver_memory` sizes the heap.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # SPARK_GRAFT_CPUS may legally be '*' or 'N,maxRetries' (valid
        # local-master syntax) — only a plain integer sizes the shuffle
        shuffle_partitions = (
            int(cpus) if cpus and cpus.isdigit() else (os.cpu_count() or 8)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # shuffles size themselves from DATA, not the static default: AQE
        # coalesces DOWNWARD from this ceiling to its advisory byte target,
        # so a 60M-row collect_list gets hundreds of reducers while a small
        # agg still collapses to a few (the x100 nest rung spilled when a
        # static low partition count forced multi-GB reducers — the
        # scaling-ladder measurement behind this ceiling)
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the events fixture stores TIMESTAMP(NANOS); Spark has no nano
        # timestamps, so read them as long and convert at load
        # (catalog.load_table) — values are µs-aligned in the fixtures
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
