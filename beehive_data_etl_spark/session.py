"""SparkSession construction tuned for this engine.

Local mode is a single JVM with N executor threads; on a real cluster
the same configs apply per executor. Shuffle-partition count is sized
to parallelism (not the 200 default) and AQE is on so skewed merge
shuffles re-plan at runtime (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_mem() -> str:
    """``SPARK_DRIVER_MEM`` when set; else min(16g, a quarter of
    physical RAM), floored at 2g. The heap is pinned and pre-touched,
    so a fixed 16g default aborts the JVM on hosts under ~20 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{max(2048, min(16384, ram_mb // 4))}m"


def get_spark(
    app_name: str = "beehive-cdc-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` maps to ``local[cores]``; shuffle partitions default to
    2×cores so AQE's coalescing has room to shrink small stages while
    big stages still use every slot.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    mem = _driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", mem)
        # pin the heap (-Xms == -Xmx): G1 on Java 17 uncommits idle heap
        # and the kernel page-zeroing on re-touch shows up as multi-second
        # system-time stalls inside otherwise-identical jobs
        .config("spark.driver.extraJavaOptions", f"-Xms{mem} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # token-array rows are ~1 KB; 32 MB input splits keep wide-array
        # scans parallel (the parquet row group is the split floor)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Python Data Source filter pushdown (sources/spark_datasource.py
        # prunes buckets from pushed key filters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
