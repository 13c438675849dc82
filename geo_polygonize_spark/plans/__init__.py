"""Spark session construction + plan-inspection helpers."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """min(48g, 40% of physical memory): the driver JVM of a local
    session holds every executor too, and a heap larger than the host
    gets it OOM-killed. 48g where the size cannot be read."""
    try:
        total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{min(48 * 1024, int(total_mb * 0.4))}m"


def build_session(
    app_name: str = "geo_polygonize_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Tuned local session. ``cores`` defaults to $SPARK_GRAFT_CPUS or
    all. Shuffle partitions sized to cores (not the 200 default) so
    small-SF local runs don't drown in empty tasks; AQE coalesces the
    rest at cluster scale. The driver heap is $SPARK_DRIVER_MEM, else
    ``default_driver_memory()``."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
