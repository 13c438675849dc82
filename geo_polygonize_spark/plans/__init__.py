"""Spark session construction + plan-inspection helpers."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's JVM-wide generated-code cache. Spark's default of
# 100 is smaller than one repeated workload: perfbench's `lattice` used
# 131 distinct classes (set-up 8, round 123; 104 once the checkpoint
# path stopped generating per-call code) and `images` 123, so the LRU
# missed on nearly every lookup and each round recompiled what the
# round before had compiled. A whole `bench.py` run at sf0.1 (13 leaves,
# one session) compiles 434 distinct classes. Census:
# scripts/codegen_census.py, 4-vCPU / 15.7 GB host.
CODEGEN_CACHE_ENTRIES = 1000

# The driver JVM's options, applied as spark.driver.defaultJavaOptions:
# Spark puts them before spark.driver.extraJavaOptions, so a caller's
# extra options add to these instead of replacing them, and a later
# -XX: flag of the caller's wins (the JVM keeps the last occurrence).
#
# The compile policy: C2 compiles only code that is hot. A local session
# is short, and much of its Catalyst, planner and scheduler code is only
# lukewarm; at the default thresholds HotSpot kept sending such code to
# C2 round after round, and the compiler threads were
# the largest CPU consumer of a perfbench round (lattice, first timed
# round: C2 6.5 s + C1 2.0 s of 20.5 s; executor tasks 2.9 s). The four
# Tier4 thresholds are 4x their defaults (5000, 600, 15000, 40000); C1
# still compiles at its default thresholds, so warm code leaves the
# interpreter as early as before. Against the default policy
# (perfbench/ab.py, 10 pairs, 4-vCPU host) the round CPU fell from 23.8
# to 18.5 s on lattice and from 15.8 to 12.8 s on images. The losers,
# measured with perfbench/ab.py (4 pairs a side) and bench.py's timed
# calls (3 processes a side, interleaved); medians:
# - -XX:CompileThresholdScaling=4 (every tier's thresholds x4): about
#   the same perfbench rounds as this policy (lattice 18.1 vs 18.9 s,
#   images 11.3 vs 11.3 s), but the first calls that bench.py times
#   ran slower: knn_cells_1m_x_40k 19.2-20.5 s vs 15.1-17.3 s at
#   the default policy, pip_join_cells_1m_x_40k 10.5-14.4 s vs
#   8.3-11.0 s. This policy: 17.7 s and 11.9 s in the same runs.
# - CompileThresholdScaling=2 lost to 4 on images rounds (12.8 vs
#   11.0 s); =8 matched 4 on rounds and was slower still on the first
#   calls (knn 19.8 s).
# - -XX:TieredStopAtLevel=1 (C1 only): lattice round-3 JVM CPU 3.44 ->
#   6.14 s, per-operation wall +20-30%.
DRIVER_JAVA_OPTIONS = (
    "-Dio.netty.tryReflectionSetAccessible=true",
    "-XX:Tier4InvocationThreshold=20000",
    "-XX:Tier4MinInvocationThreshold=2400",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=160000",
)


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
        # static: read once per JVM, when the first query compiles
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # read only when this call launches the JVM (spark-submit passes
        # them with --driver-java-options instead)
        .config("spark.driver.defaultJavaOptions", " ".join(DRIVER_JAVA_OPTIONS))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
