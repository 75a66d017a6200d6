"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same conf block is what we would
ship on a 1000-executor cluster — AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for the Pandas-UDF slow path, UTC
session time so epoch math matches the reference's epoch-second
timestamps (reference stores epoch seconds as int,
core/src/main/java/net/opentsdb/aura/metrics/core/TimeSeriesShard.java:399).

The reference compiles its fused downsample/rate/group-by iterators once,
ahead of time; this engine generates Java per plan and compiles it with
Janino.  The codegen cache is sized (``spark.sql.codegen.cache.maxEntries``,
1000) to hold a dashboard session's working set, so a repeated plan
compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores the driver gives us (the CPUs this process may
# run on); on a real cluster this is ignored (master comes from the
# submit environment).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def get_spark(app_name: str = "opentsdb_aura_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — at 100 TB
    scale you would size this to ~2-3× total executor cores instead;
    AQE coalesces small post-shuffle partitions either way, so the
    number is an upper bound, not a tuning cliff.
    """
    cpus = _DEFAULT_CPUS
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # parquet scans: keep row groups prunable by min/max stats
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # the driver's events table stores TIMESTAMP(NANOS) which Spark
        # rejects by default; read as raw long nanoseconds instead
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # no Python call-site capture on every F.* / DataFrame call (about
        # 850 py4j round trips per dashboard plan; an AnalysisException then
        # names no Python call site); PySpark caches the flag process-wide
        # on first use, so it is set here, at build time
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark keys its generated-class cache by (class loader, source),
        # so the driver's and the task thread's compiles of one
        # whole-stage class are two entries; a dashboard session holds
        # 300-365 of them, and at the default 100 every metric pass
        # recompiles ~140 classes (11-16 ms each).  Static conf: it sizes
        # the cache when the JVM first generates code
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
