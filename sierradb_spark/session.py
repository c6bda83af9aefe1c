"""SparkSession factory tuned for this engine.

Local mode is for tests/bench; the same settings are what we would ship
to a 1000-executor cluster, except ``master`` and memory sizing come
from the cluster manager there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sierradb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Local mode: one JVM; shuffle partitions should match cores, not 200.
    # Cluster mode: leave at ~2-3x total cores and let AQE coalesce.
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Past this many paths Spark lists a reader's paths with a Spark
        # job, one task per path (default 32). The event store hands the
        # reader its manifest's leaf files, so there is nothing to
        # discover: listing on the driver is one stat per file. On an
        # object store that is one request per file, serial, where the
        # job would fan out; compaction keeps a manifest's file count
        # low enough that the driver wins there too.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(1 << 20))
        # The events table carries TIMESTAMP(NANOS) parquet timestamps,
        # which Spark only reads as raw longs (registry.load converts
        # them to µs-precision timestamps). Owned HERE so loading a
        # table is side-effect-free for sessions built by this factory.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
