"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM with N threads; on a real cluster the same
settings hold except memory/partition sizing comes from the cluster manager.
Every knob here is a public Apache Spark config.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions: ~cores locally. On a 1000-executor cluster this should
# be executors*cores*2-3 (set via spark-submit); AQE coalesces the excess at
# runtime, so over-provisioning is safe, under-provisioning is not.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "dataclass_array_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Scale notes (100 TB design point):
    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching replace hand-tuning per query.
    - Arrow on: every Python exchange (Arrow UDF, toPandas, mapInArrow,
      applyInArrow) moves columnar batches, not pickled rows.
    - UTC session TZ: parquet timestamps compare bit-identically with the
      DuckDB oracle and with any other engine.
    - ANSI mode off: the reference's semantics (and TPC-H-style queries)
      expect permissive casts/overflow, and Spark 4.x flipped the default.
    - Python workers fork from ``dataclass_array_spark._daemon``: pyspark
      ends every task with ``importlib.invalidate_caches()``, which made
      the stock zip importers re-parse pyspark.zip and the spark-core jar
      (0.15-0.45 s a task); at 32 shuffle partitions every Python stage
      paid that on each of its 32 tasks.  The daemon's importer re-reads
      an archive only when it changed on disk.
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.daemon.module", "dataclass_array_spark._daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # memory-sink gate queries use implicit temp checkpoints; force
        # cleanup so repeated bench runs leave no /tmp/temporary-* residue
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        # localCheckpoint pins (LM count tables, iterative-loop state)
        # hold block-manager storage until the ContextCleaner notices the
        # RDD is unreachable — which needs a JVM GC, and the cleaner's
        # default periodic GC fires only every 30 min.  A long
        # multi-query process (the 195-gate bench, any ETL driver) was
        # measured degrading in its LATE passes as dead pinned blocks
        # piled up; a 5-min periodic GC keeps reclamation bounded.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
