"""SparkSession factory tuned for both local testing and cluster scale,
and the package's one Parquet table reader.

Local mode is a single JVM with N threads; on a real cluster the same
settings hold except memory/partition sizing comes from the cluster manager.
Every knob here is a public Apache Spark config.
"""

from __future__ import annotations

import os
import stat
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

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


# The confs under which the same Parquet files infer a different schema
# (``events.ts`` is TIMESTAMP(NANOS) in some testdata drops: a long
# under nanosAsLong, an error without it).
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# session -> {local path: (stamp, inference conf values, StructType)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _stamp(path: str):
    """``(st_ino, st_mtime_ns, st_size)`` of a file; of a directory, the
    stamps of everything under it by name.  Raises OSError."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_ino, st.st_mtime_ns, st.st_size
    with os.scandir(path) as it:
        return tuple(sorted((e.name, _stamp(e.path)) for e in it))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan of ``path`` (a file or a Spark-written directory),
    read with the schema this session last inferred for it when nothing
    changed since.

    A footer-inference read runs one Spark job; a read with a given
    schema runs none.  The session's catalog keeps one entry per local
    path: the schema, the values of ``_INFER_CONFS`` it was inferred
    under, and the path's stamp, taken before the inference read.  A
    read whose stamp and confs match reads with the recorded schema;
    any other read infers and replaces the entry.  The catalog holds
    ``StructType``s only, never frames: each call returns a new scan
    with its own attribute ids, so two reads self-join.

    Scale notes: the stamp lists and stats every file under a directory
    on the driver, the listing the scan itself makes.  Paths on another
    filesystem (``hdfs:``, ``s3a:`` ...), globs and relative paths are
    not stamped and infer on every read, as a plain
    ``spark.read.parquet`` does: one footer job per read, whose listing
    and footer reads grow with the table's file count."""
    url = urlparse(path)
    local = url.path if url.scheme == "file" else path
    stamp = None
    if url.scheme in ("", "file") and os.path.isabs(local):
        try:
            stamp = _stamp(local)
        except OSError:  # missing: the read raises PATH_NOT_FOUND
            pass
    if stamp is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFER_CONFS)
    catalog = _SCHEMAS.setdefault(spark, {})
    entry = catalog.get(local)
    if entry is not None and entry[:2] == (stamp, confs):
        return spark.read.schema(entry[2]).parquet(path)
    df = spark.read.parquet(path)
    catalog[local] = (stamp, confs, df.schema)
    return df
