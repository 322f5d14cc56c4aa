"""SparkSession factory.

Local test profile mirrors the driver environment (local[N], single JVM)
while the config block documents the 100 TB cluster posture: AQE on for
runtime re-planning / skew joins, shuffle partitions sized to cores
locally (set to ~2-3x total cluster cores in production), UTC session
timezone so results are oracle-comparable, Arrow enabled for the few
pandas-UDF escape hatches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-code cache (a JVM-wide LRU of compiled Janino
# classes, keyed by source text) defaults to 100 entries.  One pass over
# all 262 registered queries at sf0.01 compiles 3544 distinct classes (a
# second pass adds 154); one benchmark batch_mix pass compiles about 300.
# An LRU cache swept by a repeating cycle larger than itself evicts every
# entry before its next use, so at 100 entries every repeated query
# recompiled its whole plan and ran the fresh bytecode interpreted until
# the JIT caught up.  About 2x the measured registry working set keeps
# repeated plans on cached classes; the cache is static, read once per JVM.
CODEGEN_CACHE_ENTRIES = 8192

# Streaming checkpoint files (offset, commit and source logs, state-store
# deltas) are written through this CheckpointFileManager.  Spark's default
# FileContext manager renames through AbstractFileSystem, which on Hadoop's
# local file system without its native library forks `readlink` for every
# file and its .crc (63 forks per micro-batch in the stream_ingest
# benchmark).  On a local POSIX file system both managers do an
# exists-check and then rename(2), so the atomicity and the errors a writer
# that lost the race sees are the same; the FileContext path only adds the
# fork.  This is the local profile: cluster deployments with object-store
# checkpoints keep Spark's default.  State-store checksum verification
# (spark.sql.streaming.checkpoint.fileChecksum.enabled) stays on.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "sfdp-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert to
        # microsecond TimestampType in the loader (truncation —
        # identical to DuckDB's CAST(ts_ns AS TIMESTAMP)).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """JVM-wide whole-stage/expression codegen totals since JVM start:
    ``(classes_compiled, compile_ms)``.  Cache hits compile nothing, so
    the difference across a call is what that call compiled.

    The class count is the sample count of Spark's
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram (one sample per
    compiled class).  That histogram keeps only a decaying sample of the
    durations, not their sum, so the time is the exact nanosecond total
    ``CodeGenerator`` accumulates over the same compilations.
    """
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return int(hist.getCount()), gen.compileTime() / 1e6
