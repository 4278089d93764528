"""SparkSession ownership.

One module owns session construction so every entry point (tests, bench,
CLI, driver harness) gets identical behavior: UTC timestamps, AQE on,
Arrow transfer on, and nanosecond-parquet tolerance for the events
table.

The reference reads everything through one in-process DuckDB connection
(`storage/reader.py:57-68`); the Spark analogue is one shared session —
JVM startup is amortized across a suite, per-query time is the
comparable quantity.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set on an already-running session.
# The correctness driver owns its own SparkSession, so anything the engine
# depends on at runtime MUST be dynamically settable.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as int64 ns and do integer time arithmetic (ns values
    # ~1.7e18 exceed double's 2^53 mantissa — never let them touch floats).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # NOT set: spark.sql.parquet.aggregatePushdown — it only engages on
    # the DSv2 read path, and commit stats need none of it: the writer
    # reads per-file min/max from the Parquet footers on the driver
    # (lake/snapshot.added_file_stats).
    # NOT set: spark.sql.sources.partitionOverwriteMode.  Lake writes
    # stage with mode("append"); the index and view writes that replace
    # only their output's partitions pin "dynamic" around the write
    # (`dynamic_partition_overwrite`: operators/ivf_index.py,
    # lsh_index.py, streaming/mv.py); and the from-scratch writes
    # (write_lsh_index, write_training_shards) need the default
    # "static", under which an overwrite also clears the partitions a
    # rebuild no longer produces.
}


@contextmanager
def dynamic_partition_overwrite(spark: SparkSession):
    """Pin ``partitionOverwriteMode=dynamic`` for the duration, restoring
    the caller's value after: a ``mode("overwrite")`` + ``partitionBy``
    write inside replaces only the partitions present in its output.
    Under the ambient default ``static`` the same write replaces the
    whole directory — never trust the ambient conf for it."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to a session we did not build (driver-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # immutable in this deployment — keep going; reads that need it
            # will surface a clear error instead of a silent wrong answer
            pass
    return spark


def get_spark(app_name: str = "dl_datalake_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster the master/
    resource settings come from spark-submit and this builder only adds
    SQL-level confs, all of which scale-invariant (AQE picks shuffle
    parallelism at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
