"""Loaders for the driver-provided benchmark/correctness tables.

TPC-H-ish star schema + an `events` stream table + LLM-pipeline tables
(`documents`, `embeddings`), one parquet file per table per scale
factor (see /root/repo/TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dl_datalake_spark.session import ensure_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# `events.ts` has shipped as both TIMESTAMP(NANOS) (read as int64 ns via
# nanosAsLong) and TIMESTAMP(MICROS) (read as timestamp_ntz) across
# testdata generations; all query math runs in the integer epoch-µs
# domain regardless (DuckDB oracle side: `epoch_us(ts)`).
NS_PER_SEC = 1_000_000_000
NS_PER_HOUR = 3_600 * NS_PER_SEC


def epoch_us(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds of a timestamp column, whatever its physical type.

    int64 nanos → integer DIV (epoch-µs ~1.7e15 is near double's 2^53
    mantissa limit, so stay integral); timestamp / timestamp_ntz →
    unix_micros after a cast that is exact under the session's UTC
    timezone. Matches DuckDB `epoch_us(ts)` on the same parquet.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.expr(f"{col} DIV 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def with_tsu(df: DataFrame, col: str = "ts", out: str = "tsu") -> DataFrame:
    """Attach integer epoch-µs column `out` derived from `col`."""
    return df.withColumn(out, epoch_us(df, col))


def _table_bytes(path: str) -> int:
    """On-disk size of a parquet table (single file or directory)."""
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | str = False
) -> DataFrame:
    """Read one testdata table.

    spread=True repartitions a small scan up to the session's default
    parallelism before CPU-heavy downstream work (shingling, hashing,
    vector math). A single small parquet file arrives as one input
    split, which would otherwise serialize the whole pipeline on one
    core; at real scale the scan has many splits and the repartition is
    a no-op (we never shrink partitioning here).

    spread="bytes" sizes the fan-out from the table's on-disk bytes
    (ceil(bytes / 4 MB), capped at the default parallelism) instead of
    jumping straight to the core count — the right policy for stages
    whose per-row work is cheap relative to task overhead (Arrow
    mapInPandas passes, guide §2: derive partitioning from input size).
    A 0.6 MB table gets 1 partition instead of 32 (each extra partition
    is a Python worker task round-trip); a 100 GB table still saturates
    the cluster because the scan itself arrives with many splits.
    Caveat: the fan-out is sized by bytes, while the real variable is
    the per-row CPU cost of the downstream stage — a small table with
    expensive rows is still under-spread. When the size is unknown
    (a remote or scheme-prefixed `sf_dir` reads as 0 bytes here), the
    target falls back to the default parallelism, as spread=True.
    """
    ensure_runtime_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    if spread:
        target = spark.sparkContext.defaultParallelism
        nbytes = _table_bytes(path) if spread == "bytes" else 0
        if nbytes:
            target = min(target, -(-nbytes // (4 << 20)))
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}
