"""tables.load_table fan-out policy."""

from __future__ import annotations

from dl_datalake_spark.tables import load_table


def _one_file_table(spark, sf_dir):
    spark.range(100).coalesce(1).write.parquet(str(sf_dir / "t.parquet"))


def test_spread_bytes_sizes_small_local_table_to_one_partition(spark, tmp_path):
    _one_file_table(spark, tmp_path)
    df = load_table(spark, str(tmp_path), "t", spread="bytes")
    assert df.rdd.getNumPartitions() == 1


def test_spread_bytes_falls_back_to_default_parallelism_when_size_unknown(spark, tmp_path):
    """A scheme-prefixed sf_dir cannot be sized on the driver (0 bytes);
    the target is then the default parallelism, not 1."""
    _one_file_table(spark, tmp_path)
    df = load_table(spark, f"file://{tmp_path}", "t", spread="bytes")
    assert df.rdd.getNumPartitions() == max(1, spark.sparkContext.defaultParallelism)
