"""Incremental materialized-view maintenance over a stream.

The view is stored as PER-BATCH partial aggregate states (mergeable
monoids: count/sum/min/max) in a parquet table partitioned by
`_batch_id`; reading the view merges the partials. Two properties fall
out of that layout, and they are the whole design:

- **Exactly-once without transactions**: foreachBatch may re-deliver a
  batch after a crash, but each batch writes ONLY its own
  `_batch_id=N` partition with dynamic partition overwrite — a replay
  overwrites the identical partition instead of double-counting. The
  checkpoint's batch numbering is the idempotency key.
- **Refresh cost ∝ batch, not history**: a new micro-batch appends one
  partial partition; nothing rescans or rewrites the view's past. The
  read-time merge is O(groups × retained batches) — `compact_mv`
  folds old partitions into a single baseline when that factor grows.

This is the streaming twin of the batch `agg_partial_merge` query
(same monoid-merge proof, oracle-checked there). The reference's
analogue is its imperative 5,000-row flush loop (SURVEY §2.9 T2);
here the state lives in the lake layout, not in process memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dl_datalake_spark.session import dynamic_partition_overwrite

MV_AGG_COLS = ("_n", "_sum", "_min", "_max")

# Marker file inside the MV dir recording the highest _batch_id folded
# into the `_batch_id=-1` baseline by compact_mv.  write_mv_batch skips
# any batch at or below it: after a crash the checkpoint may replay a
# batch the baseline already absorbed, and without the watermark that
# replay would land a fresh _batch_id=N partition on top of the
# baseline and double-count.
#
# Line 2 (optional) records the RUN IDENTITY (checkpoint location) of
# the stream whose batches were folded.  Batch ids only mean "already
# absorbed" within the checkpoint that numbered them: a stream restarted
# from a NEW checkpoint renumbers from 0, and its batch 0 is fresh data,
# not a replay.  The skip therefore only applies when the identity
# matches; a known-different identity over a nonzero watermark fails
# loudly instead of silently dropping the new run's first batches.
_WATERMARK_FILE = "_compacted_through"


def _read_watermark(mv_path: str) -> tuple[int, str | None]:
    import os

    p = os.path.join(mv_path, _WATERMARK_FILE)
    try:
        with open(p) as fh:
            lines = fh.read().splitlines()
        return int(lines[0].strip()), (lines[1].strip() if len(lines) > 1 else None)
    except (OSError, ValueError, IndexError):
        return -1, None


def _compacted_through(mv_path: str) -> int:
    return _read_watermark(mv_path)[0]


def _partials(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    distinct_col: str | None = None,
) -> DataFrame:
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(value_col).alias("_sum"),
        F.min(value_col).alias("_min"),
        F.max(value_col).alias("_max"),
    ]
    if distinct_col is not None:
        # Datasketches HLL: a MERGEABLE distinct-count state — the one
        # aggregate family exact partials can't give you incrementally
        # (exact distinct needs the full key set, not per-batch counts)
        aggs.append(F.hll_sketch_agg(distinct_col).alias("_hll"))
    return df.groupBy(*group_cols).agg(*aggs)


def write_mv_batch(
    batch_df: DataFrame,
    batch_id: int,
    group_cols: list[str],
    value_col: str,
    mv_path: str,
    distinct_col: str | None = None,
    run_identity: str | None = None,
) -> None:
    """One micro-batch → one partial-state partition. Safe to replay:
    same batch_id always lands in (and fully replaces) one partition,
    and batches already folded into a compacted baseline are skipped
    (see _WATERMARK_FILE) so a post-compaction replay cannot
    double-count.

    `run_identity` (the checkpoint location, threaded automatically by
    incremental_mv) scopes the skip: batch numbering restarts at 0 under
    a new checkpoint, so "batch_id <= watermark" only means "replayed"
    when the identity matches the one the watermark was written under.
    A known-different identity over a nonzero watermark raises — the
    new run would silently lose its first `watermark+1` batches
    otherwise.  Identity-less calls (direct test/tooling use, legacy
    watermark files) keep the old skip behavior.
    """
    wm_batch, wm_identity = _read_watermark(mv_path)
    if int(batch_id) <= wm_batch:
        if (
            run_identity is not None
            and wm_identity is not None
            and run_identity != wm_identity
        ):
            raise ValueError(
                f"MV at {mv_path} was compacted through batch {wm_batch} of "
                f"checkpoint {wm_identity!r}, but batch {batch_id} arrived from "
                f"a different checkpoint {run_identity!r}. Its data is NOT a "
                "replay and would be dropped by the compaction watermark. "
                "Resume the stream from the original checkpoint, or start the "
                "new run against a fresh mv_path and merge."
            )
        return
    spark = batch_df.sparkSession
    with dynamic_partition_overwrite(spark):
        (
            _partials(batch_df, group_cols, value_col, distinct_col)
            .withColumn("_batch_id", F.lit(int(batch_id)))
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(mv_path)
        )


def incremental_mv(
    stream_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    mv_path: str,
    checkpoint_dir: str,
    distinct_col: str | None = None,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Maintain the view from a streaming DataFrame. Default trigger is
    availableNow (catch-up refresh that terminates); pass
    processing_time (e.g. "30 seconds") for continuous live
    maintenance — the same upsert code path either way."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        write_mv_batch(
            batch_df,
            batch_id,
            group_cols,
            value_col,
            mv_path,
            distinct_col,
            run_identity=checkpoint_dir,
        )

    writer = stream_df.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_mv(spark: SparkSession, mv_path: str, group_cols: list[str]) -> DataFrame:
    """The view: merge partial states across batch partitions. avg is
    derived from merged sum/count — never averaged across batches.

    Retries the directory open briefly: compact_mv swaps the view with
    two atomic renames, so a reader landing exactly between them sees
    ENOENT for under a millisecond — never partial data."""
    import time as _time

    partials = None
    for attempt in range(5):
        try:
            partials = spark.read.parquet(mv_path)
            break
        except Exception:
            if attempt == 4:
                raise
            _time.sleep(0.05 * (attempt + 1))
    assert partials is not None
    aggs = [
        F.sum("_n").alias("n"),
        F.sum("_sum").alias("sum_value"),
        (F.sum("_sum") / F.sum("_n")).alias("avg_value"),
        F.min("_min").alias("min_value"),
        F.max("_max").alias("max_value"),
    ]
    if "_hll" in partials.columns:
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg("_hll")).alias("approx_distinct")
        )
    return partials.groupBy(*group_cols).agg(*aggs)


def compact_mv(
    spark: SparkSession,
    mv_path: str,
    group_cols: list[str],
    run_identity: str | None = None,
) -> None:
    """Fold every batch partition into a single `_batch_id=-1` baseline.

    MUST run against a STOPPED, fully-committed stream: compaction and
    a live writer racing on the same partitions is undefined.  Replay
    safety after restart comes from the watermark file written here —
    the max folded _batch_id is persisted and write_mv_batch skips any
    batch at or below it, so a checkpoint replay of an absorbed batch
    is a no-op instead of a double-count.

    The staging dir is created NEXT TO mv_path (same parent, hence the
    same filesystem) so both swap steps are atomic os.renames — staging
    in /tmp would degrade shutil.move to a recursive copy on a
    different mount and void the no-half-written-view guarantee.  The
    swap itself is two renames; readers in that sub-millisecond window
    see ENOENT, not partial data — retry on the reader side.
    """
    import os
    import uuid

    from dl_datalake_spark.lake.fs import get_fs

    fs = get_fs(mv_path, spark)
    partials = spark.read.parquet(mv_path)
    prev_batch, prev_identity = _read_watermark(mv_path)
    max_batch = max(
        prev_batch,
        int(partials.agg(F.max("_batch_id")).collect()[0][0]),
    )
    # Identity of the run whose batch numbering the watermark is scoped
    # to: caller-supplied (pass the stream's checkpoint dir), else carry
    # the previous watermark's identity forward.
    identity = run_identity if run_identity is not None else prev_identity
    aggs = [
        F.sum("_n").alias("_n"),
        F.sum("_sum").alias("_sum"),
        F.min("_min").alias("_min"),
        F.max("_max").alias("_max"),
    ]
    if "_hll" in partials.columns:
        aggs.append(F.hll_union_agg("_hll").alias("_hll"))  # sketches merge losslessly
    merged = (
        partials.groupBy(*group_cols)
        .agg(*aggs)
        .withColumn("_batch_id", F.lit(-1))
    )
    tmp = mv_path.rstrip("/") + f".staging.{uuid.uuid4().hex}"
    merged.coalesce(1).write.mode("overwrite").partitionBy("_batch_id").parquet(tmp)
    with open(os.path.join(tmp, _WATERMARK_FILE), "w") as fh:
        fh.write(str(max_batch) if identity is None else f"{max_batch}\n{identity}")
    old = mv_path.rstrip("/") + f".old.{uuid.uuid4().hex}"
    fs.rename(mv_path, old)
    fs.rename(tmp, mv_path)
    fs.rmtree(old)
