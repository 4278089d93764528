"""Structured-Streaming-shaped incremental ingest.

The reference implements streaming concepts imperatively (SURVEY §2.9):
watermark resume, 5,000-row micro-batches, keep-last late-data merge.
Here the same semantics are the native Spark constructs:

- file-drop source: `readStream` over a landing directory →
  `foreachBatch` upsert into the lake (micro-batch = T2);
- watermark + tumbling-window resample for late data (T8/A1);
- checkpointing replaces the manifest cursor for the streaming path
  (the manifest remains the batch-side watermark).

At scale: `maxFilesPerTrigger` bounds per-batch work; the foreachBatch
upsert is partition-pruned exactly like the batch writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.writer import LakeWriter
from dl_datalake_spark.sources.rest_connector import OHLCV_SCHEMA


def stream_ohlcv_ingest(
    spark: SparkSession,
    landing_dir: str,
    writer: LakeWriter,
    key: DatasetKey,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """CSV/JSON files dropped into `landing_dir` → upserted into the lake."""
    stream = (
        spark.readStream.schema(OHLCV_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(landing_dir, header=True)
    )

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        writer.write_ohlc(batch_df, key)

    return (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_append_ingest(
    spark: SparkSession,
    landing_dir: str,
    writer: LakeWriter,
    key: DatasetKey,
    checkpoint_dir: str,
    app_id: str,
    max_files_per_trigger: int = 10,
    optimistic: bool = False,
) -> StreamingQuery:
    """EXACTLY-ONCE append sink: each micro-batch commits with
    `txn=(app_id, batch_id)` (Delta's txnAppId/txnVersion,
    `LakeWriter.write_ohlc`), so a batch replayed after a crash between
    the lake commit and the checkpoint write is detected in the commit
    log and SKIPPED — append mode needs this because, unlike the
    keep-last upsert of `stream_ohlcv_ingest`, re-appending is not
    idempotent. Contract (same as Delta): one app_id per stream,
    monotonically increasing batch ids (Spark's checkpoint guarantees
    this for a given checkpoint dir); replay protection reaches as far
    back as commit-log prune retention.

    The guarantee holds within ONE checkpoint lineage: replays under
    the SAME checkpoint dir (crash between lake commit and checkpoint
    write) are skipped exactly.  Deleting the checkpoint and restarting
    under the same app_id is NOT safe in general — if the first run
    crashed mid-stream (batch N committed, later landing files never
    read), a fresh checkpoint may re-batch committed+unprocessed files
    under a batch id <= the recorded last_txn_version, and the skip
    would silently DROP the unprocessed rows.  Same caveat Delta
    documents: a wiped checkpoint requires a NEW app_id (accepting
    duplicates of committed batches) or a batch-scan rebuild."""
    stream = (
        spark.readStream.schema(OHLCV_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(landing_dir, header=True)
    )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # optimistic: the micro-batch's Spark job runs outside the
        # commit claim (the optimistic schedule of writer._write), so several
        # ingest streams appending to ONE dataset scale instead of
        # serializing their jobs; txn idempotency is preserved on both
        # paths (checked again under the claim).  A ConcurrentWrite-
        # Conflict (maintenance/DML landing between the snapshot read
        # and the claim) is RETRIED from a fresh snapshot — the claimed
        # path would simply have serialized behind the same commit, so
        # killing the whole stream for it would make the scale-out mode
        # strictly more fragile; the txn tag makes retries exactly-once.
        from dl_datalake_spark.lake.commitlog import ConcurrentWriteConflict

        attempts = 4 if optimistic else 1
        for i in range(attempts):
            try:
                writer.write_ohlc(
                    batch_df, key, mode="append", txn=(app_id, batch_id),
                    optimistic=optimistic,
                )
                return
            except ConcurrentWriteConflict:
                if i == attempts - 1:
                    raise

    return (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cdf_into_ivf(
    spark: SparkSession,
    dataset_path: str,
    index_path: str,
    checkpoint_dir: str,
    app_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    schema: str | None = None,
    after_version: int = -1,
    max_commits_per_batch: int = 0,
) -> StreamingQuery:
    """Keep a persisted IVF ANN index FOLLOWING a lake dataset's
    row-level change feed, exactly-once (VERDICT r8 #6): subscribe to
    `<dataset>/_cdf` through the lake_cdf streaming source
    (sources/cdf_source.py — offsets are commit versions, Spark's
    checkpoint owns the cursor), and apply each micro-batch to the
    index as ONE index commit (`operators.ivf_index.apply_cdf_to_ivf`:
    inserts/update-postimages upsert against the frozen centroids,
    deletes purge every copy) tagged `txn=(app_id, batch_id)` — a
    replayed batch after a crash between the index commit and the
    checkpoint write is detected in the INDEX's commit log and skipped.
    `max_commits_per_batch` bounds each micro-batch of a long catch-up
    (sources/cdf_source.py admission control); note the default
    availableNow trigger captures ONE offset per run, so a capped run
    drains one bounded batch — run it repeatedly (or use a continuous
    trigger) until caught up.

    Same exactly-once scope as stream_append_ingest: replays under one
    checkpoint lineage are exact; a WIPED checkpoint with unprocessed
    lake commits needs a new app_id or a from-scratch
    write_ivf_index rebuild.  Pair with trigger(availableNow=True)
    (the default here) for drain-and-stop catch-ups."""
    from dl_datalake_spark.operators.ivf_index import apply_cdf_to_ivf
    from dl_datalake_spark.sources.cdf_source import stream_change_feed

    stream = stream_change_feed(
        spark, dataset_path, after_version=after_version, schema=schema,
        max_commits_per_batch=max_commits_per_batch,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdf_to_ivf(
            spark,
            batch_df,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            txn=(app_id, batch_id),
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cdf_into_lsh(
    spark: SparkSession,
    dataset_path: str,
    index_path: str,
    checkpoint_dir: str,
    app_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    schema: str | None = None,
    after_version: int = -1,
    max_commits_per_batch: int = 0,
) -> StreamingQuery:
    """Keep a persisted MinHash-LSH band index FOLLOWING a lake
    dataset's row-level change feed, exactly-once — the dedup twin of
    `stream_cdf_into_ivf`: subscribe to `<dataset>/_cdf` through the
    lake_cdf source and apply each micro-batch as ONE index commit
    (`operators.lsh_index.apply_cdf_to_lsh`: surviving inserts/updates
    get fresh signatures, changed docs' old band rows drop, only the
    hash buckets holding changed docs rewrite) tagged
    `txn=(app_id, batch_id)` so a replayed batch is skipped.  Same
    exactly-once scope as stream_append_ingest: exact within one
    checkpoint lineage; a WIPED checkpoint with unprocessed lake
    commits needs a new app_id or a `write_lsh_index` rebuild.
    `max_commits_per_batch`: same bounded-catch-up contract as
    stream_cdf_into_ivf."""
    from dl_datalake_spark.operators.lsh_index import apply_cdf_to_lsh
    from dl_datalake_spark.sources.cdf_source import stream_change_feed

    stream = stream_change_feed(
        spark, dataset_path, after_version=after_version, schema=schema,
        max_commits_per_batch=max_commits_per_batch,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdf_to_lsh(
            spark,
            batch_df,
            index_path,
            id_col=id_col,
            text_col=text_col,
            txn=(app_id, batch_id),
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_resample(
    df: DataFrame,
    every: str = "15 minutes",
    watermark_delay: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Windowed OHLCV aggregation with late-data watermark.

    Works on a streaming OR batch DataFrame (same plan). first/last are
    replaced by min_by/max_by on ts for determinism — the streaming
    analogue of the batch resample_ohlcv.
    """
    t = F.timestamp_millis(F.col(ts_col).cast("long"))
    with_time = df.withColumn("_event_time", t)
    if with_time.isStreaming:
        with_time = with_time.withWatermark("_event_time", watermark_delay)
    return (
        with_time.groupBy(F.window("_event_time", every).alias("w"))
        .agg(
            F.min_by("open", ts_col).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", ts_col).alias("close"),
            F.sum("volume").alias("volume"),
            F.min(ts_col).alias("ts"),
        )
        .select("ts", "open", "high", "low", "close", "volume")
    )


def streaming_dedup(
    df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Drop duplicate records within the watermark horizon (T3's
    streaming analogue).

    `dropDuplicatesWithinWatermark` bounds the dedup state by the
    watermark instead of growing forever — the only state-safe way to
    run exactly-once dedup on an unbounded stream. Keys default to
    [ts]: the reference's per-timestamp idempotency
    (`storage/writer.py:92`), now enforced in-flight rather than at
    merge time. Downstream the lake upsert stays idempotent, so the
    two layers compose: in-flight dedup bounds re-delivery, the
    keep-last merge handles anything older than the watermark.
    """
    keys = keys or [ts_col]
    with_time = df.withColumn("_event_time", F.timestamp_millis(F.col(ts_col)))
    out = with_time.withWatermark("_event_time", watermark_delay)
    if hasattr(out, "dropDuplicatesWithinWatermark"):
        return out.dropDuplicatesWithinWatermark(keys).drop("_event_time")
    return out.dropDuplicates(keys).drop("_event_time")


def stream_exchange_ingest(
    spark: SparkSession,
    writer: LakeWriter,
    key: DatasetKey,
    checkpoint_dir: str,
    source_options: dict | None = None,
) -> StreamingQuery:
    """Continuous exchange ingest: the `exchange_ohlcv` streaming source
    → per-symbol foreachBatch upsert into the lake.

    The full continuous version of the reference's download loop
    (exchange_connector.py:201-308): offsets live in the checkpoint
    (until-ms watermarks, replayable), micro-batches land through the
    same keep-last upsert as batch ingest, so restarts and re-deliveries
    are idempotent end-to-end. `max_batch_ms` in source_options bounds
    candles per micro-batch — the streaming analogue of the reference's
    5,000-row flush chunk.
    """
    from dl_datalake_spark.sources.spark_datasource import register_exchange_source

    register_exchange_source(spark)
    opts = {"symbols": key.symbol, **{k: str(v) for k, v in (source_options or {}).items()}}
    stream = spark.readStream.format("exchange_ohlcv").options(**opts).load()

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        writer.write_ohlc(batch_df.drop("symbol"), key)

    return (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
