"""Round-11 additions: contract-aware streaming (a rename_column is
served by the `lake_appends` stream under its LOGICAL name — batch and
stream can no longer disagree about the same dataset), the named-table
SQL catalog, and optimistic append concurrency.

Every query follows the throwaway-lake pattern (wave11..wave15): all
inputs derive from the events table with integer-cents arithmetic so
the DuckDB oracle reconstructs the same values from plain SQL.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dl_datalake_spark.queries.registry import register
from dl_datalake_spark.tables import load_table

_JAN = 1672574400000  # 2023-01-01T12:00Z (ms)
_CENTS_SQL = "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)"


def _bucket_cents(ev, event_type: str, buckets: int = 16):
    return (
        ev.where(F.col("event_type") == event_type)
        .groupBy((F.col("user_id") % buckets).alias("b"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    )


@register(
    "events_stream_rename",
    sql=f"""
WITH v AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'view' GROUP BY 1),
k AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'click' GROUP BY 1)
SELECT CAST({_JAN} + b * 60000 AS BIGINT) AS ts, c AS px_cents,
       CAST(0 AS BIGINT) AS commit_version FROM v
UNION ALL
SELECT CAST({_JAN} + (100 + b) * 60000 AS BIGINT), c, 2 FROM k
""",
)
def events_stream_rename(spark: SparkSession, sf_dir: str):
    """CONTRACT-AWARE STREAMING (sources/append_source.py, round 11):
    commit v0 appends under column `price`, v1 renames price -> px
    (metadata-only, files keep the physical name), v2 appends under
    `px`.  A stream started AFTER the rename serves every commit —
    including v0, whose files physically say `price` — under the
    contract's logical name `px`, matching the batch reader exactly.
    The rows must equal the bucket arithmetic in plain SQL; the rename
    commit itself adds no rows (partitions=[])."""
    import shutil
    import tempfile

    from dl_datalake_spark.lake.paths import DatasetKey
    from dl_datalake_spark.lake.writer import LakeWriter
    from dl_datalake_spark.sources.append_source import stream_appends

    ev = load_table(spark, sf_dir, "events")
    views = _bucket_cents(ev, "view")
    clicks = _bucket_cents(ev, "click")

    def _ticks(df, offset, col):
        return df.select(
            (F.lit(_JAN) + (F.col("b") + offset) * 60000).cast("long").alias("ts"),
            F.col("c").cast("double").alias(col),
        )

    key = DatasetKey("SIM", "SPOT", "RENQ", "ticks", "1m")
    tmp = tempfile.mkdtemp(prefix="dl_ren_lake_")
    try:
        w = LakeWriter(spark, tmp)
        w.write_ticks(_ticks(views, 0, "price"), key, mode="append")   # v0
        w.rename_column(key, "price", "px")                             # v1
        w.write_ticks(_ticks(clicks, 100, "px"), key, mode="append")    # v2
        ds = w.dataset_path(key)
        out: list = []

        def _collect(batch_df, _bid):
            out.extend(batch_df.select("ts", "px", "commit_version").collect())

        q = (
            stream_appends(spark, ds)
            .writeStream.foreachBatch(_collect)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = [
            (int(r["ts"]), int(r["px"]), int(r["commit_version"])) for r in out
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "ts long, px_cents long, commit_version long"
    )


@register(
    "events_sql_catalog",
    sql=f"""
WITH v AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'view' GROUP BY 1),
k AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'click' GROUP BY 1)
SELECT CAST({_JAN} + v.b * 60000 AS BIGINT) AS ts,
       v.c + k.c AS joined_cents,
       v.c AS v0_cents
FROM v JOIN k ON v.b = k.b
ORDER BY ts
""",
)
def events_sql_catalog(spark: SparkSession, sf_dir: str):
    """NAMED-TABLE SQL CATALOG (lake/sql_catalog.py, round 11): two
    lake datasets joined PURELY IN SQL by name (`FROM lake.a JOIN
    lake.b`), plus a `VERSION AS OF 0` time-travel read of a dataset
    that was upsert-overwritten afterwards — the historical column
    must serve v0's values (the bucket arithmetic), not the head's,
    and hash-match what read_dataset_at serves.  The reference's SQL
    surface is one DuckDB glob per query with no catalog and no
    history (reader.py:57-62)."""
    import shutil
    import tempfile

    from dl_datalake_spark.client import DataLakeClient
    from dl_datalake_spark.lake.paths import DatasetKey

    ev = load_table(spark, sf_dir, "events")

    def _ticks(df):
        return df.select(
            (F.lit(_JAN) + F.col("b") * 60000).cast("long").alias("ts"),
            F.col("c").cast("double").alias("price"),
        )

    tmp = tempfile.mkdtemp(prefix="dl_sqlcat_")
    try:
        client = DataLakeClient(spark, tmp)
        ka = DatasetKey("SIM", "SPOT", "SQA", "ticks", "1m")
        kb = DatasetKey("SIM", "SPOT", "SQB", "ticks", "1m")
        client.writer.write_ticks(_ticks(_bucket_cents(ev, "view")), ka, mode="append")
        client.writer.write_ticks(_ticks(_bucket_cents(ev, "click")), kb, mode="append")
        # overwrite A's values so VERSION AS OF 0 is observably historical
        client.writer.write_ticks(
            _ticks(_bucket_cents(ev, "purchase")), ka, mode="upsert"
        )
        got = client.sql(
            "SELECT a.ts AS ts, a.price + b.price AS joined, a0.price AS v0 "
            "FROM lake.sim_sqa_ticks_1m VERSION AS OF 0 a "
            "JOIN lake.sim_sqb_ticks_1m b ON a.ts = b.ts "
            "JOIN lake.sim_sqa_ticks_1m VERSION AS OF 0 a0 ON a0.ts = a.ts "
            "ORDER BY ts"
        ).collect()
        rows = [(int(r["ts"]), int(r["joined"]), int(r["v0"])) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "ts long, joined_cents long, v0_cents long"
    )


@register(
    "events_alter_type",
    sql=f"""
WITH v AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'view' GROUP BY 1)
SELECT CAST({_JAN} + b * 60000 AS BIGINT) AS ts,
       CAST(c AS VARCHAR) AS qty_str,
       c AS v0_cents
FROM v ORDER BY ts
""",
)
def events_alter_type(spark: SparkSession, sf_dir: str):
    """REWRITE-BACKED TYPE CHANGE (writer.alter_column_type, round 11):
    a bigint column is altered to string — full rewrite under one
    commit, losslessness enforced by a round-trip probe — and the head
    serves strings while `VERSION AS OF 0` still serves the original
    bigint values over the original files.  Both epochs hash-match the
    bucket arithmetic in SQL."""
    import shutil
    import tempfile

    from dl_datalake_spark.lake.paths import DatasetKey
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    ev = load_table(spark, sf_dir, "events")
    ticks = _bucket_cents(ev, "view").select(
        (F.lit(_JAN) + F.col("b") * 60000).cast("long").alias("ts"),
        F.col("c").cast("bigint").alias("qty"),
    )
    key = DatasetKey("SIM", "SPOT", "ALTQ", "ticks", "1m")
    tmp = tempfile.mkdtemp(prefix="dl_alt_lake_")
    try:
        w = LakeWriter(spark, tmp)
        w.write_ticks(ticks, key, mode="append")            # v0: bigint
        w.alter_column_type(key, "qty", "string")            # v1: rewrite
        r = LakeReader(spark, tmp)
        head = r.read_dataset(key).select("ts", "qty")
        old = r.read_dataset_at(key, 0).select(
            "ts", F.col("qty").alias("qty0")
        )
        got = (
            head.join(old, "ts")
            .select("ts", "qty", "qty0")
            .orderBy("ts")
            .collect()
        )
        rows = [(int(x["ts"]), str(x["qty"]), int(x["qty0"])) for x in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "ts long, qty_str string, v0_cents long")


@register(
    "events_optimistic_append",
    sql=f"""
WITH v AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'view' GROUP BY 1),
k AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'click' GROUP BY 1),
p AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT CAST({_JAN} + b * 60000 AS BIGINT) AS ts, c AS price_cents FROM v
UNION ALL
SELECT CAST({_JAN} + (100 + b) * 60000 AS BIGINT), c FROM k
UNION ALL
SELECT CAST({_JAN} + (200 + b) * 60000 AS BIGINT), c FROM p
""",
)
def events_optimistic_append(spark: SparkSession, sf_dir: str):
    """OPTIMISTIC APPEND CONCURRENCY (the optimistic schedule of
    writer._write, round 11): after a claimed bootstrap commit, two appends run their
    data jobs OUTSIDE the commit claim (Delta's OptimisticTransaction)
    and validate under a milliseconds claim window — the read-back
    union must equal the three-way bucket arithmetic exactly, i.e.
    nothing is lost or doubled by the stage-move-validate-finalize
    protocol, and both commits record the rebasable files_add delta."""
    import shutil
    import tempfile

    from dl_datalake_spark.lake.paths import DatasetKey
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    ev = load_table(spark, sf_dir, "events")

    def _ticks(df, offset):
        return df.select(
            (F.lit(_JAN) + (F.col("b") + offset) * 60000).cast("long").alias("ts"),
            F.col("c").cast("double").alias("price"),
        )

    key = DatasetKey("SIM", "SPOT", "OPTQ", "ticks", "1m")
    tmp = tempfile.mkdtemp(prefix="dl_opt_lake_")
    try:
        w = LakeWriter(spark, tmp)
        w.write_ticks(_ticks(_bucket_cents(ev, "view"), 0), key, mode="append")
        w.write_ticks(
            _ticks(_bucket_cents(ev, "click"), 100), key,
            mode="append", optimistic=True,
        )
        w.write_ticks(
            _ticks(_bucket_cents(ev, "purchase"), 200), key,
            mode="append", optimistic=True,
        )
        log = w.commit_log(key)
        assert all(
            log.committed_entry(v).get("optimistic")
            and "files_add" in log.committed_entry(v)
            for v in (1, 2)
        )
        rows = [
            (int(r["ts"]), int(r["price"]))
            for r in LakeReader(spark, tmp).read_dataset(key)
            .select("ts", "price").collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "ts long, price_cents long")
