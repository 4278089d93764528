"""Round-12 additions: optimistic partition-disjoint DML
(delete/update/merge staged OUTSIDE the commit claim, the optimistic
schedule of writer._cow_dml), optimistic per-dataset compaction
(writer.compact_partitions), and the SQL write surface
(INSERT INTO / CTAS / UPDATE / DELETE on `lake.<t>`, lake/sql_catalog).

Every query follows the throwaway-lake pattern (wave11..wave16): all
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


def _ticks(df, offset: int):
    return df.select(
        (F.lit(_JAN) + (F.col("b") + offset) * 60000).cast("long").alias("ts"),
        F.col("c").cast("double").alias("price"),
    )


@register(
    "events_optimistic_dml",
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
SELECT CAST({_JAN} + b * 60000 AS BIGINT) AS ts, c AS price_cents
FROM v WHERE ABS(c) % 2 = 0
UNION ALL
SELECT CAST({_JAN} + (100 + COALESCE(k.b, p.b)) * 60000 AS BIGINT) AS ts,
       CASE WHEN k.b IS NOT NULL AND ABS(k.c) % 2 = 0
            THEN 3 * k.c + COALESCE(p.c, 0)
            ELSE p.c END AS price_cents
FROM k FULL OUTER JOIN p ON k.b = p.b
WHERE (k.b IS NOT NULL AND ABS(k.c) % 2 = 0) OR p.b IS NOT NULL
""",
)
def events_optimistic_dml(spark: SparkSession, sf_dir: str):
    """OPTIMISTIC PARTITION-DISJOINT DML (writer._cow_dml's optimistic
    schedule, round 12 — VERDICT r11 #1): a DELETE, an UPDATE, and a MERGE each
    run their probe/rewrite Spark jobs OUTSIDE the commit claim
    (staging + validate, Delta's ConcurrentDeleteRead) and the
    read-back must equal the bucket arithmetic exactly:

    v0 append views (ts = JAN+b min), v1 optimistic-append clicks
    (ts = JAN+(100+b) min), v2 optimistic DELETE odd-cent rows,
    v3 optimistic UPDATE price*3 on the click rows, v4 optimistic
    MERGE of purchases at the click timestamps (matched ->
    t.price + s.price, unmatched -> insert)."""
    import shutil
    import tempfile

    from dl_datalake_spark.lake.paths import DatasetKey
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    ev = load_table(spark, sf_dir, "events")
    key = DatasetKey("SIM", "SPOT", "ODMLQ", "ticks", "1m")
    tmp = tempfile.mkdtemp(prefix="dl_odml_lake_")
    try:
        w = LakeWriter(spark, tmp)
        w.write_ticks(_ticks(_bucket_cents(ev, "view"), 0), key, mode="append")
        w.write_ticks(
            _ticks(_bucket_cents(ev, "click"), 100), key,
            mode="append", optimistic=True,
        )
        w.delete_where(
            key, "CAST(ABS(price) AS BIGINT) % 2 = 1", optimistic=True
        )
        w.update_where(
            key, {"price": "price * 3"}, f"ts >= {_JAN + 100 * 60000}",
            optimistic=True,
        )
        w.merge_into(
            key,
            _ticks(_bucket_cents(ev, "purchase"), 100),
            on="ts",
            when_matched_update={"price": "t.price + s.price"},
            when_not_matched_insert=True,
            optimistic=True,
        )
        log = w.commit_log(key)
        by_mode = {
            e["mode"]: e for e in log.history() if e.get("optimistic")
        }
        assert {"append", "delete", "update", "merge"} <= set(by_mode)
        assert all(
            "files_add" in e and "files_remove" in e or "files" in e
            for e in by_mode.values()
        )
        rows = [
            (int(r["ts"]), int(r["price"]))
            for r in LakeReader(spark, tmp).read_dataset(key)
            .select("ts", "price").collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "ts long, price_cents long")


@register(
    "events_compact_partitions",
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
def events_compact_partitions(spark: SparkSession, sf_dir: str):
    """OPTIMISTIC COMPACTION (writer.compact_partitions, round 12):
    three appends fragment one month into >= 3 files; the compaction
    rewrites them into ONE token-named file per month with its Spark
    job outside the claim, commits `partitions: []` (byte-identical
    rows — CDC consumers skip) plus `rewrite_partitions` for the
    optimistic validators, and the read-back equals the three-way
    bucket arithmetic exactly — nothing lost, doubled, or resurrected
    (deletion-vector debt would be materialized here too)."""
    import shutil
    import tempfile

    from dl_datalake_spark.lake.paths import DatasetKey
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.snapshot import partition_of, resolve_live_files
    from dl_datalake_spark.lake.writer import LakeWriter

    ev = load_table(spark, sf_dir, "events")
    key = DatasetKey("SIM", "SPOT", "CPQ", "ticks", "1m")
    tmp = tempfile.mkdtemp(prefix="dl_cpart_lake_")
    try:
        w = LakeWriter(spark, tmp)
        for et, off in (("view", 0), ("click", 100), ("purchase", 200)):
            w.write_ticks(_ticks(_bucket_cents(ev, et), off), key, mode="append")
        ds = w.dataset_path(key)
        assert len(resolve_live_files(w.fs, ds)) >= 3
        res = w.compact_partitions(key, target_files_per_partition=1)
        assert res.partitions == [[2023, 1]]
        live = resolve_live_files(w.fs, ds)
        assert len(live) == 1 and partition_of(live[0]) == (2023, 1)
        e = w.commit_log(key).committed_entry(w.commit_log(key).latest_version())
        assert e["mode"] == "compact" and e["partitions"] == []
        assert e["rewrite_partitions"] == [[2023, 1]] and e.get("optimistic")
        rows = [
            (int(r["ts"]), int(r["price"]))
            for r in LakeReader(spark, tmp).read_dataset(key)
            .select("ts", "price").collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "ts long, price_cents long")


@register(
    "events_sql_write",
    sql=f"""
WITH v AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'view' GROUP BY 1),
k AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'click' GROUP BY 1)
SELECT CAST({_JAN} + b * 60000 AS BIGINT) AS ts,
       2 * c AS price_cents FROM v
UNION ALL
SELECT CAST({_JAN} + (100 + b) * 60000 AS BIGINT), c
FROM k WHERE ABS(c) % 4 <> 3
""",
)
def events_sql_write(spark: SparkSession, sf_dir: str):
    """SQL WRITE SURFACE (lake/sql_catalog.py, round 12 — VERDICT r11
    #2): CTAS creates the dataset, INSERT INTO appends, UPDATE and
    DELETE route through the writer verbs (contract/CDF/commit-log
    gated identically to DataFrame writes), and the final SQL read of
    the same `lake.<t>` name must equal the bucket arithmetic:
    views doubled by the UPDATE, clicks minus the DELETE's
    abs(cents) % 4 = 3 rows."""
    import shutil
    import tempfile

    from dl_datalake_spark.client import DataLakeClient

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="dl_sqlw_lake_")
    try:
        c = DataLakeClient(spark, f"{tmp}/lake")
        _ticks(_bucket_cents(ev, "view"), 0).createOrReplaceTempView(
            "__sqlw_views"
        )
        _ticks(_bucket_cents(ev, "click"), 100).createOrReplaceTempView(
            "__sqlw_clicks"
        )
        c.sql(
            "CREATE TABLE lake.`SIM/SPOT/SQLQ/ticks/1m` AS "
            "SELECT ts, price FROM __sqlw_views"
        )
        c.sql(
            "INSERT INTO lake.sim_sqlq_ticks_1m (ts, price) "
            "SELECT ts, price FROM __sqlw_clicks"
        )
        c.sql(
            f"UPDATE lake.sim_sqlq_ticks_1m SET price = price * 2 "
            f"WHERE ts < {_JAN + 100 * 60000}"
        )
        c.sql(
            "DELETE FROM lake.sim_sqlq_ticks_1m "
            "WHERE CAST(ABS(price) AS BIGINT) % 4 = 3 "
            f"AND ts >= {_JAN + 100 * 60000}"
        )
        rows = [
            (int(r["ts"]), int(r["price_cents"]))
            for r in c.sql(
                "SELECT ts, CAST(price AS BIGINT) AS price_cents "
                "FROM lake.sim_sqlq_ticks_1m"
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "ts long, price_cents long")


@register(
    "events_partition_evolution",
    sql=f"""
WITH v AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'view' GROUP BY 1),
k AS (
  SELECT user_id % 16 AS b, {_CENTS_SQL} AS c
  FROM events WHERE event_type = 'click' GROUP BY 1)
SELECT CAST({_JAN} + b * 60000 AS BIGINT) AS ts,
       c AS price_cents, 1 AS day, c AS v0_cents
FROM v
UNION ALL
SELECT CAST({_JAN} + 86400000 + b * 60000 AS BIGINT) AS ts,
       c AS price_cents, 2 AS day, CAST(NULL AS BIGINT) AS v0_cents
FROM k
ORDER BY ts
""",
)
def events_partition_evolution(spark: SparkSession, sf_dir: str):
    """PARTITION-SPEC EVOLUTION (writer.set_partition_spec +
    lake/spec.py, round 12 — Iceberg's spec-epoch mechanic; the
    reference hard-codes one <symbol>/<year>/<month> layout forever,
    dl-datalake storage/writer.py:21-46): a monthly dataset evolves to
    daily in ONE metadata commit (zero bytes rewritten), a
    post-evolution append lands under year=/month=/day=, the MIXED tree
    scans as one frame with `day` DERIVED from ts on pre-evolution
    files (so the day column is exact on both epochs), compaction
    migrates the old files to the head spec, and `VERSION AS OF 0`
    still serves the pure-monthly snapshot.  The head read's values,
    the derived/laid-out `day`, and the v0 join must all hash-match the
    bucket arithmetic in SQL."""
    import shutil
    import tempfile

    from dl_datalake_spark.lake.paths import DatasetKey
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.snapshot import resolve_live_files
    from dl_datalake_spark.lake.spec import sig_of
    from dl_datalake_spark.lake.writer import LakeWriter

    ev = load_table(spark, sf_dir, "events")
    key = DatasetKey("SIM", "SPOT", "PEVO", "ticks", "1m")
    tmp = tempfile.mkdtemp(prefix="dl_pevo_lake_")
    try:
        w = LakeWriter(spark, tmp)
        w.write_ticks(_ticks(_bucket_cents(ev, "view"), 0), key, mode="append")
        w.set_partition_spec(key, "daily")                    # v1: metadata only
        w.write_ticks(                                        # v2: daily layout
            _ticks(_bucket_cents(ev, "click"), 1440), key, mode="append"
        )
        r = LakeReader(spark, tmp)
        # the MIXED tree serves `day` on every row before migration
        mixed = {
            (int(x["ts"]), int(x["day"]))
            for x in r.read_dataset(key).select("ts", "day").collect()
        }
        w.compact_partitions(key, min_files=1)                # v3: migrate
        live = resolve_live_files(w.fs, w.dataset_path(key))
        if {sig_of(rel) for rel in live} != {("year", "month", "day")}:
            raise AssertionError("compaction did not migrate the spec")
        head = r.read_dataset(key).select("ts", "price", "day")
        if {(int(x["ts"]), int(x["day"])) for x in head.select("ts", "day").collect()} != mixed:
            raise AssertionError("mixed-epoch derived day != migrated day")
        v0 = r.read_dataset_at(key, 0).select(
            "ts", F.col("price").alias("p0")
        )
        got = (
            head.join(v0, "ts", "left")
            .orderBy("ts")
            .collect()
        )
        rows = [
            (
                int(x["ts"]),
                int(x["price"]),
                int(x["day"]),
                None if x["p0"] is None else int(x["p0"]),
            )
            for x in got
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "ts long, price_cents long, day int, v0_cents long"
    )


@register(
    "events_sql_merge",
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
SELECT CAST({_JAN} + v.b * 60000 AS BIGINT) AS ts,
       v.c + k.c AS price_cents
FROM v JOIN k ON v.b = k.b WHERE ABS(k.c) % 2 = 1
UNION ALL
SELECT CAST({_JAN} + v.b * 60000 AS BIGINT), v.c
FROM v LEFT JOIN k ON v.b = k.b WHERE k.b IS NULL
UNION ALL
SELECT CAST({_JAN} + (100 + p.b) * 60000 AS BIGINT), p.c
FROM p WHERE ABS(p.c) % 3 <> 0
""",
)
def events_sql_merge(spark: SparkSession, sf_dir: str):
    """SQL MERGE INTO (lake/sql_catalog.py `_route_merge`, round 12):
    one statement deletes matched rows with even click-cents, updates
    the rest to view+click cents, and conditionally inserts the
    purchase rows — routed through `LakeWriter.merge_into`, so the SQL
    path gets the identical contract gate, CDF rows, and month-pruned
    rewrite as the DataFrame verb, and the read-back must equal the
    three-way bucket arithmetic."""
    import shutil
    import tempfile

    from dl_datalake_spark.client import DataLakeClient

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="dl_sqlm_lake_")
    try:
        c = DataLakeClient(spark, f"{tmp}/lake")
        _ticks(_bucket_cents(ev, "view"), 0).createOrReplaceTempView(
            "__sqlm_views"
        )
        _ticks(_bucket_cents(ev, "click"), 0).unionByName(
            _ticks(_bucket_cents(ev, "purchase"), 100)
        ).createOrReplaceTempView("__sqlm_src")
        c.sql(
            "CREATE TABLE lake.`SIM/SPOT/SQLM/ticks/1m` AS "
            "SELECT ts, price FROM __sqlm_views"
        )
        c.sql(
            "MERGE INTO lake.sim_sqlm_ticks_1m tgt "
            "USING (SELECT ts, price FROM __sqlm_src) AS src "
            "ON tgt.ts = src.ts "
            "WHEN MATCHED AND CAST(ABS(src.price) AS BIGINT) % 2 = 0 "
            "THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET price = tgt.price + src.price "
            f"WHEN NOT MATCHED AND src.ts >= {_JAN + 100 * 60000} "
            "AND CAST(ABS(src.price) AS BIGINT) % 3 <> 0 THEN INSERT *"
        )
        rows = [
            (int(r["ts"]), int(r["price_cents"]))
            for r in c.sql(
                "SELECT ts, CAST(price AS BIGINT) AS price_cents "
                "FROM lake.sim_sqlm_ticks_1m"
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "ts long, price_cents long")
