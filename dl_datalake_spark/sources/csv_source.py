"""CSV ingest with the reference's header-fallback semantics.

Reference: `ingest/pipeline.py:33-118` — read CSV; if the expected
OHLCV columns are absent but there are exactly 6 columns, assume
headerless OHLCV order and rename; otherwise reject. Ticks variant
requires `ts` plus arbitrary extra columns (pass-through).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OHLCV_COLS = ["ts", "open", "high", "low", "close", "volume"]


class CsvIngestError(ValueError):
    pass


def read_ohlcv_csv(spark: SparkSession, path: str) -> DataFrame:
    """OHLCV CSV in the canonical schema: epoch-ms long `ts` plus
    double prices and volume (the CCXT ingest schema,
    exchange_connector.py:323-327).

    The fields are read as strings and cast straight to those types,
    so the read costs one Spark job (the header line), not the two of
    a schema-inference pass whose types the casts would replace
    anyway.  ts goes through decimal(38,6), so `1000`, `1000.0` and
    `1.7e12` all load; a malformed value still raises under ANSI.
    Columns beyond OHLCV keep inferred types: only then is inference
    paid for."""
    df = spark.read.csv(path, header=True)
    if set(OHLCV_COLS) <= set(df.columns):
        out = df
        if len(df.columns) > len(OHLCV_COLS):
            out = spark.read.csv(path, header=True, inferSchema=True)
    elif len(df.columns) == 6:
        # headerless file: first row was consumed as a header — re-read
        # without header and apply the canonical schema
        out = spark.read.csv(path, header=False).toDF(*OHLCV_COLS)
    else:
        raise CsvIngestError(
            f"CSV must contain columns {OHLCV_COLS} or be headerless with exactly 6 columns; "
            f"got {df.columns}"
        )
    return out.withColumns(
        {
            "ts": F.col("ts").cast("decimal(38,6)").cast("long"),
            **{c: F.col(c).cast("double") for c in OHLCV_COLS[1:]},
        }
    )


def read_ticks_csv(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.csv(path, header=True, inferSchema=True)
    if "ts" not in df.columns:
        raise CsvIngestError(f"ticks CSV must contain a 'ts' column; got {df.columns}")
    return df.withColumn("ts", F.col("ts").cast("long"))


def read_ohlcv_csv_quarantine(
    spark: SparkSession, path: str, quarantine_path: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Permissive OHLCV CSV read splitting good rows from bad.

    Returns (good, bad): `good` is canonical-typed OHLCV; `bad` holds
    rows any of whose fields failed the numeric cast or whose ts is
    null, with the raw field values preserved in `_corrupt_record`. If
    `quarantine_path` is given, bad rows are also written there as
    parquet — the standard lakehouse pattern: one malformed row
    quarantines, it doesn't abort a 10 TB backfill (the reference
    rejects the whole file, pipeline.py:55-65).

    The split deliberately avoids the CSV parser's PERMISSIVE
    `_corrupt_record`: that column is only populated when the malformed
    field is part of the projected columns, so under column pruning a
    count over the bad side silently loses rows unless the parse is
    cached — a correctness-vs-memory trap. Reading every field as a
    string and casting in a projection makes the good/bad predicate a
    pure deterministic expression: prune-safe, cache-free, and
    identical on recomputation.
    """
    cols = ("open", "high", "low", "close", "volume")
    str_schema = "ts string, " + ", ".join(f"{c} string" for c in cols)
    raw = spark.read.schema(str_schema).csv(path, header=True)

    def nz(c):  # empty CSV field ≡ absent, not a cast failure
        return F.nullif(F.col(c), F.lit(""))

    # try_cast: malformed → null (plain cast throws under ANSI mode)
    casted = raw.select(
        "*",
        nz("ts").try_cast("long").alias("_c_ts"),
        *[nz(c).try_cast("double").alias(f"_c_{c}") for c in cols],
    )
    fail = F.col("_c_ts").isNull()  # unusable: every write/merge keys on ts
    for c in cols:
        fail = fail | (F.col(f"_c_{c}").isNull() & nz(c).isNotNull())
    raw_line = F.concat_ws(
        ",", *[F.coalesce(F.col(c), F.lit("")) for c in ("ts", *cols)]
    )
    typed = [F.col("_c_ts").alias("ts")] + [F.col(f"_c_{c}").alias(c) for c in cols]
    bad = casted.where(fail).select(*typed, raw_line.alias("_corrupt_record"))
    good = casted.where(~fail).select(*typed)
    if quarantine_path is not None:
        bad.write.mode("append").parquet(quarantine_path)
    return good, bad


def read_ohlcv_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines OHLCV ingest (one object per line). Same canonical
    typing as the CSV path; extra fields pass through untouched (the
    reference's writer never projects — data_loading_info.md:50-56)."""
    df = spark.read.json(path)
    missing = [c for c in OHLCV_COLS if c not in df.columns]
    if missing:
        raise CsvIngestError(f"JSON OHLCV ingest missing columns {missing}; got {df.columns}")
    out = df.withColumn("ts", F.col("ts").cast("long"))
    for c in OHLCV_COLS[1:]:
        out = out.withColumn(c, F.col(c).cast("double"))
    return out
