"""Row-level UPDATE (writer.update_where): copy-on-write and the
merge-on-read deletion-vector strategy (DV old copies + append
post-images).  The reference has no row-level update at all; the
contract to match is Delta's UPDATE (including ts reassignment moving
rows across partitions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.snapshot import list_data_files
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "raw", "1m")
T0 = 1672574400000
MONTH = 32 * 86400000


@pytest.fixture()
def lake(tmp_path, spark):
    base = str(tmp_path / "base")
    w = LakeWriter(spark, base, emit_cdf=True)
    return w, LakeReader(spark, base), base


def _candles(spark, n, start=T0, price=1.0):
    rows = [
        (start + i * 60000, price, price + 1, price - 0.5, price + 0.5, 10.0)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "ts long, open double, high double, low double, close double, volume double",
    )


@pytest.mark.parametrize("strategy", ["rewrite", "dv"])
def test_update_transforms_matched_rows_only(lake, spark, strategy):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    res = w.update_where(
        KEY,
        {"close": F.col("close") + 100.0, "volume": "volume * 2"},
        F.col("ts") >= T0 + 7 * 60000,
        strategy=strategy,
    )
    assert res.rows == 3
    got = r.read_dataset(KEY)
    assert got.count() == 10
    assert got.where(F.col("close") > 100).count() == 3
    assert got.where(F.col("volume") == 20.0).count() == 3
    # untouched rows verbatim
    assert got.where((F.col("ts") < T0 + 7 * 60000) & (F.col("close") < 100)).count() == 7


def test_update_null_predicate_rows_kept(lake, spark):
    import dataclasses

    w, r, _ = lake
    tkey = dataclasses.replace(KEY, data_type="ticks")
    df = spark.createDataFrame(
        [(T0, 1.0), (T0 + 60000, None), (T0 + 120000, 9.0)],
        "ts long, price double",
    )
    w.write_ticks(df, tkey)
    res = w.update_where(tkey, {"price": F.lit(0.0)}, F.col("price") > 5.0)
    assert res.rows == 1
    got = {x["ts"]: x["price"] for x in r.read_dataset(tkey).collect()}
    assert got[T0] == 1.0 and got[T0 + 60000] is None and got[T0 + 120000] == 0.0


def test_update_dv_appends_without_rewrite(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    ds = w.dataset_path(KEY)
    files_v0 = set(list_data_files(w.fs, ds))
    w.update_where(
        KEY, {"close": F.lit(999.0)}, F.col("ts") == T0, strategy="dv"
    )
    # old files untouched on disk; only new post-image files + sidecar
    after = set(f for f in list_data_files(w.fs, ds))
    assert files_v0 <= after
    dv_map = CommitLog(ds, fs=w.fs).dv_at(None)
    assert len(dv_map) == 1
    got = r.read_dataset(KEY)
    assert got.count() == 10
    assert got.where(F.col("close") == 999.0).count() == 1
    # time travel: pre-update snapshot intact
    assert r.read_dataset_at(KEY, 0).where(F.col("close") == 999.0).count() == 0


@pytest.mark.parametrize("strategy", ["rewrite", "dv"])
def test_update_moves_ts_across_months(lake, spark, strategy):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    res = w.update_where(
        KEY,
        {"ts": F.col("ts") + MONTH},
        F.col("ts") >= T0 + 8 * 60000,
        strategy=strategy,
    )
    assert res.rows == 2
    got = r.read_dataset(KEY)
    assert got.count() == 10
    assert got.where(F.col("ts") >= T0 + MONTH).count() == 2
    # the moved rows live in a February partition now
    assert got.where((F.col("month") == 2) | (F.col("year") != 2023)).count() == 2
    # CDC flags the commit delete-aware (rows left their old bucket)
    cs = r.changes_since(KEY, after_version=0)
    assert cs.has_delete
    assert (2023, 2) in cs.touched and (2023, 1) in cs.touched


def test_update_cdf_postimages_and_move_preimages(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 6), KEY)
    w.update_where(KEY, {"close": F.lit(7.0)}, F.col("ts") == T0)          # v1
    w.update_where(
        KEY, {"ts": F.col("ts") + MONTH}, F.col("ts") == T0 + 60000, strategy="dv"
    )                                                                       # v2
    feed, latest = r.read_change_feed(KEY, after_version=0)
    assert latest == 2
    v1 = feed.where(F.col("commit_version") == 1).collect()
    assert [(x["ts"], x["_change_type"]) for x in v1] == [(T0, "update_postimage")]
    v2 = sorted(
        (x["ts"], x["_change_type"])
        for x in feed.where(F.col("commit_version") == 2).collect()
    )
    assert v2 == [(T0 + 60000, "delete"), (T0 + 60000 + MONTH, "update_postimage")]


@pytest.mark.parametrize("strategy", ["rewrite", "dv"])
def test_update_no_match_commits_nothing(lake, spark, strategy):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 5), KEY)
    res = w.update_where(
        KEY, {"close": F.lit(0.0)}, F.col("ts") > T0 + 10 * 60000, strategy=strategy
    )
    assert res.rows == 0
    ds = w.dataset_path(KEY)
    assert CommitLog(ds, fs=w.fs).latest_version() == 0


def _with_null_ts(spark):
    """Five January candles (close 0, 20, .., 80) and one row with a
    null ts (close 99), which lands in the null partition."""
    rows = [(T0 + i * 60000, 1.0, 2.0, 0.5, 20.0 * i, 10.0) for i in range(5)]
    rows.append((None, 1.0, 2.0, 0.5, 99.0, 10.0))
    return spark.createDataFrame(
        rows,
        "ts long, open double, high double, low double, close double, volume double",
    )


@pytest.mark.parametrize("strategy", ["rewrite", "dv"])
def test_delete_matching_a_null_ts_row(lake, spark, strategy):
    w, r, _ = lake
    w.write_ohlc(_with_null_ts(spark), KEY, mode="append")
    res = w.delete_where(KEY, "close > 50", strategy=strategy)
    assert res.rows == 3 and res.partitions == [[2023, 1]]
    got = r.read_dataset(KEY)
    assert sorted(x["close"] for x in got.collect()) == [0.0, 20.0, 40.0]
    # the null partition is addressed, never recorded
    log = CommitLog(w.dataset_path(KEY), fs=w.fs)
    assert log.committed_entry(1)["partitions"] == [[2023, 1]]
    assert r.changes_since(KEY, 0).touched == [(2023, 1)]


@pytest.mark.parametrize("strategy", ["rewrite", "dv"])
def test_update_matching_a_null_ts_row(lake, spark, strategy):
    w, r, _ = lake
    w.write_ohlc(_with_null_ts(spark), KEY, mode="append")
    res = w.update_where(KEY, {"close": F.lit(0.0)}, "close > 50", strategy=strategy)
    assert res.rows == 3 and res.partitions == [[2023, 1]]
    got = r.read_dataset(KEY).collect()
    assert len(got) == 6
    assert sorted(x["close"] for x in got) == [0.0, 0.0, 0.0, 0.0, 20.0, 40.0]
    assert [x["close"] for x in got if x["ts"] is None] == [0.0]
    log = CommitLog(w.dataset_path(KEY), fs=w.fs)
    assert log.committed_entry(1)["partitions"] == [[2023, 1]]


def test_update_refuses_partition_identity_columns(lake, spark):
    w, _, _ = lake
    w.write_ohlc(_candles(spark, 5), KEY)
    with pytest.raises(ValueError, match="partition-identity"):
        w.update_where(KEY, {"symbol": F.lit("X")}, F.col("ts") == T0)
    with pytest.raises(ValueError, match="partition-identity"):
        w.update_where(KEY, {"month": F.lit(5)}, F.col("ts") == T0)


def test_update_dv_then_upsert_no_resurrection(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    w.update_where(KEY, {"close": F.lit(50.0)}, F.col("ts") == T0, strategy="dv")
    # upsert rewrites the month: the OLD pre-update copy must not come
    # back, the post-image must survive, refs must retire
    w.write_ohlc(_candles(spark, 1, start=T0 + 60000, price=9.0), KEY)
    got = r.read_dataset(KEY)
    assert got.count() == 10
    assert got.where(F.col("ts") == T0).select("close").first()[0] == 50.0
    assert CommitLog(w.dataset_path(KEY), fs=w.fs).dv_at(None) == {}


def test_update_dv_on_dv_deleted_rows_skips_them(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")
    # a broad update must not resurrect or count the deleted row
    res = w.update_where(
        KEY, {"close": F.lit(42.0)}, F.col("ts") <= T0 + 60000, strategy="dv"
    )
    assert res.rows == 1
    got = r.read_dataset(KEY)
    assert got.count() == 9
    assert got.where(F.col("ts") == T0).count() == 0
    assert got.where(F.col("close") == 42.0).count() == 1


@pytest.mark.parametrize("strategy", ["rewrite", "dv"])
def test_update_cdf_survives_self_falsifying_predicate(lake, spark, strategy):
    """Review regression: SET close = 0 WHERE close > 1 — the
    assignment falsifies its own predicate, but the postimages must
    still reach the feed (they were matched on the PRE-update rows)."""
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 5), KEY)  # close = 1.5 everywhere
    res = w.update_where(KEY, {"close": F.lit(0.0)}, F.col("close") > 1.0, strategy=strategy)
    assert res.rows == 5
    feed, _ = r.read_change_feed(KEY, after_version=0)
    rows = feed.where(F.col("_change_type") == "update_postimage").collect()
    assert len(rows) == 5 and all(x["close"] == 0.0 for x in rows)
