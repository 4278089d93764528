"""Merge-on-read deletion vectors (lake/dv.py).

`delete_where(strategy="dv")` must behave row-for-row like the
copy-on-write strategy — reads, time travel, CDF, restore, CDC flags —
while rewriting NO data file.  These tests pin both halves: the
semantics (no resurrection through upserts/CoW deletes/compaction/
recluster, exact time travel, exact CDF) and the mechanics (listing
unchanged, sidecars written, refs retired by rewrites, vacuum ages
superseded sidecars from their supersession time and never touches
the head map's live state).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.snapshot import list_data_files, resolve_live_files
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "raw", "1m")
T0 = 1672574400000  # 2023-01-01T12:00:00Z
MONTH = 32 * 86400000  # > 1 month in ms: lands rows in distinct partitions


@pytest.fixture()
def lake(tmp_path, spark):
    base = str(tmp_path / "base")
    w = LakeWriter(spark, base, emit_cdf=True)
    return w, LakeReader(spark, base), base


def _candles(spark, n, start=T0, step=60000, price=1.0):
    rows = [
        (start + i * step, price, price + 1, price - 0.5, price + 0.5, 10.0)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "ts long, open double, high double, low double, close double, volume double",
    )


def _ds_path(writer):
    return writer.dataset_path(KEY)


def test_dv_delete_changes_rows_not_files(lake, spark):
    w, r, base = lake
    w.write_ohlc(_candles(spark, 20), KEY)  # v0
    ds = _ds_path(w)
    files_before = list_data_files(w.fs, ds)
    live_before = resolve_live_files(w.fs, ds)

    res = w.delete_where(
        KEY, F.col("ts") >= T0 + 15 * 60000, strategy="dv"
    )  # v1: drop 5
    assert res.rows == 5

    # no data file added, removed, or rewritten — only a hidden sidecar
    assert list_data_files(w.fs, ds) == files_before
    assert resolve_live_files(w.fs, ds) == live_before
    log = CommitLog(ds, fs=w.fs)
    dv_map = log.dv_at(None)
    assert dv_map and all(d.startswith("_dv/") for d in dv_map.values())

    got = r.read_dataset(KEY)
    assert got.count() == 15
    assert got.agg(F.max("ts")).collect()[0][0] == T0 + 14 * 60000
    # read_range path too (ts-bounded scan applies the same DVs)
    assert r.read_range("BINANCE", "BTC_USDT", period="1m").count() == 15


def test_dv_null_predicate_rows_survive(lake, spark):
    import dataclasses

    w, r, _ = lake
    tkey = dataclasses.replace(KEY, data_type="ticks")
    df = spark.createDataFrame(
        [(T0, 1.0), (T0 + 60000, None), (T0 + 120000, 9.0)],
        "ts long, price double",
    )
    w.write_ticks(df, tkey)
    res = w.delete_where(tkey, F.col("price") > 5.0, strategy="dv")
    assert res.rows == 1
    left = r.read_dataset(tkey)
    # NULL-predicate row kept, like SQL DELETE
    assert sorted(x["ts"] for x in left.select("ts").collect()) == [T0, T0 + 60000]


def test_dv_second_delete_merges_positions(lake, spark):
    w, r, _ = lake
    # an append keeps the frame's ts-contiguous slices, so the two
    # deleted rows share a file (an upsert's keep-last shuffle may split
    # them)
    w.write_ohlc(_candles(spark, 10), KEY, mode="append")
    assert w.delete_where(KEY, F.col("ts") == T0, strategy="dv").rows == 1
    assert w.delete_where(KEY, F.col("ts") == T0 + 60000, strategy="dv").rows == 1
    # re-deleting already-deleted rows matches nothing (no double count)
    assert w.delete_where(KEY, F.col("ts") <= T0 + 60000, strategy="dv").rows == 0
    got = r.read_dataset(KEY)
    assert got.count() == 8
    assert got.agg(F.min("ts")).collect()[0][0] == T0 + 2 * 60000
    # one sidecar ref per file (the second delete superseded the first)
    ds = _ds_path(w)
    dv_map = CommitLog(ds, fs=w.fs).dv_at(None)
    assert len(set(dv_map.values())) == 1


def test_dv_time_travel(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)                                # v0
    w.delete_where(KEY, F.col("ts") >= T0 + 8 * 60000, strategy="dv")     # v1
    w.delete_where(KEY, F.col("ts") >= T0 + 5 * 60000, strategy="dv")     # v2
    assert r.read_dataset_at(KEY, 0).count() == 10
    assert r.read_dataset_at(KEY, 1).count() == 8
    assert r.read_dataset_at(KEY, 2).count() == 5
    assert r.read_dataset(KEY).count() == 5


def test_dv_carry_forward_through_append(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)                                # v0
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")                 # v1
    # append in a DIFFERENT month: the old month's files are untouched,
    # so its DV ref must survive the commit
    w.write_ohlc(_candles(spark, 3, start=T0 + MONTH), KEY)               # v2
    got = r.read_dataset(KEY)
    assert got.count() == 12
    assert got.where(F.col("ts") == T0).count() == 0
    dv_map = CommitLog(_ds_path(w), fs=w.fs).dv_at(None)
    assert len(dv_map) == 1


def test_dv_upsert_rewrite_materializes_and_retires(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)                                # v0
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")                 # v1
    # upsert into the SAME month rewrites it: the deleted row must not
    # resurrect, and the refs for the replaced files must retire
    w.write_ohlc(_candles(spark, 2, start=T0 + 8 * 60000, price=9.0), KEY)  # v2
    got = r.read_dataset(KEY)
    assert got.count() == 9
    assert got.where(F.col("ts") == T0).count() == 0
    assert got.where(F.col("open") == 9.0).count() == 2
    assert CommitLog(_ds_path(w), fs=w.fs).dv_at(None) == {}
    # ... but time travel to the DV commit still applies the sidecar
    assert r.read_dataset_at(KEY, 1).count() == 9
    assert r.read_dataset_at(KEY, 1).where(F.col("open") == 9.0).count() == 0


def test_dv_multi_upsert_keeps_deleted_rows_deleted(spark, tmp_path):
    """The multi upsert's read-back of a touched month goes through the
    dataset's deletion vectors, like the single-dataset upsert's."""
    base = str(tmp_path / "base")
    w, r = LakeWriter(spark, base), LakeReader(spark, base)
    k = DatasetKey("BINANCE", "SPOT", "DVM", "raw", "1m")
    w.write_ohlc_multi(_candles(spark, 3).withColumn("symbol", F.lit("DVM")), "binance")
    w.delete_where(k, F.col("ts") == T0, strategy="dv")
    assert r.read_dataset(k).count() == 2
    new = _candles(spark, 1, start=T0 + 10 * 60000, price=9.0)
    w.write_ohlc_multi(new.withColumn("symbol", F.lit("DVM")), "binance")
    got = r.read_dataset(k)
    assert got.count() == 3
    assert got.where(F.col("ts") == T0).count() == 0


def test_dv_then_cow_delete_no_resurrection(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")
    w.delete_where(KEY, F.col("ts") == T0 + 60000)  # CoW rewrite, same month
    got = r.read_dataset(KEY)
    assert got.count() == 8
    assert CommitLog(_ds_path(w), fs=w.fs).dv_at(None) == {}


def test_dv_cdf_delete_preimages(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)                                # v0
    w.delete_where(KEY, F.col("ts") >= T0 + 8 * 60000, strategy="dv")     # v1
    feed, latest = r.read_change_feed(KEY, after_version=0)
    assert latest == 1
    rows = feed.select("ts", "_change_type").collect()
    assert sorted((x["ts"], x["_change_type"]) for x in rows) == [
        (T0 + 8 * 60000, "delete"),
        (T0 + 9 * 60000, "delete"),
    ]
    # partition-granularity CDC sees the touched month and the delete flag
    cs = r.changes_since(KEY, after_version=0)
    assert cs.has_delete and cs.touched == [(2023, 1)]


def test_dv_restore_brings_rows_back(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)                                # v0
    w.delete_where(KEY, F.col("ts") >= T0 + 5 * 60000, strategy="dv")     # v1
    w.restore_dataset(KEY, 0)                                             # v2
    assert r.read_dataset(KEY).count() == 10
    assert CommitLog(_ds_path(w), fs=w.fs).dv_at(None) == {}
    # and restoring forward to the DV state re-pins the sidecar map
    w.restore_dataset(KEY, 1)                                             # v3
    assert r.read_dataset(KEY).count() == 5
    assert len(CommitLog(_ds_path(w), fs=w.fs).dv_at(None)) >= 1
    # the restore emitted a synthetic CDF diff for the DV-only change
    feed, _ = r.read_change_feed(KEY, after_version=2)
    assert feed.where(F.col("_change_type") == "delete").count() == 5


def test_dv_recluster_materializes(lake, spark):
    from dl_datalake_spark.lake.maintenance import recluster

    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    w.delete_where(KEY, F.col("ts") >= T0 + 7 * 60000, strategy="dv")
    recluster(spark, _ds_path(w), cols=["close"], fs=w.fs)
    assert r.read_dataset(KEY).count() == 7
    assert CommitLog(_ds_path(w), fs=w.fs).dv_at(None) == {}


def test_dv_compact_materializes(lake, spark):
    from dl_datalake_spark.lake.maintenance import compact

    w, r, base = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    w.delete_where(KEY, F.col("ts") >= T0 + 7 * 60000, strategy="dv")
    out = compact(spark, base, fs=w.fs)
    got = LakeReader(spark, out).read_dataset(KEY)
    assert got.count() == 7
    ds_rel = _ds_path(w)[len(base.rstrip("/")) + 1 :]
    assert CommitLog(f"{out}/{ds_rel}", fs=w.fs).dv_at(None) == {}


def test_dv_vacuum_reclaims_orphans_keeps_referenced(lake, spark):
    from dl_datalake_spark.lake.maintenance import vacuum_tombstones

    w, r, base = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")
    ds = _ds_path(w)
    dv_map = CommitLog(ds, fs=w.fs).dv_at(None)
    referenced = set(dv_map.values())
    # plant an orphan sidecar (aborted transaction's leftovers)
    orphan = f"{ds}/_dv/dv-orphan"
    w.fs.makedirs(orphan)
    w.fs.write_bytes_atomic(f"{orphan}/part-0.parquet", b"xx")

    rep = vacuum_tombstones(spark, base, retention_s=0.0, dry_run=False, fs=w.fs)
    assert any("dv-orphan" in p for p in rep["removed"])
    for d in referenced:
        assert w.fs.exists(f"{ds}/{d}")
    # the dataset still reads correctly after the sweep
    assert r.read_dataset(KEY).count() == 9


def test_dv_vacuum_reclaims_after_refs_retire(lake, spark):
    from dl_datalake_spark.lake.maintenance import vacuum_tombstones

    w, r, base = lake
    w.write_ohlc(_candles(spark, 10), KEY)                                # v0
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")                 # v1
    # a CoW rewrite retires the ref; prune the DV commit out of history,
    # then vacuum reclaims the now-unreferenced sidecar
    w.delete_where(KEY, F.col("ts") == T0 + 60000)                        # v2
    log = CommitLog(_ds_path(w), fs=w.fs)
    dv_rel = list(log.dv_at(1).values())[0]
    log.prune(keep_last=1)
    vacuum_tombstones(spark, base, retention_s=0.0, dry_run=False, fs=w.fs)
    assert not w.fs.exists(f"{_ds_path(w)}/{dv_rel}")


def test_read_datasets_hides_dv_deleted_rows(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 30), KEY)
    w.delete_where(KEY, F.col("ts") >= T0 + 20 * 60000, strategy="dv")
    got = r.read_datasets([KEY])[KEY.symbol]
    assert got.count() == 20 == r.read_dataset(KEY).count()


def test_dv_missing_sidecar_raises_on_time_travel(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)                                # v0
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")                 # v1
    ds = _ds_path(w)
    dv_rel = list(CommitLog(ds, fs=w.fs).dv_at(None).values())[0]
    w.fs.rmtree(f"{ds}/{dv_rel}")
    with pytest.raises(ValueError, match="deletion-vector"):
        r.read_dataset_at(KEY, 1)


def test_dv_requires_pinned_snapshot(lake, spark, tmp_path):
    w, _, _ = lake
    # a legacy directory (no commit log) cannot anchor row positions
    legacy = _ds_path(w)
    _candles(spark, 3).withColumn("year", F.lit(2023)).withColumn(
        "month", F.lit(1)
    ).write.partitionBy("year", "month").parquet(legacy)
    with pytest.raises(ValueError, match="pinned"):
        w.delete_where(KEY, F.col("ts") == T0, strategy="dv")


def test_dv_delete_range_strategy_passthrough(lake, spark):
    w, r, _ = lake
    w.write_ohlc(_candles(spark, 10), KEY)
    ds = _ds_path(w)
    files_before = list_data_files(w.fs, ds)
    res = w.delete_range(KEY, T0, T0 + 2 * 60000, strategy="dv")
    assert res.rows == 3
    assert list_data_files(w.fs, ds) == files_before
    assert r.read_dataset(KEY).count() == 7


def test_dv_superseded_sidecar_ages_out(lake, spark):
    """Review regression: a sidecar superseded by a later DV delete is
    a tombstone aging from its supersession time — it reclaims past
    the horizon even while old retained commits still reference it
    (the data-file contract), and time travel to those commits then
    raises loudly."""
    from dl_datalake_spark.lake.maintenance import vacuum_tombstones

    w, r, base = lake
    # append: both deleted rows in one file (see the test above)
    w.write_ohlc(_candles(spark, 10), KEY, mode="append")               # v0
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")               # v1
    w.delete_where(KEY, F.col("ts") == T0 + 60000, strategy="dv")       # v2
    log = CommitLog(_ds_path(w), fs=w.fs)
    old_dv = list(log.dv_at(1).values())[0]
    head_dv = list(log.dv_at(None).values())[0]
    assert old_dv != head_dv
    vacuum_tombstones(spark, base, retention_s=0.0, dry_run=False, fs=w.fs)
    assert not w.fs.exists(f"{_ds_path(w)}/{old_dv}")   # superseded: reclaimed
    assert w.fs.exists(f"{_ds_path(w)}/{head_dv}")      # live state: kept
    assert r.read_dataset(KEY).count() == 8
    with pytest.raises(ValueError, match="deletion-vector"):
        r.read_dataset_at(KEY, 1)


def test_dv_two_writers_compose_maps(lake, spark, tmp_path):
    """Two independent LakeWriter instances (separate processes in
    production) DV-delete different rows: the commit-log serialization
    makes the second writer's probe see the first's sidecar, and the
    final map holds the union of both deletions."""
    w1, r, base = lake
    w1.write_ohlc(_candles(spark, 10), KEY)
    w2 = LakeWriter(spark, base)  # fresh instance, no shared state
    assert w1.delete_where(KEY, F.col("ts") == T0, strategy="dv").rows == 1
    assert w2.delete_where(KEY, F.col("ts") == T0 + 60000, strategy="dv").rows == 1
    # w1 again: must NOT re-match w2's deleted row
    assert w1.delete_where(KEY, F.col("ts") <= T0 + 2 * 60000, strategy="dv").rows == 1
    got = r.read_dataset(KEY)
    assert got.count() == 7
    assert got.agg(F.min("ts")).collect()[0][0] == T0 + 3 * 60000


def test_delete_where_multi_atomic_purge(lake, spark):
    """GDPR purge across datasets as ONE multi-commit epoch: both
    datasets lose the matched rows, the shared txid replays a
    consistent cut, and a no-match dataset commits a noop (the epoch
    stays atomic)."""
    import dataclasses

    w, r, base = lake
    k1 = dataclasses.replace(KEY, symbol="AAA_USD", data_type="ticks")
    k2 = dataclasses.replace(KEY, symbol="BBB_USD", data_type="ticks")
    k3 = dataclasses.replace(KEY, symbol="CCC_USD", data_type="ticks")
    df1 = spark.createDataFrame(
        [(T0 + i * 60000, float(i)) for i in range(6)], "ts long, price double"
    )
    df2 = spark.createDataFrame(
        [(T0 + i * 60000, float(i) + 3) for i in range(6)], "ts long, price double"
    )
    df3 = spark.createDataFrame(
        [(T0, 1.0)], "ts long, price double"
    )
    w.write_ticks(df1, k1)
    w.write_ticks(df2, k2)
    w.write_ticks(df3, k3)

    out = w.delete_where_multi([k1, k2, k3], F.col("price") >= 5.0)
    rows = {rel.split("symbol=")[1].split("/")[0]: res.rows for rel, res in out.items()}
    assert rows == {"AAA_USD": 1, "BBB_USD": 4, "CCC_USD": 0}
    txids = {res.txid for res in out.values()}
    assert len(txids) == 1
    assert r.read_dataset(k1).count() == 5
    assert r.read_dataset(k2).count() == 2
    assert r.read_dataset(k3).count() == 1
    # the purge is one consistent epoch: replaying its txid serves the
    # post-purge state of EVERY dataset
    got = r.read_datasets_at([k1, k2, k3], next(iter(txids)))
    assert got["AAA_USD"].count() == 5
    assert got["BBB_USD"].count() == 2
    assert got["CCC_USD"].count() == 1
    # no data file was rewritten anywhere (merge-on-read everywhere)
    for k in (k1, k2):
        dv_map = CommitLog(w.dataset_path(k), fs=w.fs).dv_at(None)
        assert dv_map
