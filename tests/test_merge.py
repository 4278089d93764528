"""General MERGE INTO (writer.merge_into): WHEN MATCHED UPDATE /
WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT, strictly wider than the
keep-last upsert.  Contract to match is Delta's MERGE (including the
duplicate-source-match error)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
T0 = 1672574400000


@pytest.fixture()
def lake(tmp_path, spark):
    base = str(tmp_path / "base")
    w = LakeWriter(spark, base, emit_cdf=True)
    return w, LakeReader(spark, base), base


def _ticks(spark, pairs):
    return spark.createDataFrame(
        [(T0 + i * 60000, float(p)) for i, p in pairs], "ts long, price double"
    )


def test_merge_update_delete_insert(lake, spark):
    w, r, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10), (1, 20), (2, 30), (3, 40)]), KEY)
    src = _ticks(spark, [(1, 99), (2, 0), (9, 55)])  # update, delete, insert
    res = w.merge_into(
        KEY,
        src,
        when_matched_update={"price": "s.price"},
        when_matched_delete="s.price = 0",
        when_not_matched_insert=True,
    )
    assert res.rows == 3
    got = {x["ts"]: x["price"] for x in r.read_dataset(KEY).collect()}
    assert got == {
        T0: 10.0,            # untouched
        T0 + 60000: 99.0,    # updated from source
        T0 + 9 * 60000: 55.0,  # inserted
        T0 + 3 * 60000: 40.0,  # untouched
    }
    # per-action counts in the commit record
    hist = r.dataset_history(KEY)[-1]
    assert (hist["merge_updated"], hist["merge_deleted"], hist["merge_inserted"]) == (1, 1, 1)


def test_merge_star_update_equals_upsert(lake, spark):
    w, r, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10), (1, 20)]), KEY)
    src = _ticks(spark, [(1, 21), (2, 30)])
    w.merge_into(KEY, src, when_matched_update="*", when_not_matched_insert=True)
    got = {x["ts"]: x["price"] for x in r.read_dataset(KEY).collect()}
    assert got == {T0: 10.0, T0 + 60000: 21.0, T0 + 2 * 60000: 30.0}


def test_merge_expressions_see_both_sides(lake, spark):
    w, r, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10), (1, 20)]), KEY)
    src = _ticks(spark, [(0, 5), (1, 7)])
    w.merge_into(
        KEY,
        src,
        when_matched_update={"price": "t.price + s.price"},
        when_not_matched_insert=False,
    )
    got = {x["ts"]: x["price"] for x in r.read_dataset(KEY).collect()}
    assert got == {T0: 15.0, T0 + 60000: 27.0}


def test_merge_conditional_insert(lake, spark):
    w, r, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10)]), KEY)
    src = _ticks(spark, [(5, 1), (6, 100)])
    res = w.merge_into(KEY, src, when_not_matched_insert="s.price > 50")
    assert res.rows == 1
    got = {x["ts"]: x["price"] for x in r.read_dataset(KEY).collect()}
    assert got == {T0: 10.0, T0 + 6 * 60000: 100.0}


def test_merge_duplicate_source_keys_raise(lake, spark):
    w, _, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10)]), KEY)
    src = _ticks(spark, [(0, 1), (0, 2)])
    with pytest.raises(ValueError, match="multiple rows"):
        w.merge_into(KEY, src, when_matched_update="*")


def test_merge_into_empty_dataset_inserts(lake, spark):
    w, r, _ = lake
    src = _ticks(spark, [(0, 10), (1, 20)])
    res = w.merge_into(KEY, src, when_not_matched_insert=True)
    assert res.rows == 2
    assert r.read_dataset(KEY).count() == 2


def test_merge_no_effect_commits_nothing(lake, spark):
    w, r, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10)]), KEY)
    # matched rows with no update clause, no delete, no insertable rows
    res = w.merge_into(KEY, _ticks(spark, [(0, 99)]), when_not_matched_insert=False)
    assert res.rows == 0
    assert CommitLog(w.dataset_path(KEY), fs=w.fs).latest_version() == 0
    assert r.read_dataset(KEY).collect()[0]["price"] == 10.0


def test_merge_refuses_key_assignment(lake, spark):
    w, _, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10)]), KEY)
    with pytest.raises(ValueError, match="key/partition"):
        w.merge_into(KEY, _ticks(spark, [(0, 1)]), when_matched_update={"ts": "s.ts + 1"})


def test_merge_cdf_actions(lake, spark):
    w, r, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10), (1, 20), (2, 30)]), KEY)
    src = _ticks(spark, [(1, 99), (2, 0), (9, 55)])
    w.merge_into(
        KEY,
        src,
        when_matched_update={"price": "s.price"},
        when_matched_delete="s.price = 0",
        when_not_matched_insert=True,
    )
    feed, latest = r.read_change_feed(KEY, after_version=0)
    assert latest == 1
    rows = sorted(
        (x["ts"], x["_change_type"], x["price"]) for x in feed.collect()
    )
    assert rows == [
        (T0 + 60000, "update_postimage", 99.0),
        (T0 + 2 * 60000, "delete", 30.0),
        (T0 + 9 * 60000, "insert", 55.0),
    ]
    # CDC sees the commit as delete-bearing
    assert r.changes_since(KEY, after_version=0).has_delete


def test_merge_respects_deletion_vectors(lake, spark):
    w, r, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10), (1, 20), (2, 30)]), KEY)
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")
    # a merge matching the DV-deleted ts must treat it as NOT matched
    res = w.merge_into(
        KEY,
        _ticks(spark, [(0, 77)]),
        when_matched_update={"price": "s.price * 1000"},
        when_not_matched_insert=True,
    )
    assert res.rows == 1
    got = {x["ts"]: x["price"] for x in r.read_dataset(KEY).collect()}
    assert got == {T0: 77.0, T0 + 60000: 20.0, T0 + 2 * 60000: 30.0}
    # the month rewrite retired the DV ref
    assert CommitLog(w.dataset_path(KEY), fs=w.fs).dv_at(None) == {}


def test_merge_requires_ts_key(lake, spark):
    w, _, _ = lake
    w.write_ticks(_ticks(spark, [(0, 10)]), KEY)
    with pytest.raises(ValueError, match="requires 'ts'"):
        w.merge_into(KEY, _ticks(spark, [(0, 1)]), on="price")


def test_merge_empty_target_with_s_condition(lake, spark):
    """Review regression: an s.-qualified insert condition must work
    when the target dataset does not exist yet."""
    w, r, _ = lake
    res = w.merge_into(
        KEY, _ticks(spark, [(0, 10), (1, 100)]),
        when_not_matched_insert="s.price > 50",
    )
    assert res.rows == 1
    assert r.read_dataset(KEY).collect()[0]["price"] == 100.0


def test_full_scan_merge_keeps_a_null_ts_row(lake, spark):
    w, r, _ = lake
    w.write_ticks(
        spark.createDataFrame(
            [(T0, 1.0, 1), (None, 2.0, 1)], "ts long, price double, k int"
        ),
        KEY,
        mode="append",
    )
    src = spark.createDataFrame([(T0 + 60000, 5.0, 2)], "ts long, price double, k int")
    res = w.merge_into(
        KEY, src, on="k", when_matched_update={"price": "s.price"},
        when_not_matched_insert=True, full_scan=True,
    )
    assert res.rows == 1 and res.partitions == [[2023, 1]]
    got = sorted(
        (x["ts"] is None, x["price"]) for x in r.read_dataset(KEY).collect()
    )
    assert got == [(False, 1.0), (False, 5.0), (True, 2.0)]
