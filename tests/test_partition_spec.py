"""Partition-spec evolution (VERDICT r11 #7, lake/spec.py): Iceberg's
spec-epoch mechanic on the commit log — `set_partition_spec` changes a
dataset's time-granularity layout (monthly <-> daily) in ONE metadata
commit with zero bytes rewritten; scans group the pinned listing by
Hive signature and union the epochs; rewrites target the head spec so
compaction doubles as the incremental migration tool.

Reference contrast: the reference hard-codes <symbol>/<year>/<month>
forever (dl-datalake/src/dl_datalake/storage/writer.py:21-46) —
changing granularity there is a manual full rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog, ConcurrentWriteConflict
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.snapshot import list_data_files, resolve_live_files
from dl_datalake_spark.lake.spec import sig_of, spec_groups
from dl_datalake_spark.lake.writer import LakeWriter

JAN1 = 1672574400000  # 2023-01-01T12:00Z
JAN2 = JAN1 + 86_400_000  # 2023-01-02T12:00Z
FEB7 = 1675771200000  # 2023-02-07T12:00Z
KEY = DatasetKey("SIM", "SPOT", "SPEC", "ticks", "1m")


def _mk(spark, rows):
    return spark.createDataFrame(rows, "ts long, price double")


def _seed(spark, base, **kw):
    """v0: ten Jan-1 rows + ten Feb-7 rows under the default monthly
    spec."""
    w = LakeWriter(spark, base, **kw)
    w.write_ticks(
        _mk(
            spark,
            [(JAN1 + i * 60000, float(i)) for i in range(10)]
            + [(FEB7 + i * 60000, 100.0 + i) for i in range(10)],
        ),
        KEY,
        mode="append",
    )
    return w


def _rows(spark, base, version=None):
    r = LakeReader(spark, base)
    df = (
        r.read_dataset(KEY)
        if version is None
        else r.read_dataset_at(KEY, version)
    )
    return sorted((x["ts"], x["price"]) for x in df.select("ts", "price").collect())


# -- the evolution commit itself -----------------------------------------


def test_set_partition_spec_is_metadata_only(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    path = w.dataset_path(KEY)
    before_files = set(list_data_files(w.fs, path))
    before_rows = _rows(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    # zero bytes rewritten: identical file set, same live pin
    assert set(list_data_files(w.fs, path)) == before_files
    assert sorted(resolve_live_files(w.fs, path)) == sorted(before_files)
    assert _rows(spark, str(tmp_path)) == before_rows
    log = w.commit_log(KEY)
    assert log.partition_spec_at(None) == ("year", "month", "day")
    # the evolution is itself a commit: time travel to v0 serves monthly
    assert log.partition_spec_at(0) == ("year", "month")
    e = log.committed_entry(log.latest_version())
    assert e["mode"] == "set-partition-spec" and e["partitions"] == []


def test_spec_idempotent_and_validated(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    v = w.commit_log(KEY).latest_version()
    w.set_partition_spec(KEY, "daily")  # no-op: no new commit
    assert w.commit_log(KEY).latest_version() == v
    with pytest.raises(ValueError, match="unknown partition spec"):
        w.set_partition_spec(KEY, "hourly")
    with pytest.raises(ValueError, match="unsupported partition spec"):
        w.set_partition_spec(KEY, ("year", "week"))


def test_spec_refuses_data_column_shadow(spark, tmp_path):
    w = LakeWriter(spark, str(tmp_path))
    w.write_ticks(
        spark.createDataFrame(
            [(JAN1, 1.0, 7)], "ts long, price double, day int"
        ),
        KEY,
        mode="append",
    )
    with pytest.raises(ValueError, match="shadow"):
        w.set_partition_spec(KEY, "daily")


def test_spec_refuses_legacy_dataset(spark, tmp_path):
    # a bare parquet tree without a commit-pinned listing cannot serve
    # mixed layouts (directory scans refuse mixed depths)
    base = str(tmp_path)
    df = _mk(spark, [(JAN1, 1.0)])
    w = LakeWriter(spark, base)
    path = w.dataset_path(KEY)
    (
        df.withColumn("year", F.lit(2023))
        .withColumn("month", F.lit(1))
        .write.partitionBy("year", "month")
        .parquet(path)
    )
    with pytest.raises(ValueError, match="legacy"):
        w.set_partition_spec(KEY, "daily")


# -- mixed-epoch scans ----------------------------------------------------


def test_mixed_tree_reads_and_day_is_exact(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(
        _mk(spark, [(JAN2 + i * 60000, 200.0 + i) for i in range(10)]),
        KEY,
        mode="append",
    )
    path = w.dataset_path(KEY)
    live = resolve_live_files(w.fs, path)
    sigs = {sig_of(rel) for rel in live}
    assert sigs == {("year", "month"), ("year", "month", "day")}
    assert len(spec_groups(live)) == 2
    r = LakeReader(spark, str(tmp_path))
    df = r.read_dataset(KEY)
    assert df.count() == 30
    # `day` is served on EVERY row: derived from ts on monthly-epoch
    # files, read from the path on daily-epoch files — and exact
    got = {
        (x["day"], x["price"]) for x in df.select("day", "price").collect()
    }
    assert all(d == 1 for d, p in got if 0 <= p < 10)
    assert all(d == 7 for d, p in got if 100 <= p < 110)
    assert all(d == 2 for d, p in got if p >= 200)
    # a day-bounded read is exact across both epochs
    jan2 = r.read_dataset(KEY, bounds={"day": (2, 2)})
    assert sorted(x["price"] for x in jan2.select("price").collect()) == [
        200.0 + i for i in range(10)
    ]


def test_time_travel_across_spec_boundary(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    v0_rows = _rows(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(_mk(spark, [(JAN2, 200.0)]), KEY, mode="append")
    w.delete_where(KEY, "price = 0")
    # v0 predates the evolution: pure monthly snapshot
    assert _rows(spark, str(tmp_path), version=0) == v0_rows
    # v2 straddles it: monthly files + a daily file, pre-delete
    assert _rows(spark, str(tmp_path), version=2) == sorted(
        v0_rows + [(JAN2, 200.0)]
    )
    assert _rows(spark, str(tmp_path)) == sorted(
        [r for r in v0_rows if r[1] != 0.0] + [(JAN2, 200.0)]
    )


def test_daily_scan_prunes_day_partition(spark, tmp_path):
    """The new spec must actually PRUNE: a day-equality read of a
    daily-epoch dataset shows the day filter in the scan's partition
    filters (100 TB point: finer layout = finer pruning)."""
    w = LakeWriter(spark, str(tmp_path))
    w.write_ticks(_mk(spark, [(JAN1, 1.0)]), KEY, mode="append")
    w.set_partition_spec(KEY, "daily")
    w.compact_partitions(KEY, min_files=1)  # migrate to daily layout
    live = resolve_live_files(w.fs, w.dataset_path(KEY))
    assert {sig_of(rel) for rel in live} == {("year", "month", "day")}
    df = LakeReader(spark, str(tmp_path)).read_dataset(KEY).where("day = 1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    assert df.count() == 1


# -- writes and rewrites target the head spec -----------------------------


def test_writes_after_evolution_land_daily(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(_mk(spark, [(JAN2, 200.0)]), KEY, mode="append")
    live = resolve_live_files(w.fs, w.dataset_path(KEY))
    new = [rel for rel in live if sig_of(rel) == ("year", "month", "day")]
    assert new and all("day=2" in rel for rel in new)


def test_optimistic_append_lands_daily(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(
        _mk(spark, [(JAN2, 200.0)]), KEY, mode="append", optimistic=True
    )
    live = resolve_live_files(w.fs, w.dataset_path(KEY))
    new = [rel for rel in live if sig_of(rel) == ("year", "month", "day")]
    assert new and all("day=2" in rel for rel in new)
    assert (JAN2, 200.0) in _rows(spark, str(tmp_path))


def test_upsert_and_dml_on_mixed_tree(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    # upsert touches a monthly-epoch month: rewrite lands daily
    w.write_ticks(
        _mk(spark, [(JAN1, 999.0), (JAN2, 200.0)]), KEY, mode="upsert"
    )
    rows = _rows(spark, str(tmp_path))
    assert (JAN1, 999.0) in rows and (JAN1, 0.0) not in rows
    assert (JAN2, 200.0) in rows and len(rows) == 21
    # update_where across epochs
    w.update_where(KEY, {"price": "price + 0.5"}, "price >= 100 AND price < 110")
    rows = _rows(spark, str(tmp_path))
    assert (FEB7, 100.5) in rows
    # delete_where across epochs
    w.delete_where(KEY, "price = 200")
    assert (JAN2, 200.0) not in _rows(spark, str(tmp_path))
    # every rewritten file is daily-layout in its rewritten months
    live = resolve_live_files(w.fs, w.dataset_path(KEY))
    assert all(
        sig_of(rel) == ("year", "month", "day")
        for rel in live
        if "year=2023/month=1" in rel
    )


def test_compaction_migrates_spec(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    before = _rows(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    res = w.compact_partitions(KEY, min_files=1)
    assert res.partitions  # both months rewritten
    live = resolve_live_files(w.fs, w.dataset_path(KEY))
    assert {sig_of(rel) for rel in live} == {("year", "month", "day")}
    assert _rows(spark, str(tmp_path)) == before


def test_downgrade_daily_to_monthly(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(_mk(spark, [(JAN2, 200.0)]), KEY, mode="append")
    before = _rows(spark, str(tmp_path))
    w.set_partition_spec(KEY, "monthly")
    res = w.compact_partitions(KEY, min_files=1)
    assert res.partitions
    live = resolve_live_files(w.fs, w.dataset_path(KEY))
    assert {sig_of(rel) for rel in live} == {("year", "month")}
    df = LakeReader(spark, str(tmp_path)).read_dataset(KEY)
    # the derived `day` ghost column did not leak into the files
    assert "day" not in df.columns
    assert _rows(spark, str(tmp_path)) == before


def test_lake_compact_migrates_spec(spark, tmp_path):
    from dl_datalake_spark.lake.maintenance import compact

    w = _seed(spark, str(tmp_path))
    before = _rows(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    compact(spark, str(tmp_path), in_place=True)
    live = resolve_live_files(w.fs, w.dataset_path(KEY))
    assert {sig_of(rel) for rel in live} == {("year", "month", "day")}
    assert _rows(spark, str(tmp_path)) == before


# -- concurrency: a spec move is a contract move ---------------------------


def test_spec_move_conflicts_inflight_optimistic_append(spark, tmp_path):
    """An optimistic append staged under the OLD layout must abort when
    a spec evolution lands between its snapshot and its claim — its
    files are in the wrong directories for the new spec."""
    w = _seed(spark, str(tmp_path))
    orig = CommitLog.latest_version
    raced = {"done": False}

    def hook(self_):
        v = orig(self_)
        if not raced["done"] and self_.dataset_path == w.dataset_path(KEY):
            raced["done"] = True
            LakeWriter(spark, str(tmp_path)).set_partition_spec(KEY, "daily")
        return v

    CommitLog.latest_version = hook
    try:
        with pytest.raises(ConcurrentWriteConflict, match="contract"):
            w.write_ticks(
                _mk(spark, [(JAN2, 200.0)]), KEY, mode="append",
                optimistic=True,
            )
    finally:
        CommitLog.latest_version = orig
    # nothing half-landed: the staged files were not committed
    assert (JAN2, 200.0) not in _rows(spark, str(tmp_path))


def test_multi_write_refuses_evolved_dataset(spark, tmp_path):
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    with pytest.raises(ValueError, match="partition spec"):
        w.write_ohlc_multi(
            _mk(spark, [(JAN2, 1.0)]).withColumn("symbol", F.lit("SPEC")),
            "SIM", market="SPOT", data_type="ticks", period="1m",
            symbol_col="symbol",
        )


def test_streaming_appends_serve_daily_files(spark, tmp_path):
    """The lake_appends stream source reads daily-epoch files (its
    reader parses year/month by segment NAME and passes finer levels
    through)."""
    from dl_datalake_spark.sources.append_source import stream_appends

    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(_mk(spark, [(JAN2, 200.0)]), KEY, mode="append")
    out: list = []

    def _collect(batch_df, _bid):
        out.extend(batch_df.collect())

    q = (
        stream_appends(spark, w.dataset_path(KEY), skip_change_commits=True)
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["ts"], r["price"]) for r in out)
    assert (JAN2, 200.0) in got and len(got) == 21


def test_data_column_named_day_survives_on_monthly_dataset(spark, tmp_path):
    """A never-evolved dataset with an ordinary DATA column named `day`
    keeps it intact through ts-moving updates, assignment, compaction,
    and recluster — `day` is only derived/forbidden under a spec that
    contains it."""
    from dl_datalake_spark.lake.maintenance import compact

    w = LakeWriter(spark, str(tmp_path))
    w.write_ticks(
        spark.createDataFrame(
            [(JAN1 + i * 60000, float(i), 90 + i) for i in range(4)],
            "ts long, price double, day int",
        ),
        KEY,
        mode="append",
    )
    # assignment of the data column is allowed (not spec-derived here)
    w.update_where(KEY, {"day": "day + 100"}, "price = 0")
    # a ts-moving update must NOT clobber the day data column
    w.update_where(KEY, {"ts": "ts + 60000", "price": "99.0"}, "price = 3")
    r = LakeReader(spark, str(tmp_path))
    got = {
        (x["price"], x["day"])
        for x in r.read_dataset(KEY).select("price", "day").collect()
    }
    assert got == {(0.0, 190), (1.0, 91), (2.0, 92), (99.0, 93)}
    # compaction keeps the data column (ghosts are judged by directory
    # signatures, never column presence)
    compact(spark, str(tmp_path), in_place=True)
    got2 = {
        (x["price"], x["day"])
        for x in r.read_dataset(KEY).select("price", "day").collect()
    }
    assert got2 == got


def test_recluster_drops_ghost_day_after_downgrade(spark, tmp_path):
    from dl_datalake_spark.lake.maintenance import recluster

    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(_mk(spark, [(JAN2, 200.0)]), KEY, mode="append")
    w.set_partition_spec(KEY, "monthly")
    before = _rows(spark, str(tmp_path))
    recluster(spark, w.dataset_path(KEY), ["price"], base_path=str(tmp_path))
    df = LakeReader(spark, str(tmp_path)).read_dataset(KEY)
    assert "day" not in df.columns
    assert _rows(spark, str(tmp_path)) == before


@pytest.mark.parametrize(
    "verb",
    [
        "dv_delete", "dv_update", "delete_where_multi", "restore_dataset",
        "read_datasets",
    ],
)
def test_snapshot_verbs_read_a_mixed_epoch_listing(spark, tmp_path, verb):
    """Every verb that reads a pinned listing serves one spanning both
    spec epochs (`spec.grouped_scan`): one partition-discovering read
    over monthly and daily files raises
    CONFLICTING_PARTITION_COLUMN_NAMES."""
    base = str(tmp_path)
    # v0, monthly; with the feed on, restore also diffs head vs target
    w = _seed(spark, base, emit_cdf=verb == "restore_dataset")
    w.set_partition_spec(KEY, "daily")  # v1
    w.write_ticks(_mk(spark, [(JAN2, 200.0)]), KEY, mode="append")  # v2
    before = _rows(spark, base)
    hit = F.col("price").isin(1.0, 200.0)  # one row of each epoch
    kept = [r for r in before if r[1] not in (1.0, 200.0)]
    if verb == "dv_delete":
        w.delete_where(KEY, hit, strategy="dv")
        want = kept
    elif verb == "dv_update":
        w.update_where(KEY, {"price": F.col("price") + 1000.0}, hit, strategy="dv")
        want = sorted(kept + [(t, p + 1000.0) for t, p in before if p in (1.0, 200.0)])
    elif verb == "delete_where_multi":
        w.delete_where_multi([KEY], hit)
        want = kept
    elif verb == "restore_dataset":
        # v3 adds a daily file to February, whose monthly file stays
        w.write_ticks(_mk(spark, [(FEB7 + 86_400_000, 7.0)]), KEY, mode="append")
        w.restore_dataset(KEY, 2)
        want = before
    else:
        want = before
    if verb == "read_datasets":
        df = LakeReader(spark, base).read_datasets([KEY])[KEY.symbol]
        got = sorted((x["ts"], x["price"]) for x in df.select("ts", "price").collect())
    else:
        got = _rows(spark, base)
    assert got == want


def test_dml_on_downgraded_mixed_tree(spark, tmp_path):
    """Row-level DML must work BETWEEN a daily->monthly downgrade and
    the compaction that migrates the old daily files: the scan serves a
    derived `day` the contract never recorded, and the gate must treat
    it as spec machinery, not an unknown column."""
    w = _seed(spark, str(tmp_path))
    w.set_partition_spec(KEY, "daily")
    w.write_ticks(_mk(spark, [(JAN2, 200.0)]), KEY, mode="append")
    w.set_partition_spec(KEY, "monthly")
    # update, merge, delete across the mixed daily/monthly tree
    w.update_where(KEY, {"price": "price + 0.5"}, "price = 200")
    w.merge_into(
        KEY,
        _mk(spark, [(JAN2, 300.0)]),
        on="ts",
        when_matched_update={"price": "s.price"},
    )
    w.delete_where(KEY, "price = 0")
    rows = _rows(spark, str(tmp_path))
    assert (JAN2, 300.0) in rows and (JAN1, 0.0) not in rows
    assert len(rows) == 20
