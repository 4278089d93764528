"""A commit's facts come from the files it wrote (`snapshot.footer_facts`,
`LakeWriter._stage_facts`): its row count, [t0, t1] and touched months
equal one grouped aggregate (`LakeWriter._month_facts`) over the same
rows, for every layout a write can take.  A footer without a ts range
falls back to that aggregate over the added files, and the append and
upsert verbs start only the Spark jobs their data needs."""

from __future__ import annotations

import uuid

import pytest

from dl_datalake_spark.lake import snapshot
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.snapshot import added_file_stats, footer_facts
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("SIM", "SPOT", "FACTS", "ticks", "1m")
T0 = 1672574400000  # 2023-01-01T12:00Z
DAY = 86_400_000
SCHEMA = "ts long, price double"
NULL_DIR = "year=__HIVE_DEFAULT_PARTITION__/month=__HIVE_DEFAULT_PARTITION__"


def _jobs_in(spark, fn):
    """Spark jobs `fn` starts, counted per job group through the status
    tracker after the listener bus drains."""
    sc = spark.sparkContext
    group = f"facts-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark, ts_list, col="price", parts=3):
    """Rows at `ts_list`, spread over `parts` tasks so that each month
    gets several files."""
    rows = [(t, float(i)) for i, t in enumerate(ts_list)]
    return spark.createDataFrame(rows, f"ts long, {col} double").repartition(parts)


def _write(w, df, verb):
    if verb == "optimistic":
        return w.write_ticks(df, KEY, mode="append", optimistic=True)
    return w.write_ticks(df, KEY, mode=verb)


def _aggregate_over_added(w, spark, before):
    """(added files, `_month_facts` over exactly the rows they hold)."""
    ds = w.dataset_path(KEY)
    added = sorted(set(w.commit_log(KEY).latest_files()) - set(before))
    if not added:
        return added, ({"t0": None, "t1": None, "n": 0}, {})
    rows = spark.read.option("basePath", ds).parquet(*[f"{ds}/{f}" for f in added])
    return added, LakeWriter._month_facts(rows, "ts")


def _assert_recorded(w, res, want):
    stats, pcounts = want
    parts = [list(p) for p in sorted(pcounts)]
    assert (res.rows, res.time_from, res.time_to, res.partitions) == (
        stats["n"], stats["t0"], stats["t1"], parts,
    )
    if stats["n"]:
        log = w.commit_log(KEY)
        e = log.committed_entry(log.latest_version())
        assert (e["rows"], e["time_from"], e["time_to"], e["partitions"]) == (
            stats["n"], stats["t0"], stats["t1"], parts,
        )


# 20 weekly rows: five months, several files in each
WEEKS = [T0 + i * 7 * DAY for i in range(20)]


@pytest.mark.parametrize("verb", ["append", "optimistic", "upsert"])
@pytest.mark.parametrize(
    "shape", ["many_months", "null_ts", "daily_spec", "empty", "column_mapped"]
)
def test_footer_facts_equal_the_aggregate(tmp_path, spark, shape, verb):
    w = LakeWriter(spark, str(tmp_path / "lake"))
    # the dataset exists first: the optimistic path needs a contract
    w.write_ticks(spark.createDataFrame([(T0 - DAY, 0.0)], SCHEMA), KEY, mode="append")
    col = "price"
    ts_list = WEEKS
    if shape == "daily_spec":
        w.set_partition_spec(KEY, "daily")
        ts_list = [T0 + i * 9 * DAY for i in range(8)]  # 8 days in 3 months
    elif shape == "column_mapped":
        w.rename_column(KEY, "price", "px")
        col = "px"
    elif shape == "empty":
        ts_list = []
    if shape == "null_ts":
        rows = [(t, float(i)) for i, t in enumerate(WEEKS)] + [(None, 1.0), (None, 2.0)]
        df = spark.createDataFrame(rows, SCHEMA).repartition(3)
    else:
        df = _frame(spark, ts_list, col)
    before = w.commit_log(KEY).latest_files()
    res = _write(w, df, verb)

    added, want = _aggregate_over_added(w, spark, before)
    ds = w.dataset_path(KEY)
    ts, _, nrows = added_file_stats(w.fs, {ds: added}, "ts", with_rows=True)
    assert footer_facts(added, nrows.get(ds, {}), ts.get(ds, {})) == want
    _assert_recorded(w, res, want)
    if verb != "upsert":
        # an append writes every batch row: same facts as the source
        assert want == LakeWriter._month_facts(w._partitioned(df, KEY, "ts"), "ts")
    if shape == "many_months":
        assert len(want[1]) == 5
        if verb != "upsert":  # the upsert's merge shuffle may coalesce
            assert len(added) > len(want[1])
    if shape == "daily_spec":
        assert len(want[1]) == 3 and all("/day=" in f for f in added)
    if shape == "null_ts":
        assert any(f.startswith(NULL_DIR) for f in added)
        # every null-ts batch row lands, upsert included: a null key
        # matches nothing, so keep-last never collapses them
        assert want[0]["n"] == sum(want[1].values()) + 2


@pytest.mark.parametrize("verb", ["append", "optimistic", "delete"])
def test_missing_footer_range_falls_back_to_the_aggregate(
    tmp_path, spark, monkeypatch, verb
):
    w = LakeWriter(spark, str(tmp_path / "lake"))
    w.write_ticks(_frame(spark, WEEKS), KEY, mode="append")
    real = snapshot._column_range

    def no_ts_range(md, j):
        return None if md.schema.column(j).path == "ts" else real(md, j)

    monkeypatch.setattr(snapshot, "_column_range", no_ts_range)
    before = w.commit_log(KEY).latest_files()
    if verb == "delete":
        from pyspark.sql import functions as F

        cow = {}
        real_cow = LakeWriter._cow_dml

        def spy(self, *a, **kw):
            cow["res"] = real_cow(self, *a, **kw)
            return cow["res"]

        monkeypatch.setattr(LakeWriter, "_cow_dml", spy)
        w.delete_where(KEY, F.col("price") < 3)
        added, want = _aggregate_over_added(w, spark, before)
        # a delete's rows count what it removed; the range is the
        # post-image's, from the aggregate over the rewritten files
        assert cow["res"].rows == 3 and want[0]["n"] == 2
        assert (cow["res"].time_from, cow["res"].time_to) == (
            want[0]["t0"], want[0]["t1"],
        )
        return
    res = _write(w, _frame(spark, [t + DAY for t in WEEKS]), verb)
    added, want = _aggregate_over_added(w, spark, before)
    assert want[0]["n"] == 20 and len(want[1]) == 5
    _assert_recorded(w, res, want)


def test_a_file_without_a_stat_cannot_narrow_the_range():
    a, b = "year=2023/month=1/a.parquet", "year=2023/month=2/b.parquet"
    null = f"{NULL_DIR}/c.parquet"
    rows = {a: 5, b: 4, null: 3}
    got = footer_facts([a, b, null], rows, {a: [10, 20], b: [30, 40]})
    # a null-ts file counts toward n but touches no month
    assert got == ({"t0": 10, "t1": 40, "n": 12}, {(2023, 1): 5, (2023, 2): 4})
    # a dated file with rows and no range: no facts, never a narrower guess
    assert footer_facts([a, b], rows, {a: [10, 20]}) is None
    # an empty dated file carries no range and needs none
    assert footer_facts([a, b], {a: 5, b: 0}, {a: [10, 20]}) == (
        {"t0": 10, "t1": 20, "n": 5}, {(2023, 1): 5},
    )


def test_appends_and_upsert_start_only_their_data_jobs(tmp_path, spark):
    w = LakeWriter(spark, str(tmp_path / "lake"))
    w.write_ticks(spark.createDataFrame([(t, 0.0) for t in WEEKS], SCHEMA), KEY, mode="append")
    later = [t + DAY for t in WEEKS]
    assert _jobs_in(spark, lambda: w.write_ticks(
        spark.createDataFrame([(t, 1.0) for t in later], SCHEMA), KEY, mode="append"
    )) == 1
    assert _jobs_in(spark, lambda: w.write_ticks(
        spark.createDataFrame([(t + DAY, 1.0) for t in later], SCHEMA), KEY,
        mode="append", optimistic=True,
    )) == 1
    assert _jobs_in(spark, lambda: w.write_ticks(
        spark.createDataFrame([(t, 2.0) for t in later], SCHEMA), KEY, mode="upsert"
    )) <= 4
    n = w.commit_log(KEY).committed_entry(w.commit_log(KEY).latest_version())["rows"]
    # the upsert's record counts the merged months' rows, old and new
    assert n == 60
