"""Small reads run as one Spark job: `read_range` sorts a planned input
under `spark.sql.files.openCostInBytes` in one task instead of a global
range sort, the point-lookup bucket id starts no job, and every commit
that adds data files records the `file_bytes` the reader sizes from."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("SIM", "SPOT", "SMALL", "raw", "1m")
JAN1 = 1672531200000  # 2023-01-01T00:00:00Z
DAY = 86_400_000
HOUR = 3_600_000


def _jobs_in(spark, fn):
    """Spark jobs `fn` starts, counted per job group through the status
    tracker after the listener bus drains."""
    sc = spark.sparkContext
    group = f"small-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _hours(spark, start, n, seed=0):
    """`n` hourly rows from `start`: unique ts, so the ts order is total."""
    return spark.range(n).select(
        (F.lit(start) + F.col("id") * HOUR).cast("long").alias("ts"),
        F.rand(seed).alias("close"),
    )


def _sort_plan(df) -> str:
    """"single" for coalesce(1) + sortWithinPartitions, "global" for
    orderBy — read off the analyzed plan's top two nodes."""
    top, nxt = df._jdf.queryExecution().analyzed().toString().splitlines()[:2]
    if top.startswith("Sort ") and top.endswith(", true"):
        return "global"
    assert top.startswith("Sort ") and top.endswith(", false"), top
    assert "Repartition 1, false" in nxt, nxt
    return "single"


def _read_all(reader, start="2023-01-01", end="2023-06-30"):
    return reader.read_range("SIM", "SMALL", start_date=start, end_date=end)


def _rows(df):
    return [(r["ts"], r["close"]) for r in df.collect()]


def _strip_file_bytes(log, version):
    p = f"{log.log_dir}/{version:020d}.json"
    e = json.loads(open(p).read())
    assert e.pop("file_bytes", None)
    open(p, "w").write(json.dumps(e))


def test_both_plans_return_the_same_rows_in_the_same_order(tmp_path, spark):
    """Four months, a deletion vector on some files and a second
    partition-spec epoch: the one-task plan under the open cost and the
    global sort over it return identical row lists."""
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    w.write_ohlc(_hours(spark, JAN1, 24 * 120, seed=1), KEY, mode="append")
    w.delete_where(KEY, F.col("close") < 0.2, strategy="dv")
    w.set_partition_spec(KEY, "daily")
    w.write_ohlc(_hours(spark, JAN1 + 100 * DAY + HOUR // 4, 48, seed=3), KEY,
                 mode="append")
    reader = LakeReader(spark, base)
    assert w.commit_log(KEY).dv_at(None)  # the DV is live

    small = _read_all(reader)
    assert _sort_plan(small) == "single"
    got = _rows(small)
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        big = _read_all(reader)
        assert _sort_plan(big) == "global"
        want = _rows(big)
    finally:
        spark.conf.set(key, old)
    assert got == want
    ts = [t for t, _ in got]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert 2000 < len(got) < 24 * 120 + 48  # the DV removed rows


def test_unknown_sizes_keep_the_global_sort(tmp_path, spark):
    """A planned file without a recorded size, and a legacy dataset (no
    commit log, directory scan), keep orderBy — and still sort."""
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    w.write_ohlc(_hours(spark, JAN1, 24 * 20, seed=1), KEY, mode="append")
    w.write_ohlc(_hours(spark, JAN1 + HOUR // 2, 24 * 20, seed=2), KEY, mode="append")
    reader = LakeReader(spark, base)
    assert _sort_plan(_read_all(reader)) == "single"
    want = sorted(_rows(_read_all(reader)))

    log = w.commit_log(KEY)
    _strip_file_bytes(log, 1)
    unsized = _read_all(reader)
    assert _sort_plan(unsized) == "global"
    assert _rows(unsized) == want
    shutil.rmtree(log.log_dir)  # legacy: no pinned listing at all
    legacy = _read_all(reader)
    assert _sort_plan(legacy) == "global"
    assert _rows(legacy) == want


def test_one_day_read_is_one_spark_job(tmp_path, spark):
    """Three appends into one month; a one-day read plans one file and
    runs as exactly one job, planning included."""
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    for k in range(3):
        w.write_ohlc(_hours(spark, JAN1 + k * 10 * DAY, 24 * 10, seed=k), KEY,
                     mode="append")
    reader = LakeReader(spark, base)
    out = []

    def _read():
        df = reader.read_range("SIM", "SMALL", start_date="2023-01-15",
                               end_date="2023-01-15T23:59:59")
        out.extend(df.collect())

    assert _jobs_in(spark, _read) == 1
    assert [r["ts"] for r in out] == [JAN1 + 14 * DAY + h * HOUR for h in range(24)]


def test_point_read_is_one_spark_job(tmp_path, spark):
    """A `point=` read on a `bucket_by` dataset: the bucket id starts no
    job, so the whole read is the one scan job."""
    base = str(tmp_path / "lake")
    key = DatasetKey("SIM", "SPOT", "PTS", "ticks", "1m")
    w = LakeWriter(spark, base, bucket_by={"user_id": 8})
    w.write_ticks(
        spark.range(2000).select(
            (F.lit(JAN1) + F.col("id") * 1000).cast("long").alias("ts"),
            (F.col("id") % 97).cast("long").alias("user_id"),
        ),
        key,
    )
    reader = LakeReader(spark, base)  # fresh: the bucket id is not memoized
    out = []
    assert _jobs_in(
        spark, lambda: out.extend(reader.read_dataset(key, point={"user_id": 42}).collect())
    ) == 1
    assert len(out) == len(range(42, 2000, 97)) and {r["user_id"] for r in out} == {42}


@pytest.mark.parametrize(
    "value, dtype",
    [(42, "bigint"), (-7, "bigint"), (123456, "int"), ("abc", "string"),
     (1.5, "double"), (None, "bigint")],
)
def test_bucket_of_matches_the_range_job_and_starts_no_job(tmp_path, spark, value, dtype):
    nb = 16
    row = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(value).cast(dtype)), F.lit(nb)).alias("b"))
        .first()
    )
    want = None if row["b"] is None else int(row["b"])
    reader = LakeReader(spark, str(tmp_path / "lake"))
    got = []
    assert _jobs_in(spark, lambda: got.append(reader._bucket_of(value, nb, dtype))) == 0
    assert got == [want]


def test_every_data_adding_commit_records_file_bytes(tmp_path, spark):
    """write_ohlc_multi, the DV update, alter_column_type, recluster and
    compact record `file_bytes` for every file they add, equal to the
    file's size on disk."""
    from dl_datalake_spark.lake.maintenance import compact, recluster

    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    batch = _hours(spark, JAN1, 24 * 40).select(
        F.when(F.col("ts") % (2 * HOUR) == 0, "AAA").otherwise("BBB").alias("symbol"),
        "ts", "close",
    )
    w.write_ohlc_multi(batch, "SIM", mode="append")
    key = DatasetKey("SIM", "SPOT", "AAA", "raw", "1m")
    w.update_where(key, {"close": F.col("close") + 1}, F.col("close") < 0.3,
                   strategy="dv")
    w.alter_column_type(key, "close", "string")
    recluster(spark, w.dataset_path(key), ["close"], fs=w.fs)
    log = w.commit_log(key)
    prev: set[str] = set()
    modes = []
    for e in log.history():
        if "files" in e:
            cur = set(e["files"])
        else:
            cur = (prev - set(e.get("files_remove") or [])) | set(e.get("files_add") or [])
        added = cur - prev
        assert added, e["mode"]
        assert added <= set(e.get("file_bytes") or {}), e["mode"]
        modes.append(e["mode"])
        prev = cur
    assert modes == ["append", "update-dv", "alter-type", "recluster"]
    compact(spark, base, in_place=True, fs=w.fs)
    for k in (key, DatasetKey("SIM", "SPOT", "BBB", "raw", "1m")):
        log = w.commit_log(k)
        live = log.latest_files()
        sizes = log.file_facts()[1]
        assert log.history()[-1]["mode"] == "compact"
        assert {rel: sizes[rel] for rel in live} == {
            rel: os.path.getsize(f"{w.dataset_path(k)}/{rel}") for rel in live
        }
