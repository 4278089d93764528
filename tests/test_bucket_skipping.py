"""Point-lookup file skipping via hash buckets (writer `bucket_by` +
reader `point=`): the equality complement of the min/max skip index —
Hive bucketing re-expressed on the commit index, pruning files BEFORE
any parquet footer RPC."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("SIM", "SPOT", "BKT", "ticks", "1m")
T0 = 1672574400000
NB = 8


@pytest.fixture()
def lake(tmp_path, spark):
    base = str(tmp_path / "base")
    w = LakeWriter(spark, base, bucket_by={"user_id": NB})
    return w, LakeReader(spark, base), base


def _rows(spark, n=2000, start=T0):
    return spark.range(n).select(
        (F.lit(start) + F.col("id") * 1000).cast("long").alias("ts"),
        (F.col("id") % 97).cast("long").alias("user_id"),
        (F.col("id").cast("double") / 7).alias("value"),
    )


def test_point_lookup_prunes_files_and_stays_exact(lake, spark):
    w, r, _ = lake
    w.write_ticks(_rows(spark), KEY)
    full = r.read_dataset(KEY)
    n_files_full = len(full.inputFiles())
    assert n_files_full >= NB - 2  # the bucket layout fanned out the month

    pt = r.read_dataset(KEY, point={"user_id": 42})
    n_files_pt = len(pt.inputFiles())
    # one bucket's worth of files plans, the rest prune
    assert n_files_pt <= max(2, n_files_full // 3)
    # exactness: identical to the unpruned residual filter
    expect = full.where(F.col("user_id") == 42).count()
    assert pt.count() == expect > 0
    # a value that exists nowhere still returns an exact empty result
    assert r.read_dataset(KEY, point={"user_id": 40404}).count() == 0


def test_bucket_index_recorded_in_commit(lake, spark):
    w, r, _ = lake
    w.write_ticks(_rows(spark), KEY)
    bi = CommitLog(w.dataset_path(KEY), fs=w.fs).bucket_index()
    assert "user_id" in bi
    nb, dtype = bi["user_id"]["spec"]
    assert nb == NB and dtype == "bigint"
    # every live file carries a set; sets are tight (hash layout)
    sizes = [len(v) for v in bi["user_id"]["files"].values()]
    assert sizes and max(sizes) <= NB


def test_unbucketed_commits_stay_sound(lake, spark, tmp_path):
    w, r, base = lake
    w.write_ticks(_rows(spark), KEY)
    # a second writer WITHOUT bucket_by appends more rows for user 42
    plain = LakeWriter(spark, base)
    extra = spark.createDataFrame(
        [(T0 + 10_000_000, 42, 1.0)], "ts long, user_id long, value double"
    )
    plain.write_ticks(extra, KEY, mode="append")
    pt = r.read_dataset(KEY, point={"user_id": 42})
    # the unbucketed file has no recorded set -> always kept -> exact
    full = r.read_dataset(KEY).where(F.col("user_id") == 42).count()
    assert pt.count() == full
    assert any("month=" in f for f in pt.inputFiles())


def test_upsert_rewrite_keeps_lookup_exact(lake, spark):
    w, r, _ = lake
    w.write_ticks(_rows(spark), KEY)
    # upsert rewrites the month through the SAME bucketed writer: the
    # rewritten files get fresh bucket sets in the new commit
    w.write_ticks(_rows(spark, n=100), KEY, mode="upsert")
    pt = r.read_dataset(KEY, point={"user_id": 42})
    full = r.read_dataset(KEY).where(F.col("user_id") == 42).count()
    assert pt.count() == full > 0
    assert len(pt.inputFiles()) < len(r.read_dataset(KEY).inputFiles())


def test_spec_change_resets_index(lake, spark, tmp_path):
    w, r, base = lake
    w.write_ticks(_rows(spark), KEY)
    # re-bucket with a DIFFERENT n: old sets live in another bucket
    # space and must not prune anything
    w2 = LakeWriter(spark, base, bucket_by={"user_id": 5})
    w2.write_ticks(_rows(spark, n=300, start=T0 + 50_000_000), KEY, mode="append")
    bi = CommitLog(w.dataset_path(KEY), fs=w.fs).bucket_index()
    assert bi["user_id"]["spec"][0] == 5
    # only the NEW commit's files carry sets now
    new_files = set(bi["user_id"]["files"])
    pt = r.read_dataset(KEY, point={"user_id": 42})
    full = r.read_dataset(KEY).where(F.col("user_id") == 42).count()
    assert pt.count() == full > 0
    # old files (no longer indexed) all stay in the plan
    planned = {f.rsplit("/", 3)[-3] + "/" + f.rsplit("/", 2)[-2] + "/" + f.rsplit("/", 1)[-1] for f in pt.inputFiles()}
    old_planned = [f for f in planned if f not in new_files]
    assert old_planned


def test_bucket_by_rejects_cluster_by_combo(tmp_path, spark):
    with pytest.raises(ValueError, match="mutually exclusive"):
        LakeWriter(
            spark, str(tmp_path / "b"), bucket_by={"a": 4}, cluster_by=["b"]
        )
    with pytest.raises(ValueError, match="n_buckets"):
        LakeWriter(spark, str(tmp_path / "c"), bucket_by={"a": 1})


def _claimed_dml(verb, w, spark):
    if verb == "delete":
        return w.delete_where(KEY, "value < 10", optimistic=False)
    if verb == "update":
        return w.update_where(
            KEY, {"value": "value + 1000"}, "user_id = 3", optimistic=False
        )
    src = spark.createDataFrame(
        [(T0 + i * 1000, 42, -1.0) for i in range(0, 600, 7)]
        + [(T0 + 10_000_000 + i, 42, 5.0) for i in range(3)],
        "ts long, user_id long, value double",
    )
    return w.merge_into(
        KEY, src, on="ts", when_matched_update="*", optimistic=False
    )


@pytest.mark.parametrize("verb", ["delete", "update", "merge"])
def test_claimed_dml_keeps_bucket_index(lake, spark, verb):
    """A claimed copy-on-write rewrite records bucket sets for every
    file it adds, so point lookups keep pruning after the DML."""
    w, r, _ = lake
    w.write_ticks(_rows(spark), KEY)
    log = CommitLog(w.dataset_path(KEY), fs=w.fs)
    before = set(log.latest_files())
    assert _claimed_dml(verb, w, spark).rows > 0
    live = set(log.latest_files())
    added = live - before
    assert added
    e = log.committed_entry(log.latest_version())
    assert added <= set(e["file_buckets"]["user_id"])

    full = r.read_dataset(KEY)
    pt = r.read_dataset(KEY, point={"user_id": 42})
    assert len(pt.inputFiles()) < len(full.inputFiles()) == len(live)
    cols = ["ts", "user_id", "value"]
    expect = sorted(full.where(F.col("user_id") == 42).select(*cols).collect())
    assert sorted(pt.select(*cols).collect()) == expect
    assert expect
