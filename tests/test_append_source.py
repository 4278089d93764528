"""lake_appends streaming source (sources/append_source.py): Delta's
append-file streaming semantics on the commit log — no CDF required."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.writer import LakeWriter
from dl_datalake_spark.sources.append_source import stream_appends

KEY = DatasetKey("SIM", "SPOT", "APP", "ticks", "1m")
T0 = 1672574400000
MONTH = 32 * 86400000


def _ticks(spark, n, start=T0, price=1.0):
    return spark.createDataFrame(
        [(start + i * 60000, price) for i in range(n)], "ts long, price double"
    )


def _drain(spark, ds, ckpt, name=None, rows_out=None, **kw):
    """availableNow drain into a driver-side row list via foreachBatch
    (the memory sink cannot recover from a checkpoint, which the
    resume test needs)."""
    out = rows_out if rows_out is not None else []

    def _collect(batch_df, _bid):
        out.extend(batch_df.collect())

    q = (
        stream_appends(spark, ds, **kw)
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # assert completion: awaitTermination returns False on timeout
    # WITHOUT raising, so under CPU contention a slow drain used to
    # surface as confusing partial-row assertion failures downstream
    # (the round-11/12 "load flake"). Fail loudly at the source instead.
    assert q.awaitTermination(300), "appends drain timed out"
    return out


def test_appends_drain_equals_batch(tmp_path, spark):
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    w.write_ticks(_ticks(spark, 5), KEY, mode="append")                 # v0
    w.write_ticks(_ticks(spark, 3, start=T0 + MONTH), KEY, mode="append")  # v1
    ds = w.dataset_path(KEY)
    got = _drain(spark, ds, str(tmp_path / "ck"))
    assert len(got) == 8
    # per-commit attribution + hive columns served
    assert sum(1 for r in got if r["commit_version"] == 0) == 5
    assert sum(1 for r in got if r["commit_version"] == 1 and r["month"] == 2) == 3
    # resume under the same checkpoint: only NEW commits arrive
    w.write_ticks(_ticks(spark, 2, start=T0 + 2 * MONTH), KEY, mode="append")  # v2
    got2 = _drain(spark, ds, str(tmp_path / "ck"))
    assert len(got2) == 2 and all(r["commit_version"] == 2 for r in got2)


def test_appends_change_commit_raises_by_default(tmp_path, spark):
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    w.write_ticks(_ticks(spark, 5), KEY, mode="append")
    w.delete_where(KEY, F.col("ts") == T0)  # CoW rewrite: change commit
    ds = w.dataset_path(KEY)
    with pytest.raises(Exception, match="append-only"):
        _drain(spark, ds, str(tmp_path / "ck"))


def test_appends_dv_commit_is_a_change(tmp_path, spark):
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    w.write_ticks(_ticks(spark, 5), KEY, mode="append")
    w.delete_where(KEY, F.col("ts") == T0, strategy="dv")  # listing unchanged!
    ds = w.dataset_path(KEY)
    with pytest.raises(Exception, match="append-only"):
        _drain(spark, ds, str(tmp_path / "ck"))
    # skip_change_commits drops the DV commit, serves the appends
    got = _drain(spark, ds, str(tmp_path / "ck2"), skip_change_commits=True)
    assert len(got) == 5


def test_appends_ignore_changes_serves_added_files(tmp_path, spark):
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    w.write_ticks(_ticks(spark, 4), KEY, mode="append")                    # v0
    # upsert rewrites month 1 (change) AND adds rows
    w.write_ticks(_ticks(spark, 2, price=9.0), KEY, mode="upsert")         # v1
    ds = w.dataset_path(KEY)
    got = _drain(spark, ds, str(tmp_path / "ck"), ignore_changes=True)
    # v0's 4 rows + v1's rewritten month (4 rows re-served, 2 updated)
    assert sum(1 for r in got if r["commit_version"] == 0) == 4
    assert sum(1 for r in got if r["commit_version"] == 1) == 4
    assert sum(1 for r in got if r["commit_version"] == 1 and r["price"] == 9.0) == 2


def test_appends_resume_at_pruned_checkpoint_refuses(tmp_path, spark):
    """Resume-after-prune must not fabricate adds: when commit pruning
    leaves a full-listing CHECKPOINT as the oldest retained entry (its
    listing is a snapshot of everything live, not its own adds), a
    consumer resuming just below it must get a loud refusal — not the
    ENTIRE dataset re-served as 'newly appended' rows."""
    from dl_datalake_spark.lake.commitlog import CommitLog
    from dl_datalake_spark.sources.append_source import (
        LakeAppendsStreamReader,
        _infer_append_schema,
    )

    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    for i in range(12):  # v0..v11; v10 is a full-files checkpoint
        w.write_ticks(_ticks(spark, 1, start=T0 + i * 60000), KEY, mode="append")
    ds = w.dataset_path(KEY)
    CommitLog(ds, fs=w.fs).prune(keep_last=2)  # retained: v10 (ckpt), v11

    r = LakeAppendsStreamReader({"path": ds}, _infer_append_schema(ds))
    with pytest.raises(ValueError, match="unknowable"):
        r.partitions({"version": 9}, {"version": 11})
    # a consumer that already saw the checkpoint commit replays exactly
    parts = r.partitions({"version": 10}, {"version": 11})
    assert [p.version for p in parts] == [11] and len(parts[0].files) == 1

def _drain_bounded(spark, ds, ckpt, expected_rows, timeout_s=300, **kw):
    """processingTime-triggered run collected until `expected_rows`
    arrive (availableNow captures ONE offset per run, so a capped
    catch-up needs a continuous trigger — documented contract).
    Before stopping, waits for the LAST delivering batch's checkpoint
    commit to land: foreachBatch is at-least-once, so stopping between
    the sink call and the commit makes the next run legitimately
    re-serve that batch — a harness race, not a source bug (flaked
    under full-suite CPU contention, rounds 10-11)."""
    import os
    import time

    rows, batches, bids = [], [], []

    def _c(batch_df, bid):
        got = batch_df.collect()
        rows.extend(got)
        vs = sorted({r["commit_version"] for r in got})
        if vs:
            batches.append(vs)
            bids.append(bid)

    q = (
        stream_appends(spark, ds, **kw)
        .writeStream.foreachBatch(_c)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        while len(rows) < expected_rows and time.time() < deadline:
            time.sleep(0.3)
        while (
            bids
            and not os.path.exists(f"{ckpt}/commits/{max(bids)}")
            and time.time() < deadline
        ):
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(60)
    return rows, batches


def test_appends_admission_control_bounds_catchup(tmp_path, spark):
    """max_commits_per_batch: a 7-commit catch-up drains in ceil(7/3)=3
    bounded micro-batches, per-commit attribution intact, no row lost
    or duplicated; a restart with the cursor re-seeded continues with
    exactly the new commit."""
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    for i in range(7):
        w.write_ticks(_ticks(spark, 2, start=T0 + i * 60000), KEY, mode="append")
    ds = w.dataset_path(KEY)
    rows, batches = _drain_bounded(
        spark, ds, str(tmp_path / "ck"), 14, max_commits_per_batch=3
    )
    assert sorted(r["commit_version"] for r in rows) == sorted(
        v for v in range(7) for _ in range(2)
    )
    assert batches == [[0, 1, 2], [3, 4, 5], [6]]
    # restart leg (documented contract: capped streams re-seed the
    # cursor from after_version = the checkpointed position)
    w.write_ticks(_ticks(spark, 1, start=T0 + 99 * 60000), KEY, mode="append")
    rows2, batches2 = _drain_bounded(
        spark, ds, str(tmp_path / "ck"), 1,
        max_commits_per_batch=3, after_version=6,
    )
    assert len(rows2) == 1 and rows2[0]["commit_version"] == 7


def test_appends_capped_restart_with_stale_cursor_heals(tmp_path, spark):
    """A capped stream restarted with a STALE after_version must never
    re-serve rows.  The engine ignores non-advancing offsets, and the
    reader's pending-ratchet advances the cursor each idle poll (an
    ignored offset is proven consumed), so the stream HEALS up to the
    checkpoint and then serves exactly the new commits."""
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    for i in range(6):
        w.write_ticks(_ticks(spark, 1, start=T0 + i * 60000), KEY, mode="append")
    ds = w.dataset_path(KEY)
    rows, _ = _drain_bounded(
        spark, ds, str(tmp_path / "ck"), 6, max_commits_per_batch=2
    )
    assert len(rows) == 6  # checkpoint now at version 5
    # two new commits; stale restart (after_version left at default -1)
    w.write_ticks(_ticks(spark, 1, start=T0 + 99 * 60000), KEY, mode="append")
    w.write_ticks(_ticks(spark, 1, start=T0 + 100 * 60000), KEY, mode="append")
    rows2, batches2 = _drain_bounded(
        spark, ds, str(tmp_path / "ck"), 2, timeout_s=300,
        max_commits_per_batch=2,
    )
    assert sorted(r["commit_version"] for r in rows2) == [6, 7]  # no re-serve


def test_appends_max_files_per_batch(tmp_path, spark):
    """max_files_per_batch: commits admit until the cumulative
    added-file budget is hit (at least one commit always admitted)."""
    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    MONTH2 = T0 + 32 * 86400000
    # commit 0: 1 file; commit 1: 2 files (two months); commit 2: 1 file
    w.write_ticks(_ticks(spark, 1), KEY, mode="append")
    w.write_ticks(
        _ticks(spark, 1, start=T0 + 60000).unionByName(_ticks(spark, 1, start=MONTH2)),
        KEY, mode="append",
    )
    w.write_ticks(_ticks(spark, 1, start=T0 + 120000), KEY, mode="append")
    ds = w.dataset_path(KEY)
    rows, batches = _drain_bounded(
        spark, ds, str(tmp_path / "ck"), 4, max_files_per_batch=2
    )
    # commit 0 (1 file) + commit 1 (2 files) would exceed 2 -> commit 0
    # alone; commit 1 fills the next batch; commit 2 the third
    assert batches == [[0], [1], [2]]


def test_appends_byte_budget_counts_multi_write_commits(tmp_path, spark):
    """`max_bytes_per_batch` budgets `write_ohlc_multi` commits by their
    real file sizes: a budget of exactly the first commit's bytes admits
    that commit alone (a commit without recorded sizes would count 0
    bytes and let the whole catch-up through)."""
    import os

    from dl_datalake_spark.sources.append_source import (
        LakeAppendsStreamReader,
        _infer_append_schema,
    )

    base = str(tmp_path / "lake")
    w = LakeWriter(spark, base)
    for i in range(2):
        w.write_ohlc_multi(
            spark.createDataFrame(
                [(sym, T0 + i * 60000, 1.0) for sym in ("AAA", "BBB")],
                "symbol string, ts long, close double",
            ),
            "SIM", mode="append",
        )
    key = DatasetKey("SIM", "SPOT", "AAA", "raw", "1m")
    ds = w.dataset_path(key)
    first = w.commit_log(key).files_at(0)
    budget = sum(os.path.getsize(f"{ds}/{rel}") for rel in first)
    r = LakeAppendsStreamReader(
        {"path": ds, "max_bytes_per_batch": str(budget)}, _infer_append_schema(ds)
    )
    assert r.latestOffset() == {"version": 0}
    r.commit({"version": 0})
    assert r.latestOffset() == {"version": 1}
