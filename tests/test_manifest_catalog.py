"""Driver-side manifest catalog: Spark-written catalogs stay readable,
a failed swap keeps the previous state, concurrent upserts lose nothing,
and commits and lookups start no Spark jobs."""

from __future__ import annotations

import os
import threading
import uuid
from datetime import datetime

import pytest

from dl_datalake_spark.lake.fs import LocalFS
from dl_datalake_spark.lake.manifest import MANIFEST_SCHEMA, ManifestManager


def _row(i, path, t0, t1):
    return (
        i, "BINANCE", "SPOT", f"SYM{i}", path, "raw", t0, t1, "1.0.0", None,
        datetime(2024, 1, i, 12, 0, 0, 123456), "abc123", '{"timeframe": "1m"}',
    )


def _spark_write(spark, rows, path):
    """The catalog as Spark writes it: part files, `_SUCCESS`, `.crc`."""
    spark.createDataFrame(rows, MANIFEST_SCHEMA).repartition(len(rows)).write.mode(
        "overwrite"
    ).parquet(path)


def _by_id(rows):
    return {r["id"]: r for r in rows}


def test_spark_written_catalog_loads_upserts_and_keeps_history(spark, tmp_path):
    path = str(tmp_path / "m")
    rows = [_row(1, "/lake/a", 0, 100), _row(2, "/lake/b", 50, 150), _row(3, "/lake/c", 7, 9)]
    _spark_write(spark, rows, path)
    _spark_write(spark, rows[:1], f"{path}_history/snapshot_ts=1000")
    _spark_write(spark, rows, f"{path}_history/snapshot_ts=2000")
    names = os.listdir(path)
    assert sum(n.endswith(".parquet") and not n.startswith(".") for n in names) > 1
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    m = ManifestManager(spark, path)
    before = [r.asDict() for r in m.load().orderBy("id").collect()]
    assert m._entries() == before

    m.add_entries([
        {"exchange": "binance", "market": "spot", "symbol": "sym2", "path": "/lake/b",
         "time_from": 60, "time_to": 120},
        {"exchange": "binance", "market": "spot", "symbol": "new", "path": "/lake/d",
         "time_from": 1, "time_to": 2},
    ])

    after = _by_id(r.asDict() for r in m.load().collect())
    assert set(after) == {1, 3, 4, 5}  # ids continue at max(id) + 1
    assert after[1] == before[0] and after[3] == before[2]
    assert (after[4]["path"], after[4]["time_from"], after[4]["time_to"]) == ("/lake/b", 50, 150)
    assert (after[5]["path"], after[5]["symbol"]) == ("/lake/d", "NEW")
    assert _by_id(m._entries()) == after

    # the new state was swapped in: one part file, no Spark side files
    names = os.listdir(path)
    assert len(names) == 1 and names[0].endswith(".parquet")

    snaps = m.snapshots()
    assert snaps[:2] == [1000, 2000] and len(snaps) == 3 and snaps[2] > 2000
    assert [r.asDict() for r in m.load_at(1000).collect()] == before[:1]
    assert [r.asDict() for r in m.load_at(2000).orderBy("id").collect()] == before
    assert _by_id(r.asDict() for r in m.load_at(snaps[2]).collect()) == after


class _FailingRenameFS(LocalFS):
    """LocalFS that raises on the first rename matching `hit(src, dst)`."""

    def __init__(self, hit):
        self.hit = hit
        self.armed = False

    def rename(self, src, dst):
        if self.armed and self.hit(src, dst):
            self.armed = False
            raise OSError(f"injected rename failure: {src} -> {dst}")
        super().rename(src, dst)


@pytest.mark.parametrize("step", ["move_old_aside", "move_new_in"])
def test_failed_swap_keeps_previous_catalog(spark, tmp_path, step):
    path = str(tmp_path / "m")
    if step == "move_old_aside":
        fs = _FailingRenameFS(lambda src, dst: src == path)
    else:
        fs = _FailingRenameFS(lambda src, dst: dst == path and ".staging." in src)
    m = ManifestManager(spark, path, fs=fs)
    m.add_entry("binance", "spot", "BTCUSDT", "/lake/a", "raw", 0, 1000)
    before = m._entries()
    snaps = m.snapshots()

    fs.armed = True
    with pytest.raises(OSError, match="injected"):
        m.add_entry("binance", "spot", "BTCUSDT", "/lake/a", "raw", 0, 5000)

    assert m._entries() == before
    assert [r.asDict() for r in m.load().collect()] == before
    assert m.snapshots() == snaps
    assert sorted(os.listdir(tmp_path)) == ["m", "m_commits", "m_history"]
    # the aborted transaction released its slot: the next commit lands
    m.add_entry("binance", "spot", "BTCUSDT", "/lake/a", "raw", 0, 5000)
    assert m.watermark("binance", "BTCUSDT") == 5000


def test_concurrent_add_entry_loses_no_update(spark, tmp_path):
    path = str(tmp_path / "m")
    errors = []

    def run(worker):
        m = ManifestManager(spark, path)
        try:
            for i in range(20):
                m.add_entry("binance", "spot", f"W{worker}", f"/lake/{worker}/{i}", "raw", i, i + 1)
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

    m = ManifestManager(spark, path)
    rows = m._entries()
    assert len(rows) == 40
    assert len({r["id"] for r in rows}) == 40
    assert {r["path"] for r in rows} == {f"/lake/{w}/{i}" for w in range(2) for i in range(20)}
    snaps = m.snapshots()
    assert len(snaps) == 40 and snaps == sorted(set(snaps))


def _jobs_in(spark, fn):
    """Spark jobs `fn` starts, counted per job group through the status
    tracker after the listener bus drains."""
    sc = spark.sparkContext
    group = f"manifest-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_commits_and_lookups_start_no_spark_jobs(spark, tmp_path):
    m = ManifestManager(spark, str(tmp_path / "m"))
    row = {"exchange": "binance", "market": "spot", "symbol": "BTCUSDT", "path": "/lake/a",
           "time_from": 0, "time_to": 1000, "version": "2"}
    assert _jobs_in(spark, lambda: m.add_entries([row])) == 0
    assert _jobs_in(spark, lambda: m.add_entries([{**row, "time_to": 2000}])) == 0
    got = {}
    assert _jobs_in(spark, lambda: got.update(wm=m.watermark("binance", "BTCUSDT"))) == 0
    assert _jobs_in(spark, lambda: got.update(v=m.get_latest_version("BTCUSDT", "raw"))) == 0
    assert _jobs_in(spark, lambda: got.update(n=m.delete_entries(symbol="BTCUSDT"))) == 0
    assert got == {"wm": 2000, "v": "2", "n": 1}
    # the counter does see Spark jobs
    assert _jobs_in(spark, lambda: spark.range(3).count()) >= 1
