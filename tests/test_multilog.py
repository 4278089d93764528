"""Multi-dataset atomic commit visibility (lake/multilog.py).

VERDICT r6 stretch #7: `write_ohlc_multi` finalizes its per-dataset
commits one after another; a reader between the finalizes used to see a
MIXED EPOCH (dataset A's new version next to B's old one).  These tests
pin the new contract: `LakeReader.read_datasets` serves a cut that is
entirely before or entirely after every multi-commit — deterministically
against a hand-built half-finalized state, and under a live concurrent
writer loop.
"""

from __future__ import annotations

import threading

import pytest

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.manifest import ManifestManager
from dl_datalake_spark.lake.multilog import MultiCommitLog
from dl_datalake_spark.lake.paths import DatasetKey, dataset_rel_path
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.writer import LakeWriter

KEY_A = DatasetKey("BINANCE", "SPOT", "AAA_USD", "raw", "1m")
KEY_B = DatasetKey("BINANCE", "SPOT", "BBB_USD", "raw", "1m")


@pytest.fixture()
def lake(tmp_path, spark):
    base = str(tmp_path / "base")
    manifest = ManifestManager(spark, str(tmp_path / "manifest"))
    return LakeWriter(spark, base, manifest), LakeReader(spark, base), manifest


def _multi_df(spark, n=2, start=1672574400000, price=1.0):
    rows = [
        (sym, start + i * 60000, price, price + 1, price - 0.5, price + 0.5, 10.0)
        for sym in ("AAA/USD", "BBB/USD")
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "symbol string, ts long, open double, high double, low double, "
        "close double, volume double",
    )


def test_multi_write_records_committed_intent_with_txids(lake, spark):
    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark), "binance", "spot")
    ml = MultiCommitLog(writer.base_path)
    recs = ml.records()
    assert len(recs) == 1
    rec = recs[0]
    assert rec["status"] == "committed"
    assert set(rec["datasets"]) == {dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)}
    # every per-dataset commit payload carries the record's txid
    for key in (KEY_A, KEY_B):
        log = writer.commit_log(key)
        entry = log.committed_entry(rec["datasets"][dataset_rel_path(key)])
        assert entry is not None and entry["txid"] == rec["txid"]


def test_reader_excludes_half_finalized_multi_commit(lake, spark):
    """The deterministic torn window: a second multi-commit with dataset
    A finalized and dataset B still claimed must be invisible to
    read_datasets as a WHOLE — even though a single-dataset read of A
    already serves the new version."""
    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=2), "binance", "spot")

    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)
    log_a, log_b = writer.commit_log(KEY_A), writer.commit_log(KEY_B)
    path_a = writer.dataset_path(KEY_A)

    # stage one extra data file into A's tree, invisible until pinned
    extra_dir = f"{path_a}/year=2023/month=1"
    spark.createDataFrame(
        [(1672580000000, 5.0, 6.0, 4.5, 5.5, 10.0)],
        "ts long, open double, high double, low double, close double, volume double",
    ).coalesce(1).write.mode("append").parquet(extra_dir)
    new_files = CommitLog(path_a).latest_files() is not None  # sanity: pinned
    assert new_files

    txid = "torntest" * 4
    ml = MultiCommitLog(writer.base_path)
    ctx_a = log_a.transaction(payload={"mode": "upsert", "multi": True, "txid": txid})
    meta_a = ctx_a.__enter__()
    ctx_b = log_b.transaction(payload={"mode": "upsert", "multi": True, "txid": txid})
    meta_b = ctx_b.__enter__()
    ml.begin({rel_a: meta_a["version"], rel_b: meta_b["version"]}, txid=txid)

    from dl_datalake_spark.lake.snapshot import list_data_files

    meta_a.update(partitions=[[2023, 1]], files=list_data_files(writer.fs, path_a))
    ctx_a.__exit__(None, None, None)  # finalize A ONLY — B still in-progress

    # single-dataset read: A's new commit is visible (3 rows)
    assert reader.read_dataset(KEY_A).count() == 3
    # consistent multi-read: the half-finalized epoch is excluded
    cut = reader.consistent_cut([KEY_A, KEY_B])
    assert cut[rel_a] == meta_a["version"] - 1
    dfs = reader.read_datasets([KEY_A, KEY_B])
    assert dfs["AAA_USD"].count() == 2
    assert dfs["BBB_USD"].count() == 2

    # finish the multi-commit: both new versions become visible together
    meta_b.update(partitions=[], files=CommitLog(writer.dataset_path(KEY_B)).latest_files())
    ctx_b.__exit__(None, None, None)
    ml.commit(txid)
    dfs = reader.read_datasets([KEY_A, KEY_B])
    assert dfs["AAA_USD"].count() == 3
    assert dfs["BBB_USD"].count() == 2


def test_usurped_intent_stops_constraining(lake, spark):
    """An intent whose claimed slot was committed by a DIFFERENT txid
    (multi-writer died, claim rolled aside and reused) is dead — it must
    not pin readers below live committed data."""
    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=2), "binance", "spot")
    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)

    # a ghost intent claiming the NEXT versions under a txid that will
    # never commit them
    ml = MultiCommitLog(writer.base_path)
    v_next_a = writer.commit_log(KEY_A).latest_version() + 1
    v_next_b = writer.commit_log(KEY_B).latest_version() + 1
    ml.begin({rel_a: v_next_a, rel_b: v_next_b}, txid="deadbeef" * 4)

    # those slots get committed by a real (different-txid) multi-write
    writer.write_ohlc_multi(
        _multi_df(spark, n=1, start=1672580000000, price=7.0), "binance", "spot"
    )
    dfs = reader.read_datasets([KEY_A, KEY_B])
    assert dfs["AAA_USD"].count() == 3
    assert dfs["BBB_USD"].count() == 3


def test_concurrent_reader_never_sees_mixed_epoch(lake, spark):
    """Live loop: a writer thread applies multi-commits that keep the two
    datasets' row counts EQUAL; a reader loop through read_datasets must
    never observe countA != countB."""
    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=1), "binance", "spot")

    stop = threading.Event()
    errors: list[BaseException] = []

    def _writer_loop():
        try:
            i = 0
            while not stop.is_set() and i < 6:
                i += 1
                writer.write_ohlc_multi(
                    _multi_df(spark, n=1, start=1672574400000 + i * 60000),
                    "binance",
                    "spot",
                )
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)

    t = threading.Thread(target=_writer_loop)
    t.start()
    try:
        while t.is_alive():
            dfs = reader.read_datasets([KEY_A, KEY_B])
            ca, cb = dfs["AAA_USD"].count(), dfs["BBB_USD"].count()
            assert ca == cb, f"mixed epoch observed: A={ca} B={cb}"
    finally:
        stop.set()
        t.join()
    assert not errors, errors
    dfs = reader.read_datasets([KEY_A, KEY_B])
    assert dfs["AAA_USD"].count() == 7 == dfs["BBB_USD"].count()


def test_files_at_historical_cuts(lake, spark):
    writer, _, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=2), "binance", "spot")
    writer.write_ohlc_multi(
        _multi_df(spark, n=1, start=1672580000000), "binance", "spot"
    )
    log = writer.commit_log(KEY_A)
    v = log.latest_version()
    assert v >= 1
    assert log.files_at(v) == log.latest_files()
    # the second upsert REWROTE the month partition: v-1's snapshot is a
    # different (superseded, still-on-disk) file set, not a subset
    older = log.files_at(v - 1)
    assert older and set(older) != set(log.files_at(v))
    assert all(writer.fs.exists(f"{writer.dataset_path(KEY_A)}/{f}") for f in older)
    assert log.files_at(-1) == []  # before the first commit: empty snapshot
    # a cut pruned out of the log is unknowable, not fabricated
    log.prune(keep_last=1)
    assert log.files_at(v - 1) is None
    assert log.files_at(v) == log.latest_files()


def test_client_read_ohlc_multi_serves_consistent_cut(spark, tmp_path):
    from dl_datalake_spark.client import DataLakeClient

    client = DataLakeClient(spark, str(tmp_path / "lake"))
    client.writer.write_ohlc_multi(_multi_df(spark, n=3), "binance", "spot")
    dfs = client.read_ohlc_multi("BINANCE", ["AAA_USD", "BBB_USD"])
    assert set(dfs) == {"AAA_USD", "BBB_USD"}
    assert dfs["AAA_USD"].count() == 3 == dfs["BBB_USD"].count()


def test_multilog_prune_drops_only_ttl_expired(lake, spark):
    writer, _, _ = lake
    writer.write_ohlc_multi(_multi_df(spark), "binance", "spot")
    ml = MultiCommitLog(writer.base_path)
    assert ml.prune(keep_last=0, ttl_s=3600.0) == 0  # fresh record survives
    assert len(ml.records()) == 1
    assert ml.prune(keep_last=0, ttl_s=0.0) == 1
    assert ml.records() == []


def test_consistent_cut_chains_through_overlapping_multi_commits(lake, spark):
    """Fixpoint case: excluding an in-flight multi-commit M {A:2, C:1}
    lowers A below a FULLY COMMITTED later multi-commit M' {A:3, B:1},
    which must then be excluded as a whole too (its B side drops) — the
    cut lands before both, never inside either."""
    writer, reader, _ = lake
    kc = DatasetKey("BINANCE", "SPOT", "CCC_USD", "raw", "1m")

    def one(sym, price=1.0, n=1):
        rows = [
            (sym, 1672574400000 + i * 60000, price, price + 1, price - 0.5,
             price + 0.5, 10.0)
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows,
            "symbol string, ts long, open double, high double, low double, "
            "close double, volume double",
        )

    # A: v0, v1 singles; B: v0; C: v0 (via per-symbol writes)
    writer.write_ohlc(one("AAA/USD").drop("symbol"), KEY_A)
    writer.write_ohlc(one("AAA/USD", price=2.0, n=2).drop("symbol"), KEY_A)
    writer.write_ohlc(one("BBB/USD").drop("symbol"), KEY_B)
    writer.write_ohlc(one("CCC/USD").drop("symbol"), kc)

    ml = MultiCommitLog(writer.base_path)
    rel = dataset_rel_path
    log_a, log_b, log_c = (writer.commit_log(k) for k in (KEY_A, KEY_B, kc))

    # M: claims A:2 and C:1, finalizes A ONLY (C stays in-flight)
    tx_m = "m1chain!" * 4
    ctx_a2 = log_a.transaction(payload={"mode": "upsert", "multi": True, "txid": tx_m})
    meta_a2 = ctx_a2.__enter__()
    ctx_c1 = log_c.transaction(payload={"mode": "upsert", "multi": True, "txid": tx_m})
    meta_c1 = ctx_c1.__enter__()
    assert (meta_a2["version"], meta_c1["version"]) == (2, 1)
    ml.begin({rel(KEY_A): 2, rel(kc): 1}, txid=tx_m)
    meta_a2.update(partitions=[], files=log_a.latest_files())
    ctx_a2.__exit__(None, None, None)  # A:2 committed; C:1 in-flight

    # M': claims A:3 and B:1, fully commits
    tx_mp = "m2chain!" * 4
    ctx_a3 = log_a.transaction(payload={"mode": "upsert", "multi": True, "txid": tx_mp})
    meta_a3 = ctx_a3.__enter__()
    ctx_b1 = log_b.transaction(payload={"mode": "upsert", "multi": True, "txid": tx_mp})
    meta_b1 = ctx_b1.__enter__()
    assert (meta_a3["version"], meta_b1["version"]) == (3, 1)
    ml.begin({rel(KEY_A): 3, rel(KEY_B): 1}, txid=tx_mp)
    meta_a3.update(partitions=[], files=log_a.latest_files())
    meta_b1.update(partitions=[], files=log_b.latest_files())
    ctx_a3.__exit__(None, None, None)
    ctx_b1.__exit__(None, None, None)
    ml.commit(tx_mp)

    cut = reader.consistent_cut([KEY_A, KEY_B, kc])
    assert cut == {rel(KEY_A): 1, rel(KEY_B): 0, rel(kc): 0}, cut

    # clean up C's in-flight claim so the fixture tears down quietly
    meta_c1.update(partitions=[], files=log_c.latest_files())
    ctx_c1.__exit__(None, None, None)
    ml.commit(tx_m)
    cut2 = reader.consistent_cut([KEY_A, KEY_B, kc])
    assert cut2 == {rel(KEY_A): 3, rel(KEY_B): 1, rel(kc): 1}, cut2


def test_committed_record_with_pruned_versions_keeps_full_cut(lake, spark):
    """ADVICE r7 (medium): a busy dataset accumulates >keep_last commits
    after a committed multi-write; pruning its commit log drops the
    claimed slot's entry file. The record's `committed` status alone
    proves every claimed slot was finalized by its txid (the writer
    flips only after all finalizes), so the cut must stay at the latest
    versions — NOT sink below retained history into empty/live reads."""
    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=2), "binance", "spot")
    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)
    log_a = writer.commit_log(KEY_A)
    assert log_a.latest_version() == 0

    # 12 more single-dataset commits on A (past the 10-version
    # checkpoint so prune can actually drop version 0's entry)
    jan = 1672574400000
    for i in range(12):
        df = spark.createDataFrame(
            [(jan + (100 + i) * 60000, 1.0, 2.0, 0.5, 1.5, 10.0)],
            "ts long, open double, high double, low double, close double, volume double",
        )
        writer.write_ohlc(df, KEY_A)
    assert log_a.latest_version() == 12
    log_a.prune(keep_last=2)
    assert log_a.committed_entry(0) is None  # the multi-claimed slot is gone

    cut = reader.consistent_cut([KEY_A, KEY_B])
    assert cut == {rel_a: 12, rel_b: 0}, cut
    dfs = reader.read_datasets([KEY_A, KEY_B])
    assert dfs["AAA_USD"].count() == 2 + 12
    assert dfs["BBB_USD"].count() == 2


# ---------------------------------------------------------------------------
# Historical multi-dataset time travel (VERDICT r7 #1): read_datasets_at
# replays "the lake as of multi-commit T" from the multilog intent +
# pinned per-version listings
# ---------------------------------------------------------------------------
def _hist_lake(lake, spark):
    """A:  v0 (M1 multi)  v1 (single +1 row)  v2 (M2 multi +1 row)
    B:  v0 (M1 multi)                       v1 (M2 multi +1 row)  v2 (delete 1)
    Returns (writer, reader, tx1, tx2)."""
    writer, reader, _ = lake
    r1 = writer.write_ohlc_multi(_multi_df(spark, n=2), "binance", "spot")
    tx1 = r1["AAA_USD"].txid
    assert tx1 and r1["BBB_USD"].txid == tx1
    jan = 1672574400000
    one = spark.createDataFrame(
        [(jan + 50 * 60000, 1.0, 2.0, 0.5, 1.5, 10.0)],
        "ts long, open double, high double, low double, close double, volume double",
    )
    writer.write_ohlc(one, KEY_A)  # A: v1
    r2 = writer.write_ohlc_multi(
        _multi_df(spark, n=1, start=jan + 90 * 60000), "binance", "spot"
    )
    tx2 = r2["AAA_USD"].txid
    writer.delete_range(KEY_B, jan, jan)  # B: v2, drops 1 row
    return writer, reader, tx1, tx2


def test_read_datasets_at_replays_each_multicommit_cut(lake, spark):
    writer, reader, tx1, tx2 = _hist_lake(lake, spark)
    # live state first, as a control
    live = reader.read_datasets([KEY_A, KEY_B])
    assert live["AAA_USD"].count() == 4 and live["BBB_USD"].count() == 2

    at1 = reader.read_datasets_at([KEY_A, KEY_B], tx1)
    assert at1["AAA_USD"].count() == 2 and at1["BBB_USD"].count() == 2

    at2 = reader.read_datasets_at([KEY_A, KEY_B], tx2)
    assert at2["AAA_USD"].count() == 4  # v2: both multi rows + the single
    assert at2["BBB_USD"].count() == 3  # v1: before the delete

    with pytest.raises(ValueError, match="unknown"):
        reader.read_datasets_at([KEY_A, KEY_B], "nope" * 8)


def test_read_datasets_at_derives_commit_from_slots_when_flip_lost(lake, spark):
    """Writer crashed between the last finalize and the multilog flip:
    the record stays 'in-progress' but every claimed slot is finalized
    by its txid — read_datasets_at derives the committed fact instead of
    refusing (multilog.py's documented best-effort flip)."""
    import json as _json

    writer, reader, tx1, _tx2 = _hist_lake(lake, spark)
    ml = MultiCommitLog(writer.base_path)
    p = ml._path(tx1)
    rec = _json.loads(open(p, "rb").read())
    rec["status"] = "in-progress"
    rec.pop("ts_done", None)
    open(p, "w").write(_json.dumps(rec))
    at1 = reader.read_datasets_at([KEY_A, KEY_B], tx1)
    assert at1["AAA_USD"].count() == 2 and at1["BBB_USD"].count() == 2


def test_historical_cut_pulls_straddling_multicommit_in_whole(lake, spark):
    """A multi-commit whose finalize sequence straddles the requested
    timestamp must be included WHOLLY (raise-closure), never torn: cut
    taken between finalize(A) and finalize(B) serves both halves."""
    import time

    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=1), "binance", "spot")  # v0/v0
    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)
    log_a, log_b = writer.commit_log(KEY_A), writer.commit_log(KEY_B)
    ml = MultiCommitLog(writer.base_path)
    txid = "straddle" * 4
    ctx_a = log_a.transaction(payload={"mode": "upsert", "multi": True, "txid": txid})
    meta_a = ctx_a.__enter__()
    ctx_b = log_b.transaction(payload={"mode": "upsert", "multi": True, "txid": txid})
    meta_b = ctx_b.__enter__()
    ml.begin({rel_a: meta_a["version"], rel_b: meta_b["version"]}, txid=txid)
    meta_a.update(partitions=[], files=log_a.latest_files())
    ctx_a.__exit__(None, None, None)      # A finalized ...
    time.sleep(0.05)
    t_mid = time.time()                   # ... cut lands HERE ...
    time.sleep(0.05)
    meta_b.update(partitions=[], files=log_b.latest_files())
    ctx_b.__exit__(None, None, None)      # ... B finalized after
    ml.commit(txid)

    cut = reader.consistent_cut_at([KEY_A, KEY_B], t_mid)
    assert cut == {rel_a: meta_a["version"], rel_b: meta_b["version"]}, cut


def test_read_datasets_at_vacuum_retention_interaction(lake, spark):
    """Within the retention horizon every historical multi-cut stays
    reconstructable; past it, the read fails LOUDLY naming vacuum — the
    supersession-time aging means 'within retention' is measured from
    when the upsert replaced the files, not from when they were
    written."""
    from dl_datalake_spark.lake.maintenance import vacuum_tombstones

    writer, reader, tx1, tx2 = _hist_lake(lake, spark)
    # inside the horizon: everything still readable
    vacuum_tombstones(spark, writer.base_path, retention_s=3600.0, dry_run=False)
    at1 = reader.read_datasets_at([KEY_A, KEY_B], tx1)
    assert at1["AAA_USD"].count() == 2 and at1["BBB_USD"].count() == 2
    # past the horizon the superseded v0 files are reclaimed
    vacuum_tombstones(spark, writer.base_path, retention_s=0.0, dry_run=False)
    with pytest.raises(ValueError, match="vacuum_tombstones"):
        reader.read_datasets_at([KEY_A, KEY_B], tx1)
    # the LATEST cut (tx2 on A; B's delete rewrote v2) may also be affected
    # for intermediate versions, but the live read must stay intact
    live = reader.read_datasets([KEY_A, KEY_B])
    assert live["AAA_USD"].count() == 4 and live["BBB_USD"].count() == 2


# ---------------------------------------------------------------------------
# Multilog scale hygiene (VERDICT r7 #6): fold resolved intents into one
# segment; consistent-cut metadata cost stays FLAT as history grows
# ---------------------------------------------------------------------------
class _CountingFS(__import__("dl_datalake_spark.lake.fs", fromlist=["LocalFS"]).LocalFS):
    def __init__(self):
        self.ops = 0

    def read_bytes(self, path):
        self.ops += 1
        return super().read_bytes(path)

    def listdir(self, path):
        self.ops += 1
        return super().listdir(path)


def _fabricate_multirecs(ml, rel_a, rel_b, n, v_a, v_b, ts0, prefix="hist"):
    """n resolved (committed) intent records claiming already-visible
    versions — pure metadata, no Spark jobs."""
    import json as _json

    for i in range(n):
        txid = (f"{prefix}{i:04d}" + "0" * 28)[:32]
        ml.begin({rel_a: v_a, rel_b: v_b}, txid=txid)
        p = ml._path(txid)
        rec = _json.loads(open(p, "rb").read())
        rec.update(status="committed", ts=ts0 + i, ts_done=ts0 + i + 0.5)
        open(p, "w").write(_json.dumps(rec))


def test_fold_keeps_cut_cost_flat_and_records_readable(lake, spark):
    import time

    writer, _, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=1), "binance", "spot")  # v0/v0
    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)
    base = writer.base_path
    old_ts = time.time() - 7200  # resolved well past the fold TTL

    ml = MultiCommitLog(base)
    _fabricate_multirecs(ml, rel_a, rel_b, 60, 0, 0, old_ts)
    assert len(ml.records()) == 61

    def cut_ops():
        fs = _CountingFS()
        from dl_datalake_spark.lake.reader import LakeReader

        r = LakeReader(spark, base, fs=fs)
        cut = r.consistent_cut([KEY_A, KEY_B])
        assert cut == {rel_a: 0, rel_b: 0}
        return fs.ops

    before = cut_ops()
    rep = ml.fold(keep_last=5, ttl_s=3600.0)
    assert rep["folded"] >= 55 and rep["segment"]
    after_60 = cut_ops()
    assert after_60 < before / 3, (before, after_60)
    # every folded record still resolvable by txid and listed
    assert ml.record("hist0000" + "0" * 24)["status"] == "committed"
    assert len(ml.records()) == 61

    # history doubles -> fold again -> cut cost stays FLAT (one segment)
    _fabricate_multirecs(ml, rel_a, rel_b, 60, 0, 0, old_ts + 100, prefix="more")
    rep2 = ml.fold(keep_last=5, ttl_s=3600.0)
    assert rep2["segments_merged"] == 1  # earlier segment merged away
    after_120 = cut_ops()
    assert abs(after_120 - after_60) <= 6, (after_60, after_120)
    assert len(ml.records()) == 121
    # read_datasets_at still replays a FOLDED multi-commit
    reader = LakeReader(spark, base)
    at = reader.read_datasets_at([KEY_A, KEY_B], "hist0000" + "0" * 24)
    assert at["AAA_USD"].count() == 1 and at["BBB_USD"].count() == 1


def test_metadata_tables_joinable(lake, spark):
    """history_table x multilog_table: lake metadata as DataFrames —
    a multi-commit's txid joins its per-dataset commit rows."""
    writer, reader, _ = lake
    r1 = writer.write_ohlc_multi(_multi_df(spark, n=2), "binance", "spot")
    tx1 = r1["AAA_USD"].txid
    hist = reader.history_table(KEY_A)
    assert hist.columns[:3] == ["version", "mode", "rows"]
    row = hist.collect()[0]
    assert (row["version"], row["rows"], row["txid"]) == (0, 2, tx1)
    assert row["n_files"] >= 1 and row["committed_at"] > 0
    ml = reader.multilog_table()
    joined = ml.join(hist, ["txid"]).where(
        ml.dataset.contains("AAA_USD") & (ml.version == hist.version)
    )
    assert joined.count() == 1
    assert {r["status"] for r in ml.collect()} == {"committed"}


def test_read_datasets_at_time(lake, spark):
    """TIMESTAMP AS OF across datasets: a wall-clock time between two
    multi-commits serves exactly the earlier epoch."""
    import time

    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=2), "binance", "spot")
    t_mid = time.time()
    time.sleep(0.02)
    writer.write_ohlc_multi(
        _multi_df(spark, n=1, start=1672574400000 + 90 * 60000), "binance", "spot"
    )
    at = reader.read_datasets_at_time([KEY_A, KEY_B], t_mid)
    assert at["AAA_USD"].count() == 2 and at["BBB_USD"].count() == 2
    now = reader.read_datasets_at_time([KEY_A, KEY_B], time.time())
    assert now["AAA_USD"].count() == 3 and now["BBB_USD"].count() == 3
    # before the first commit: empty frames, not an error
    early = reader.read_datasets_at_time([KEY_A, KEY_B], t_mid - 10_000)
    assert early["AAA_USD"].count() == 0


# ---------------------------------------------------------------------------
# Property: consistent_cut_at never tears a committed multi-commit, for
# ANY random interleaving of single/multi commits and ANY probe time
# ---------------------------------------------------------------------------
def _mk_entry(base, rel, version, committed_at, txid=None):
    import json as _json
    import os as _os

    d = f"{base}/{rel}/_commits"
    _os.makedirs(d, exist_ok=True)
    e = {"status": "committed", "committed_at": float(committed_at), "files": []}
    if txid:
        e["txid"] = txid
    with open(f"{d}/{version:020d}.json", "w") as fh:
        fh.write(_json.dumps(e))


def test_property_consistent_cut_at_never_tears(tmp_path, spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)

    @settings(max_examples=40, deadline=None)
    @given(
        events=st.lists(
            st.sampled_from(["a", "b", "m_ab", "m_ba"]), min_size=1, max_size=10
        ),
        data=st.data(),
    )
    def prop(events, data):
        import shutil
        import uuid as _uuid

        base = str(tmp_path / f"p{_uuid.uuid4().hex[:8]}")
        ml = MultiCommitLog(base)
        t = 100.0
        va = vb = -1
        multis = []  # (txid, claim_a, claim_b)
        for ev in events:
            if ev == "a":
                va += 1
                _mk_entry(base, rel_a, va, t)
                t += 3
            elif ev == "b":
                vb += 1
                _mk_entry(base, rel_b, vb, t)
                t += 3
            else:  # multi-commit; finalize order a-then-b or b-then-a
                va += 1
                vb += 1
                txid = _uuid.uuid4().hex
                ml.begin({rel_a: va, rel_b: vb}, txid=txid)
                first, second = (
                    (rel_a, rel_b) if ev == "m_ab" else (rel_b, rel_a)
                )
                _mk_entry(base, first, va if first == rel_a else vb, t + 1, txid)
                _mk_entry(base, second, va if second == rel_a else vb, t + 2, txid)
                ml.commit(txid)
                multis.append((txid, va, vb))
                t += 4
        reader = LakeReader(spark, base)
        probe = data.draw(st.floats(min_value=99.0, max_value=t + 1))
        cut = reader.consistent_cut_at([KEY_A, KEY_B], probe)
        # atomicity: every committed multi-commit is in wholly or not at all
        for _txid, ca, cb in multis:
            assert (cut[rel_a] >= ca) == (cut[rel_b] >= cb), (
                events, probe, cut, (ca, cb),
            )
        # raise-only: never below the plain timestamp resolution
        from dl_datalake_spark.lake.commitlog import CommitLog

        assert cut[rel_a] >= CommitLog(f"{base}/{rel_a}").version_at_time(probe)
        assert cut[rel_b] >= CommitLog(f"{base}/{rel_b}").version_at_time(probe)
        # and never beyond the head
        assert cut[rel_a] <= va and cut[rel_b] <= vb
        shutil.rmtree(base, ignore_errors=True)

    prop()


def test_read_datasets_at_includes_unclaimed_dataset_by_time(lake, spark):
    """A requested dataset OUTSIDE the multi-commit's record resolves by
    the record's commit time: commits it made before the multi-commit
    are visible, later ones are not."""
    writer, reader, _ = lake
    jan = 1672574400000
    kc = DatasetKey("BINANCE", "SPOT", "CCC_USD", "raw", "1m")

    def _one(ts, px):
        return spark.createDataFrame(
            [(ts, px, px, px, px, 1.0)],
            "ts long, open double, high double, low double, close double, volume double",
        )

    writer.write_ohlc(_one(jan, 1.0), kc)                    # C v0 (before)
    m = writer.write_ohlc_multi(_multi_df(spark, n=1), "binance", "spot")
    tx = m["AAA_USD"].txid
    writer.write_ohlc(_one(jan + 60000, 2.0), kc)            # C v1 (after)

    at = reader.read_datasets_at([KEY_A, KEY_B, kc], tx)
    assert at["AAA_USD"].count() == 1 and at["BBB_USD"].count() == 1
    assert at["CCC_USD"].count() == 1  # only the pre-multi commit
    assert at["CCC_USD"].collect()[0]["close"] == 1.0


def test_multi_write_over_scheme_prefixed_base(spark, tmp_path):
    """write_ohlc_multi end-to-end with a file:// base: the per-txid
    staging move, CDF split renames, multilog record, and consistent
    read all run through the JVM Hadoop filesystem (the s3a:// shape)."""
    base = f"file://{tmp_path}/mlake"
    writer = LakeWriter(spark, base, emit_cdf=True)
    reader = LakeReader(spark, base)
    res = writer.write_ohlc_multi(_multi_df(spark, n=3), "binance", "spot")
    assert set(res) == {"AAA_USD", "BBB_USD"} and res["AAA_USD"].txid
    dfs = reader.read_datasets([KEY_A, KEY_B])
    assert dfs["AAA_USD"].count() == 3 and dfs["BBB_USD"].count() == 3
    # CDF landed per dataset through the scheme filesystem
    feed, cur = reader.read_change_feed(KEY_A, after_version=-1)
    assert cur == 0 and feed.count() == 3
    # historical replay by txid works over the scheme base too
    at = reader.read_datasets_at([KEY_A, KEY_B], res["AAA_USD"].txid)
    assert at["AAA_USD"].count() == 3 and at["BBB_USD"].count() == 3
    # no staging leftovers behind the scheme prefix
    import os as _os

    local_root = f"{tmp_path}/mlake"
    leftovers = [
        d
        for r, dirs, _ in _os.walk(local_root)
        for d in dirs
        if d == "_temporary" or d.startswith("_staging_")
    ]
    assert leftovers == [], leftovers


def test_fold_crash_leaves_no_duplicates(lake, spark):
    """Crash between segment rename-in and live-file deletion: a record
    present BOTH live and folded must be served once (live wins), and
    the next fold sweeps the shadowed copy."""
    import time

    writer, reader, _ = lake
    writer.write_ohlc_multi(_multi_df(spark, n=1), "binance", "spot")
    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)
    ml = MultiCommitLog(writer.base_path)
    _fabricate_multirecs(ml, rel_a, rel_b, 6, 0, 0, time.time() - 7200, prefix="dup")
    rep = ml.fold(keep_last=0, ttl_s=3600.0)
    assert rep["folded"] >= 6
    # simulate the crash: re-create one folded record's LIVE file
    victim = ("dup0003" + "0" * 28)[:32]
    rec = ml.record(victim)
    assert rec is not None
    import json as _json

    open(ml._path(victim), "w").write(_json.dumps(rec))
    recs = ml.records()
    assert sum(1 for r in recs if r["txid"] == victim) == 1  # deduped
    # the next fold absorbs the shadow; still exactly one copy — and the
    # shadowed LIVE file is actually DELETED (not just deduped on read),
    # or its O(live) read cost would persist forever (ADVICE r8)
    import os

    assert os.path.exists(ml._path(victim))
    ml.fold(keep_last=0, ttl_s=3600.0)
    assert not os.path.exists(ml._path(victim))
    assert sum(1 for r in ml.records() if r["txid"] == victim) == 1
    assert ml.record(victim)["status"] == "committed"


# ---------------------------------------------------------------------------
# Lake-level restore (VERDICT r8 #2): restore_lake_to(txid) — the write-side
# inverse of read_datasets_at
# ---------------------------------------------------------------------------
def test_restore_lake_to_rolls_back_all_datasets_atomically(lake, spark):
    writer, reader, _ = lake
    r1 = writer.write_ohlc_multi(_multi_df(spark, n=2, price=1.0), "binance", "spot")
    m1 = r1["AAA_USD"].txid
    # bad epoch: a multi upsert AND an interleaved single-dataset write
    writer.write_ohlc_multi(_multi_df(spark, n=3, price=9.0), "binance", "spot")
    writer.write_ohlc(
        spark.createDataFrame(
            [(1672574400000 + 10 * 60000, 5.0, 6.0, 4.0, 5.5, 1.0)],
            "ts long, open double, high double, low double, close double, volume double",
        ),
        KEY_A,
        mode="append",
    )

    out = writer.restore_lake_to(m1)
    rel_a, rel_b = dataset_rel_path(KEY_A), dataset_rel_path(KEY_B)
    assert set(out) == {rel_a, rel_b}  # keyed by dataset rel path
    restore_txid = out[rel_a].txid
    assert restore_txid and restore_txid == out[rel_b].txid

    # the live consistent read is exactly the M1 state
    dfs = reader.read_datasets([KEY_A, KEY_B])
    for sym in ("AAA_USD", "BBB_USD"):
        rows = sorted((r["ts"], r["open"]) for r in dfs[sym].collect())
        assert rows == [
            (1672574400000, 1.0),
            (1672574400000 + 60000, 1.0),
        ], sym
    # the restore is itself a replayable multi-commit
    ml = MultiCommitLog(writer.base_path)
    assert ml.record(restore_txid)["status"] == "committed"
    replay = reader.read_datasets_at([KEY_A, KEY_B], restore_txid)
    assert replay["AAA_USD"].count() == 2 and replay["BBB_USD"].count() == 2
    # rolled-back epochs stay time-travelable (metadata-only restore)
    log_a = CommitLog(f"{writer.base_path}/{dataset_rel_path(KEY_A)}")
    pre_restore = log_a.latest_version() - 1
    assert reader.read_dataset_at(KEY_A, pre_restore).count() == 4  # 3 upsert + 1 append


def test_restore_lake_to_unknown_or_uncommitted_txid_raises(lake, spark):
    writer, reader, _ = lake
    res = writer.write_ohlc_multi(_multi_df(spark, n=1), "binance", "spot")
    with pytest.raises(ValueError, match="unknown"):
        writer.restore_lake_to("deadbeef" * 4)
    # an intent that never fully committed is not a restorable state
    ml = MultiCommitLog(writer.base_path)
    fake = ml.begin({dataset_rel_path(KEY_A): 7, dataset_rel_path(KEY_B): 7})
    with pytest.raises(ValueError, match="never fully committed"):
        writer.restore_lake_to(fake)
    assert res["AAA_USD"].txid  # original state untouched
    assert reader.read_datasets([KEY_A, KEY_B])["AAA_USD"].count() == 1


def test_restore_lake_torn_crash_is_committed_or_invisible(lake, spark, monkeypatch):
    """Crash between per-dataset restore finalizes: the restore's
    multilog record must stay CONSTRAINING (in-progress, not aborted),
    so a consistent multi-dataset read keeps serving the pre-restore
    epoch — the restore is committed-or-invisible, never torn."""
    writer, reader, _ = lake
    r1 = writer.write_ohlc_multi(_multi_df(spark, n=2, price=1.0), "binance", "spot")
    m1 = r1["AAA_USD"].txid
    writer.write_ohlc_multi(_multi_df(spark, n=3, price=9.0), "binance", "spot")

    # die on the SECOND finalize of the restore's unwind (first succeeds)
    real_finalize = CommitLog._finalize
    calls = {"n": 0}

    def dying_finalize(self, version, payload, token):
        if payload is not None and payload.get("mode") == "restore":
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash between restore finalizes")
        return real_finalize(self, version, payload, token)

    monkeypatch.setattr(CommitLog, "_finalize", dying_finalize)
    with pytest.raises(RuntimeError, match="simulated crash"):
        writer.restore_lake_to(m1)
    monkeypatch.setattr(CommitLog, "_finalize", real_finalize)

    ml = MultiCommitLog(writer.base_path)
    partial = [r for r in ml.records() if r.get("status") == "in-progress"]
    assert len(partial) == 1  # NOT aborted: one dataset finalized
    # the torn epoch is invisible to a consistent read: both datasets
    # serve the pre-restore head (price 9.0, 3 rows each)
    dfs = reader.read_datasets([KEY_A, KEY_B])
    for sym in ("AAA_USD", "BBB_USD"):
        rows = dfs[sym].collect()
        assert len(rows) == 3 and all(r["open"] == 9.0 for r in rows), sym


def test_restore_lake_clean_failure_aborts_intent(lake, spark, monkeypatch):
    """A failure BEFORE any finalize (e.g. one dataset's target snapshot
    was vacuumed) must abort the restore's intent record — nothing
    committed, nothing constraining."""
    writer, reader, _ = lake
    r1 = writer.write_ohlc_multi(_multi_df(spark, n=2, price=1.0), "binance", "spot")
    m1 = r1["AAA_USD"].txid
    writer.write_ohlc_multi(_multi_df(spark, n=3, price=9.0), "binance", "spot")

    real = LakeWriter._restore_into
    calls = {"n": 0}

    def dying_restore(self, k, log, version, meta):
        calls["n"] += 1
        if calls["n"] == 2:
            raise ValueError("snapshot reclaimed by vacuum_tombstones (simulated)")
        return real(self, k, log, version, meta)

    monkeypatch.setattr(LakeWriter, "_restore_into", dying_restore)
    with pytest.raises(ValueError, match="vacuum"):
        writer.restore_lake_to(m1)
    monkeypatch.setattr(LakeWriter, "_restore_into", real)

    ml = MultiCommitLog(writer.base_path)
    assert all(r.get("status") != "in-progress" for r in ml.records())
    # head untouched, next restore succeeds
    assert reader.read_datasets([KEY_A, KEY_B])["AAA_USD"].count() == 3
    out = writer.restore_lake_to(m1)
    assert reader.read_datasets([KEY_A, KEY_B])["AAA_USD"].count() == 2
    assert out[dataset_rel_path(KEY_A)].txid
