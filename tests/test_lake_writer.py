"""Lake writer behavior: partition fan-out, upsert keep-last, sorted
invariant, missing-ts rejection, schema evolution — mirrors the
reference test intents in tests/storage/test_writer.py and
tests/integration/test_07/_08 (see SURVEY §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake import LakeReader, LakeWriter, ManifestManager
from dl_datalake_spark.lake.paths import DatasetKey

KEY = DatasetKey("binance", "spot", "BTC/USDT", "raw", "1m")


@pytest.fixture()
def lake(tmp_path, spark):
    base = str(tmp_path / "base")
    manifest = ManifestManager(spark, str(tmp_path / "manifest"))
    return LakeWriter(spark, base, manifest), LakeReader(spark, base), manifest


def test_partition_fanout_and_symbol_sanitization(lake, ohlc_df, spark):
    writer, reader, _ = lake
    res = writer.write_ohlc(ohlc_df, KEY)
    assert res.rows == 100
    # hive layout with sanitized symbol
    assert os.path.isdir(
        os.path.join(
            writer.base_path,
            "exchange=BINANCE",
            "market=SPOT",
            "symbol=BTC_USDT",
            "data_type=raw",
            "period=1m",
            "year=2023",
            "month=1",
        )
    )
    got = reader.read_dataset(KEY)
    assert got.count() == 100


def test_month_boundary_fanout(lake, spark):
    writer, reader, _ = lake
    # 20 one-minute candles crossing a month boundary (2023-01-31T23:50Z;
    # 2023-02-01T00:00:00Z = 1675209600000)
    start = 1675209600000 - 10 * 60_000
    rows = [(start + i * 60_000, 1.0, 2.0, 0.5, 1.5, 10.0) for i in range(20)]
    df = spark.createDataFrame(
        rows, "ts long, open double, high double, low double, close double, volume double"
    )
    writer.write_ohlc(df, KEY)
    months = {
        (r["year"], r["month"])
        for r in reader.read_dataset(KEY).select("year", "month").distinct().collect()
    }
    assert months == {(2023, 1), (2023, 2)}


def test_upsert_keep_last(lake, spark):
    writer, reader, _ = lake
    schema = "ts long, open double, high double, low double, close double, volume double"
    b1 = spark.createDataFrame(
        [(1672574400000, 1.0, 1.0, 1.0, 1.0, 1.0), (1672574460000, 2.0, 2.0, 2.0, 2.0, 2.0)],
        schema,
    )
    b2 = spark.createDataFrame(
        [(1672574460000, 99.0, 99.0, 99.0, 99.0, 99.0), (1672574520000, 3.0, 3.0, 3.0, 3.0, 3.0)],
        schema,
    )
    writer.write_ohlc(b1, KEY)
    writer.write_ohlc(b2, KEY)
    rows = reader.read_dataset(KEY).orderBy("ts").collect()
    assert [r["ts"] for r in rows] == [1672574400000, 1672574460000, 1672574520000]
    assert rows[1]["close"] == 99.0  # new batch won
    # sorted invariant
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts)


def test_idempotent_reingest(lake, ohlc_df):
    writer, reader, manifest = lake
    writer.write_ohlc(ohlc_df, KEY)
    writer.write_ohlc(ohlc_df, KEY)  # double ingest
    assert reader.read_dataset(KEY).count() == 100
    # manifest upserted by path — still a single entry
    assert manifest.list_entries(symbol="BTC_USDT").count() == 1


def test_missing_ts_raises(lake, spark):
    writer, _, _ = lake
    df = spark.createDataFrame([(1.0,)], "open double")
    with pytest.raises(ValueError, match="ts"):
        writer.write_ohlc(df, KEY)


def test_schema_evolution_union_by_name(lake, spark):
    writer, reader, _ = lake
    schema6 = "ts long, open double, high double, low double, close double, volume double"
    b1 = spark.createDataFrame([(1672574400000 + i * 60000, 1.0, 2.0, 0.5, 1.5, 10.0) for i in range(10)], schema6)
    b2 = (
        spark.createDataFrame(
            [(1672575600000 + i * 60000, 1.0, 2.0, 0.5, 1.5, 10.0, 100.0) for i in range(10)],
            schema6 + ", vwap double",
        )
    )
    writer.write_ohlc(b1, KEY)
    # adding a column is schema EVOLUTION: opt-in under the write-time
    # contract (lake/schema.py), like Delta's mergeSchema write option
    writer.merge_schema = True
    writer.write_ohlc(b2, KEY)
    got = reader.read_dataset(KEY)
    assert got.count() == 20
    assert got.where(F.col("vwap").isNull()).count() == 10


def test_extra_columns_pass_through_ticks(lake, spark):
    writer, reader, _ = lake
    df = spark.createDataFrame(
        [(1672574400000, 10.0, 0.5, "x"), (1672574400500, 10.1, 0.7, "y")],
        "ts long, price double, qty double, note string",
    )
    writer.write_ticks(df, DatasetKey("binance", "spot", "BTCUSDT", period="tick"))
    got = reader.read_range("binance", "BTCUSDT", data_type="ticks")
    assert set(got.columns) >= {"ts", "price", "qty", "note"}
    assert got.count() == 2


# ---------------------------------------------------------------------------
# declarative data-quality expectations
# ---------------------------------------------------------------------------
def test_expectations_report_fail_and_quarantine(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dl_datalake_spark.lake.expectations import (
        ExpectationError,
        accepted_range,
        accepted_values,
        check,
        custom,
        matches,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "BTC", 10.0),
            (2, "ETH", -5.0),     # range violation
            (3, None, 20.0),      # null violation (values/matches skip nulls)
            (3, "BTC", 30.0),     # duplicate id
            (4, "DOGE", 40.0),    # accepted_values violation
        ],
        "id long, sym string, px double",
    )
    exps = [
        not_null("sym"),
        accepted_range("px", 0.0, 100.0),
        accepted_values("sym", ["BTC", "ETH"]),
        matches("sym", "^[A-Z]+$"),
        custom("px_present", F.col("px").isNotNull()),
        unique("id"),
    ]
    rep = {r["name"]: (r["violations"], r["passed"]) for r in check(df, exps).collect()}
    assert rep["not_null_sym"] == (1, False)
    assert rep["range_px"] == (1, False)
    assert rep["values_sym"] == (1, False)
    assert rep["matches_sym"] == (0, True)
    assert rep["px_present"] == (0, True)
    assert rep["unique_id"] == (1, False)
    assert all(r["total"] == 5 for r in check(df, exps).collect())

    with _pytest.raises(ExpectationError, match="range_px"):
        check(df, exps, enforce="fail")

    good, bad, rep_df = check(df, exps, enforce="quarantine")
    # rows 2 (range), 3-null (not_null), 4 (values) fail; duplicate id
    # rows both pass row-level checks
    assert {r["id"] for r in good.collect()} == {1, 3}
    assert bad.count() == 3

    clean = spark.createDataFrame([(1, "BTC", 1.0)], "id long, sym string, px double")
    assert check(clean, exps, enforce="fail").count() == 6


# ---------------------------------------------------------------------------
# multi-dataset single-job write (write_ohlc_multi)
# ---------------------------------------------------------------------------
def _multi_df(spark, symbols, n=10, start=1672574400000, price=1.0):
    rows = [
        (sym, start + i * 60000, price, price + 1, price - 0.5, price + 0.5, 10.0)
        for sym in symbols
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "symbol string, ts long, open double, high double, low double, "
        "close double, volume double",
    )


def test_write_ohlc_multi_matches_per_symbol_writes(lake, spark):
    writer, reader, manifest = lake
    df = _multi_df(spark, ["AAA/USD", "BBB/USD", "CCC/USD"])
    out = writer.write_ohlc_multi(df, "binance", "spot", "raw", "1m")
    assert set(out) == {"AAA_USD", "BBB_USD", "CCC_USD"}
    for sym, res in out.items():
        assert res.rows == 10
        key = DatasetKey("BINANCE", "SPOT", sym, "raw", "1m")
        assert reader.read_dataset(key).count() == 10
        # one manifest row per dataset, path-keyed
        assert manifest.list_entries(symbol=sym, data_type="raw").count() == 1

    # upsert overlap across ALL symbols in one call: last write wins per ts
    df2 = _multi_df(spark, ["AAA/USD", "BBB/USD", "CCC/USD"], n=5, price=9.0)
    out2 = writer.write_ohlc_multi(df2, "binance", "spot", "raw", "1m")
    for sym in out2:
        key = DatasetKey("BINANCE", "SPOT", sym, "raw", "1m")
        got = reader.read_dataset(key)
        assert got.count() == 10  # 5 replaced, 5 kept
        assert got.where(F.col("open") == 9.0).count() == 5
        # manifest still one row per dataset; range widened monotonically
        entries = manifest.list_entries(symbol=sym, data_type="raw").collect()
        assert len(entries) == 1
        assert entries[0]["time_from"] == 1672574400000
        assert entries[0]["time_to"] == 1672574400000 + 9 * 60000


def test_refresh_rollup_all_never_calls_per_symbol_write(spark, tmp_path, monkeypatch):
    """The rollup refresh must go through the ONE multi-dataset write
    job, not a per-symbol write loop."""
    from dl_datalake_spark.client import DataLakeClient
    from dl_datalake_spark.flows import backfill_flow

    client = DataLakeClient(spark, str(tmp_path / "base"))
    HOUR = 3_600_000
    backfill_flow(
        client, ["AAA_USD", "BBB_USD", "CCC_USD"], timeframe_ms=60_000,
        start_ms=0, end_ms=HOUR, exchange="SYNTH",
    )

    def boom(*a, **kw):
        raise AssertionError("refresh_rollup_all used the per-symbol write path")

    monkeypatch.setattr(client.writer, "write_ohlc", boom)
    calls = []
    orig = client.writer.write_ohlc_multi

    def counted(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(client.writer, "write_ohlc_multi", counted)
    out = client.refresh_rollup_all("SYNTH", target_period="15m")
    assert set(out) == {"AAA_USD", "BBB_USD", "CCC_USD"}
    assert len(calls) == 1  # one commit for all three datasets
    for sym in out:
        assert out[sym].rows == 4  # one hour of 1m -> four 15m buckets


# ---------------------------------------------------------------------------
# concurrent-writer failure modes: the optimistic commit log's contract
# (lake/commitlog.py) — serialized upserts, clean claim timeout
# ---------------------------------------------------------------------------
def test_concurrent_upserts_serialize_to_correct_final_state(lake, spark):
    """Two threads upserting DISJOINT ts ranges of the same dataset:
    the path lock serializes the read-modify-write cycles, so both
    batches survive (without the lock one side's rows are lost)."""
    import threading

    writer, reader, _ = lake
    start = 1672574400000
    dfs = [
        spark.createDataFrame(
            [(start + (i + off) * 60000, 1.0, 2.0, 0.5, 1.5, 10.0) for i in range(20)],
            "ts long, open double, high double, low double, close double, volume double",
        )
        for off in (0, 20)
    ]
    errs = []

    def work(df):
        try:
            writer.write_ohlc(df, KEY)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=work, args=(d,)) for d in dfs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert errs == []
    got = reader.read_dataset(KEY)
    assert got.count() == 40  # both writers' rows present
    assert got.select("ts").distinct().count() == 40


def test_commit_timeout_is_clean_and_leaves_no_partial_write(lake, spark, ohlc_df):
    """A writer that cannot claim a commit slot (another writer's claim
    is in flight) fails with CommitTimeout BEFORE any read/merge/
    overwrite starts — the dataset is untouched (no partial partition
    overwrite).  After the blocker finalizes, a normal upsert succeeds."""
    from dl_datalake_spark.lake.commitlog import CommitTimeout

    writer, reader, _ = lake
    writer.write_ohlc(ohlc_df, KEY)
    before = [r["ts"] for r in reader.read_dataset(KEY).select("ts").collect()]

    replacement = ohlc_df.withColumn("open", F.lit(99.0))
    log = writer.commit_log(KEY)
    v0 = log.latest_version()
    assert v0 == 0  # the first write committed version 0
    # simulate a stuck concurrent writer: claim the next slot, never finalize
    assert log._claim(v0 + 1, "stuck-token")
    old_timeout = writer.commit_timeout_s
    writer.commit_timeout_s = 0.5
    try:
        with pytest.raises(CommitTimeout):
            writer.write_ohlc(replacement, KEY)
    finally:
        writer.commit_timeout_s = old_timeout
        log._abort(v0 + 1, "stuck-token")  # stuck writer dies; slot released

    # dataset unchanged: same rows, original values
    after = reader.read_dataset(KEY)
    assert sorted(r["ts"] for r in after.select("ts").collect()) == sorted(before)
    assert after.where(F.col("open") == 99.0).count() == 0
    # and the slot is free again: a normal upsert now succeeds
    res = writer.write_ohlc(replacement, KEY)
    assert res.rows == 100
    assert reader.read_dataset(KEY).where(F.col("open") == 99.0).count() == 100
    # the commit log recorded both finalized commits with their stats
    hist = writer.commit_log(KEY).history()
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[-1]["rows"] == 100


def test_stale_claim_is_rolled_aside_and_taken_over(lake, spark, ohlc_df):
    """A claim whose owner crashed (no finalize, older than the stale
    timeout) must not wedge the dataset forever: the next writer rolls
    it aside atomically and takes the slot over."""
    writer, reader, _ = lake
    writer.write_ohlc(ohlc_df, KEY)
    log = writer.commit_log(KEY)
    assert log._claim(1, "crashed-token")  # crashed writer's leftover claim
    log.stale_timeout_s = 0.0  # age out immediately for the test

    # writer._write builds its own CommitLog with the default stale
    # timeout, so drive the takeover through a transaction on this log
    with log.transaction(timeout=5.0) as meta:
        meta["note"] = "takeover"
    assert log.latest_version() == 1
    # normal writes proceed afterwards
    res = writer.write_ohlc(ohlc_df.withColumn("open", F.lit(7.0)), KEY)
    assert res.rows == 100


def test_concurrent_multi_writes_with_overlapping_symbols(lake, spark):
    """Two write_ohlc_multi calls whose symbol sets OVERLAP, run from
    two threads: sorted-order lock acquisition serializes them without
    deadlock and both batches' disjoint ts ranges survive on the shared
    symbol."""
    import threading

    writer, reader, manifest = lake
    d1 = _multi_df(spark, ["AAA/USD", "BBB/USD"], n=10)                       # ts 0..9
    d2 = _multi_df(spark, ["BBB/USD", "CCC/USD"], n=10,
                   start=1672574400000 + 10 * 60000)                          # ts 10..19
    errs = []

    def work(df):
        try:
            writer.write_ohlc_multi(df, "binance", "spot", "raw", "1m")
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=work, args=(d,)) for d in (d1, d2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert errs == []
    for sym, expect in (("AAA_USD", 10), ("BBB_USD", 20), ("CCC_USD", 10)):
        key = DatasetKey("BINANCE", "SPOT", sym, "raw", "1m")
        assert reader.read_dataset(key).count() == expect
        assert manifest.list_entries(symbol=sym, data_type="raw").count() == 1
    # the shared symbol's manifest range spans BOTH batches
    e = manifest.list_entries(symbol="BBB_USD", data_type="raw").collect()[0]
    assert e["time_from"] == 1672574400000
    assert e["time_to"] == 1672574400000 + 19 * 60000


def test_concurrent_multi_writes_disjoint_symbols_no_staging_collision(lake, spark):
    """ADVICE r7: two write_ohlc_multi calls on DISJOINT symbol sets run
    concurrently — with per-txid staging neither job's committer cleanup
    can clobber the other's in-flight files (previously both staged under
    the one shared <base>/_temporary/0/). All four datasets must land
    complete and no staging dir may survive."""
    import threading

    writer, reader, _ = lake
    d1 = _multi_df(spark, ["AAA/USD", "BBB/USD"], n=8)
    d2 = _multi_df(spark, ["CCC/USD", "DDD/USD"], n=12)
    errs = []

    def work(df):
        try:
            writer.write_ohlc_multi(df, "binance", "spot", "raw", "1m")
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=work, args=(d,)) for d in (d1, d2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert errs == []
    for sym, expect in (("AAA_USD", 8), ("BBB_USD", 8), ("CCC_USD", 12), ("DDD_USD", 12)):
        key = DatasetKey("BINANCE", "SPOT", sym, "raw", "1m")
        assert reader.read_dataset(key).count() == expect
    leftovers = [
        os.path.join(r, d)
        for r, dirs, _ in os.walk(writer.base_path)
        for d in dirs
        if d == "_temporary" or d.startswith("_staging_")
    ]
    assert leftovers == [], leftovers


def test_expectations_null_predicate_counts_as_violation(spark):
    """Three-valued logic: a custom() predicate that evaluates to NULL
    must count as a violation AND land in the quarantine bad split —
    without the coalesce the row silently vanishes from both outputs
    while the report claims it passed."""
    from pyspark.sql import functions as F

    from dl_datalake_spark.lake.expectations import check, custom

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -1.0)], "id long, px double"
    )
    # px > 0 is NULL for the NULL px row
    exps = [custom("px_positive", F.col("px") > 0)]
    report = {r["name"]: r for r in check(df, exps).collect()}
    assert report["px_positive"]["violations"] == 2  # NULL + negative

    good, bad, rep = check(df, exps, enforce="quarantine")
    assert sorted(r["id"] for r in good.collect()) == [1]
    assert sorted(r["id"] for r in bad.collect()) == [2, 3]  # none dropped
    assert good.count() + bad.count() == df.count()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        check(df, exps, enforce="nonsense")


def test_ingest_flow_quarantine_mode(spark, tmp_path):
    """ingest_pipeline_flow(enforce='quarantine') surfaces the split
    instead of raising AttributeError on the tuple return."""
    from dl_datalake_spark.client import DataLakeClient
    from dl_datalake_spark.flows import ingest_pipeline_flow
    from dl_datalake_spark.lake.expectations import accepted_range

    csv = tmp_path / "q.csv"
    csv.write_text(
        "ts,open,high,low,close,volume\n"
        + "\n".join(
            f"{1672574400000 + i * 60000},1,2,0.5,{-1.5 if i < 3 else 1.5},10"
            for i in range(10)
        )
    )
    client = DataLakeClient(spark, str(tmp_path / "base"))
    out = ingest_pipeline_flow(
        client, str(csv), "BINANCE", "SPOT", "BTCUSDT",
        targets=(),
        expectations=[accepted_range("close", 0.0, 100.0)],
        enforce="quarantine",
    )
    assert out["quarantined"] == 3 and out["good_rows"] == 7
    names = {e["name"]: e for e in out["expectations"]}
    assert names["range_close"]["violations"] == 3


# ---------------------------------------------------------------------------
# row-level delete: copy-on-write rewrite of touched partitions only
# ---------------------------------------------------------------------------
def test_delete_range_rewrites_only_touched_partitions(lake, spark):
    writer, reader, manifest = lake
    jan = 1672574400000   # 2023-01-01T12:00Z
    feb = 1675306800000   # 2023-02-02T03:00Z
    rows = [(jan + i * 60_000, float(i)) for i in range(10)] + [
        (feb + i * 60_000, 100.0 + i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "ts long, price double")
    writer.write_ticks(df, KEY)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    feb_dir = os.path.join(
        writer.dataset_path(key), "year=2023", "month=2"
    )
    feb_mtimes = {
        f: os.path.getmtime(os.path.join(feb_dir, f)) for f in os.listdir(feb_dir)
    }

    # delete 5 january rows
    res = writer.delete_range(key, jan + 2 * 60_000, jan + 6 * 60_000)
    assert res.rows == 5
    assert res.partitions == [[2023, 1]]
    got = reader.read_dataset(key)
    assert got.count() == 15
    assert got.where(F.col("price") < 100).count() == 5  # 0,1,7,8,9 remain
    # february partition untouched on disk (no rewrite amplification)
    assert {
        f: os.path.getmtime(os.path.join(feb_dir, f)) for f in os.listdir(feb_dir)
    } == feb_mtimes
    # the delete is a first-class commit with its touched partitions
    hist = writer.commit_log(key).history()
    assert hist[-1]["mode"] == "delete"
    assert hist[-1]["rows"] == 5
    assert hist[-1]["partitions"] == [[2023, 1]]
    # manifest range/rows refreshed from the remainder
    entry = sorted(
        (e for e in manifest.load().collect() if e["symbol"] == "BTC_USDT"),
        key=lambda e: e["id"],
    )[-1]
    assert entry["time_from"] == jan  # ts 0 survived the delete
    assert '"rows": 15' in entry["metadata_json"]


def test_delete_where_emptied_partition_vanishes_from_snapshot_then_vacuum(lake, spark):
    """MVCC contract: an emptied partition's rows vanish from the
    committed snapshot INSTANTLY (pinned list excludes its files), but
    the files stay on disk as tombstones — a concurrent reader pinned
    to the previous commit keeps its inputs — until vacuum_tombstones
    reclaims them past the retention horizon and prunes the dirs."""
    from dl_datalake_spark.lake.maintenance import vacuum_tombstones

    writer, reader, _ = lake
    jan = 1672574400000
    feb = 1675306800000
    df = spark.createDataFrame(
        [(jan, 1.0), (jan + 60_000, 2.0), (feb, 3.0)], "ts long, price double"
    )
    writer.write_ticks(df, KEY)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    res = writer.delete_where(key, "year = 2023 AND month = 1")
    assert res.rows == 2
    ds = writer.dataset_path(key)
    # snapshot: january gone; disk: tombstones still present
    assert reader.read_dataset(key).count() == 1
    assert os.path.exists(os.path.join(ds, "year=2023", "month=1"))

    res2 = writer.delete_where(key, F.col("price") == 3.0)
    assert res2.rows == 1
    assert reader.read_dataset(key).count() == 0

    # dry-run reports, removes nothing
    rep = vacuum_tombstones(spark, writer.base_path, retention_s=0.0, dry_run=True)
    assert len(rep["removed"]) >= 2 and os.path.exists(
        os.path.join(ds, "year=2023", "month=1")
    )
    # inside the retention horizon nothing is reclaimed
    rep_young = vacuum_tombstones(
        spark, writer.base_path, retention_s=3600.0, dry_run=False
    )
    assert rep_young["removed"] == [] and len(rep_young["retained"]) >= 2
    # past the horizon: files reclaimed, emptied partition dirs pruned
    rep2 = vacuum_tombstones(spark, writer.base_path, retention_s=0.0, dry_run=False)
    assert len(rep2["removed"]) >= 2
    assert not os.path.exists(os.path.join(ds, "year=2023"))
    assert reader.read_dataset(key).count() == 0  # snapshot unchanged


def test_vacuum_ages_tombstones_by_supersession_not_mtime(lake, spark):
    """ADVICE r7 (high): retention must run from the moment a file was
    SUPERSEDED (the committing entry's committed_at), not from when it
    was written. Rewriting an old month is the common case: the
    replaced file's mtime is ancient, but a reader pinned to the
    previous commit may still be scanning it — so a just-tombstoned
    old file must sit inside the retention horizon."""
    from dl_datalake_spark.lake.maintenance import vacuum_tombstones

    writer, reader, _ = lake
    jan = 1672574400000
    df = spark.createDataFrame([(jan, 1.0), (jan + 60_000, 2.0)], "ts long, price double")
    writer.write_ticks(df, KEY)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    ds = writer.dataset_path(key)
    # backdate every data file: written "a year ago"
    old = 1.0e9  # 2001
    for root, _dirs, names in os.walk(ds):
        for n in names:
            if n.endswith(".parquet"):
                os.utime(os.path.join(root, n), (old, old))
    # supersede the old files NOW (upsert rewrites the january partition)
    up = spark.createDataFrame([(jan, 9.0)], "ts long, price double")
    writer.write_ticks(up, key, mode="upsert")
    # a 1h horizon must RETAIN the just-superseded (but mtime-ancient) files
    rep = vacuum_tombstones(spark, writer.base_path, retention_s=3600.0, dry_run=False)
    assert rep["removed"] == []
    assert len(rep["retained"]) >= 1
    # the pinned previous snapshot is still fully readable (time travel)
    assert reader.read_dataset_at(key, writer.commit_log(key).latest_version() - 1).count() == 2
    # an untracked orphan (no commit ever removed it) still ages by mtime
    orphan = os.path.join(ds, "year=2023", "month=1", "orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1")
    os.utime(orphan, (old, old))
    rep2 = vacuum_tombstones(spark, writer.base_path, retention_s=3600.0, dry_run=True)
    assert any(p.endswith("orphan.parquet") for p in rep2["removed"])
    os.remove(orphan)
    # past the horizon the superseded files are reclaimed as before
    rep3 = vacuum_tombstones(spark, writer.base_path, retention_s=0.0, dry_run=False)
    assert len(rep3["removed"]) >= 1


def test_reader_snapshot_isolation_under_concurrent_writes(lake, spark):
    """VERDICT r6 #2 'done' criterion: reads looping concurrently with
    upsert + delete_where rewrites never see a torn partition set (a
    row count matching no committed snapshot) and never hit a
    vanished-file error — every scan pins a committed file list
    (lake/snapshot.py) and superseded files persist as tombstones."""
    import threading

    writer, reader, _ = lake
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    N = 40
    full = lambda v: spark.createDataFrame(
        [(jan + i * 60000, float(v)) for i in range(N)], "ts long, price double"
    )
    writer.write_ticks(full(0), key)  # first committed snapshot: N rows

    stop = threading.Event()
    errors: list[Exception] = []

    def churn():
        try:
            for cycle in range(1, 4):
                # every committed snapshot holds exactly N rows or 0:
                # an upsert rewrites the same N ts keys, the delete
                # purges the whole month
                writer.write_ticks(full(cycle), key)
                writer.delete_where(key, F.col("price") >= 0, months=[(2023, 1)])
                writer.write_ticks(full(cycle), key)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=churn)
    t.start()
    seen: set[int] = set()
    try:
        while not stop.is_set():
            c = reader.read_dataset(key).count()  # must never raise
            seen.add(c)
            assert c in (0, N), f"torn read: {c} rows matches no committed snapshot"
    finally:
        t.join()
    assert not errors, errors
    assert N in seen  # the loop actually observed committed data


def test_delete_where_no_match_commits_nothing(lake, spark):
    writer, _, _ = lake
    jan = 1672574400000
    writer.write_ticks(
        spark.createDataFrame([(jan, 1.0)], "ts long, price double"), KEY
    )
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    res = writer.delete_where(key, F.col("price") > 99.0)
    assert res.rows == 0 and res.partitions == []
    hist = writer.commit_log(key).history()
    assert [h["mode"] for h in hist] == ["upsert"]  # no delete commit
    # and the claim the probe held was released: next write proceeds
    writer.write_ticks(
        spark.createDataFrame([(jan + 60_000, 2.0)], "ts long, price double"), KEY
    )
    assert writer.commit_log(key).latest_version() == 1


def test_delete_null_predicate_rows_survive(lake, spark):
    writer, reader, _ = lake
    jan = 1672574400000
    df = spark.createDataFrame(
        [(jan, 1.0), (jan + 60_000, None), (jan + 120_000, 3.0)],
        "ts long, price double",
    )
    writer.write_ticks(df, KEY)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    # SQL DELETE semantics: NULL predicate rows are NOT deleted
    res = writer.delete_where(key, F.col("price") < 2.0)
    assert res.rows == 1
    got = reader.read_dataset(key)
    assert got.count() == 2
    assert got.where(F.col("price").isNull()).count() == 1


def test_delete_is_visible_to_cdc_consumers(lake, spark):
    writer, reader, _ = lake
    jan = 1672574400000
    mar = 1677660000000
    writer.write_ticks(
        spark.createDataFrame(
            [(jan + i * 60_000, 1.0) for i in range(5)]
            + [(mar + i * 60_000, 2.0) for i in range(5)],
            "ts long, price double",
        ),
        KEY,
    )
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    _, cursor = reader.read_changes_since(key, after_version=-1)

    writer.delete_range(key, jan, jan + 60_000)  # drop 2 january rows
    df, cursor2 = reader.read_changes_since(key, after_version=cursor)
    assert cursor2 == cursor + 1
    months = {(r["year"], r["month"]) for r in df.select("year", "month").distinct().collect()}
    assert months == {(2023, 1)}  # consumer re-reads exactly the month
    assert df.count() == 3        # and sees the post-delete remainder


def test_delete_range_spanning_year_boundary(lake, spark):
    """delete_range's month derivation must walk across December ->
    January correctly (the 12 -> (y+1, 1) rollover)."""
    writer, reader, _ = lake
    dec = 1671883200000  # 2022-12-24T12:00Z
    rows = [(dec + i * 86_400_000, float(i)) for i in range(20)]  # daily into Jan
    writer.write_ticks(
        spark.createDataFrame(rows, "ts long, price double"), KEY
    )
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    got = reader.read_dataset(key)
    assert {(r["year"], r["month"]) for r in got.select("year", "month").distinct().collect()} == {
        (2022, 12), (2023, 1)
    }
    # delete a window straddling new year (days 5..14 => Dec 29 .. Jan 7)
    res = writer.delete_range(key, dec + 5 * 86_400_000, dec + 14 * 86_400_000)
    assert res.rows == 10
    assert res.partitions == [[2022, 12], [2023, 1]]
    remaining = reader.read_dataset(key)
    assert remaining.count() == 10
    assert remaining.where(F.col("price").between(5.0, 14.0)).count() == 0


def test_concurrent_delete_and_upsert_serialize_through_commit_log(lake, spark):
    """A delete and an upsert racing on one dataset must serialize: both
    commit (order decided by the log), no partial state survives."""
    import threading

    writer, reader, _ = lake
    jan = 1672574400000
    writer.write_ticks(
        spark.createDataFrame(
            [(jan + i * 60_000, float(i)) for i in range(20)], "ts long, price double"
        ),
        KEY,
    )
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    errs = []

    def do_delete():
        try:
            writer.delete_range(key, jan, jan + 4 * 60_000)  # drop ts 0..4
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def do_upsert():
        try:
            writer.write_ticks(
                spark.createDataFrame(
                    [(jan + i * 60_000, 100.0 + i) for i in range(10, 15)],
                    "ts long, price double",
                ),
                KEY,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=do_delete)
    t2 = threading.Thread(target=do_upsert)
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errs, errs

    got = {r["ts"]: r["price"] for r in reader.read_dataset(key).collect()}
    # delete removed ts 0..4; upsert replaced ts 10..14 regardless of order
    assert len(got) == 15
    for i in range(5):
        assert jan + i * 60_000 not in got
    for i in range(10, 15):
        assert got[jan + i * 60_000] == 100.0 + i
    hist = writer.commit_log(key).history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert {h["mode"] for h in hist[1:]} == {"delete", "upsert"}


def test_writes_pin_dynamic_overwrite_on_a_static_session(lake, spark):
    """The lake must never trust the ambient partitionOverwriteMode:
    DataLakeClient accepts any SparkSession, and under static mode the
    same overwrite would replace the ENTIRE base_path — a row-level
    delete of one month would silently drop every other dataset."""
    writer, reader, _ = lake
    jan = 1672574400000
    feb = 1675306800000
    writer.write_ticks(
        spark.createDataFrame(
            [(jan + i * 60_000, float(i)) for i in range(5)]
            + [(feb + i * 60_000, 100.0 + i) for i in range(5)],
            "ts long, price double",
        ),
        KEY,
    )
    other = DatasetKey("binance", "spot", "ETH/USDT", "raw", "1m")
    writer.write_ohlc(
        spark.createDataFrame(
            [(jan, 1.0, 2.0, 0.5, 1.5, 10.0)],
            "ts long, open double, high double, low double, close double, volume double",
        ),
        other,
    )
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        # delete one january row on a STATIC session
        res = writer.delete_range(key, jan, jan)
        assert res.rows == 1
        # upsert into january on a STATIC session
        writer.write_ticks(
            spark.createDataFrame([(jan + 9 * 60_000, 9.9)], "ts long, price double"),
            KEY,
        )
        # the caller's conf choice is restored, not hijacked
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # untouched months and untouched DATASETS all survived
    assert reader.read_dataset(key).count() == 10  # 4 jan + 5 feb + 1 new
    assert (
        reader.read_dataset(
            DatasetKey("BINANCE", "SPOT", "ETH_USDT", "raw", "1m")
        ).count()
        == 1
    )


def test_delete_rows_requires_both_range_bounds(spark, tmp_path):
    from dl_datalake_spark.client import DataLakeClient

    client = DataLakeClient(spark, str(tmp_path / "lake"))
    with pytest.raises(ValueError, match="BOTH"):
        client.delete_rows("BINANCE", "BTCUSDT", start_ms=5)
    with pytest.raises(ValueError, match="BOTH"):
        client.delete_rows("BINANCE", "BTCUSDT", end_ms=5)
    with pytest.raises(ValueError, match="exactly one"):
        client.delete_rows("BINANCE", "BTCUSDT")
    with pytest.raises(ValueError, match="exactly one"):
        client.delete_rows("BINANCE", "BTCUSDT", where="price > 1", start_ms=1, end_ms=2)


def test_row_level_change_feed_insert_update_delete(spark, tmp_path):
    """emit_cdf=True gives a Delta-style row-level change feed: every
    commit's changed rows land under _cdf/commit_version=N tagged
    insert / update_postimage / delete, readable as a cursored feed."""
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    base = str(tmp_path / "cdf_lake")
    w = LakeWriter(spark, base, emit_cdf=True)
    r = LakeReader(spark, base)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    mk = lambda rows: spark.createDataFrame(rows, "ts long, price double")

    w.write_ticks(mk([(jan, 1.0), (jan + 60000, 2.0), (jan + 120000, 3.0)]), key)  # v0
    w.write_ticks(mk([(jan + 60000, 2.5), (jan + 180000, 4.0)]), key)              # v1
    assert w.delete_range(key, jan, jan).rows == 1                                  # v2

    feed, cursor = r.read_change_feed(key, after_version=-1)
    assert cursor == 2
    got = {
        (x["commit_version"], x["ts"]): (x["_change_type"], x["price"])
        for x in feed.collect()
    }
    assert got == {
        (0, jan): ("insert", 1.0),
        (0, jan + 60000): ("insert", 2.0),
        (0, jan + 120000): ("insert", 3.0),
        (1, jan + 60000): ("update_postimage", 2.5),
        (1, jan + 180000): ("insert", 4.0),
        (2, jan): ("delete", 1.0),  # pre-image of the purged row
    }

    # cursor advance: only the delete remains after version 1
    feed2, cursor2 = r.read_change_feed(key, after_version=1)
    assert cursor2 == 2
    assert [(x["_change_type"], x["ts"]) for x in feed2.collect()] == [("delete", jan)]

    # caught up
    assert r.read_change_feed(key, after_version=2) == (None, 2)

    # the data itself reflects the feed (keep-last + delete applied)
    data = {x["ts"]: x["price"] for x in r.read_dataset(key).collect()}
    assert data == {jan + 60000: 2.5, jan + 120000: 3.0, jan + 180000: 4.0}


def test_change_feed_overwrite_emits_delete_preimages(spark, tmp_path):
    """mode=overwrite replaces touched months wholesale — the feed must
    carry a delete PRE-IMAGE for every pre-state row the replacement
    removed (round-6 ADVICE: inserts alone make a non-idempotent
    consumer silently retain dropped rows; Delta CDF emits these)."""
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    base = str(tmp_path / "cdf_ow")
    w = LakeWriter(spark, base, emit_cdf=True)
    r = LakeReader(spark, base)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    mk = lambda rows: spark.createDataFrame(rows, "ts long, price double")

    w.write_ticks(mk([(jan, 1.0), (jan + 60000, 2.0), (jan + 120000, 3.0)]), key)  # v0
    res = w.write_ticks(
        mk([(jan + 60000, 2.5), (jan + 180000, 4.0)]), key, mode="overwrite"
    )  # v1: January snapshot-replaced
    assert res.rows == 2  # stats count written rows, never delete pre-images

    feed, cursor = r.read_change_feed(key, after_version=0)
    assert cursor == 1
    got = {
        x["ts"]: (x["_change_type"], x["price"]) for x in feed.collect()
    }
    assert got == {
        jan: ("delete", 1.0),  # pre-image of a row the overwrite removed
        jan + 120000: ("delete", 3.0),
        jan + 60000: ("update_postimage", 2.5),
        jan + 180000: ("insert", 4.0),
    }
    # the data tree holds exactly the batch — deletes never leak into it
    data = {x["ts"]: x["price"] for x in r.read_dataset(key).collect()}
    assert data == {jan + 60000: 2.5, jan + 180000: 4.0}


def test_change_feed_pagination_serves_whole_commits(spark, tmp_path):
    """paginate_change_feed never splits a commit across a page: cursor
    advances only past fully-served commits, `truncated` tells the
    consumer to re-request (round-6 ADVICE: LIMIT n + cursor=latest
    silently dropped every row past the limit)."""
    from dl_datalake_spark.client import DataLakeClient

    client = DataLakeClient(spark, str(tmp_path / "lake"), emit_cdf=True)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    mk = lambda n, off: spark.createDataFrame(
        [(jan + (off + i) * 60000, float(i)) for i in range(n)], "ts long, price double"
    )
    client.writer.write_ticks(mk(3, 0), key)    # v0: 3 inserts
    client.writer.write_ticks(mk(2, 10), key)   # v1: 2 inserts
    client.writer.write_ticks(mk(4, 20), key)   # v2: 4 inserts

    read = lambda after: client.read_change_feed(
        "BINANCE", "BTC_USDT", after_version=after, data_type="ticks", period="1m"
    )
    feed, cursor = read(-1)
    assert cursor == 2

    # limit=4: commit 0 (3 rows) fits, commit 1 would overflow → page
    # is exactly commit 0, cursor pinned there, truncated set
    page, c1, trunc = client.paginate_change_feed(feed, cursor, 4)
    assert trunc and c1 == 0 and page.count() == 3

    # resuming from the returned cursor serves the rest — nothing lost
    feed2, cursor2 = read(c1)
    page2, c2, t2 = client.paginate_change_feed(feed2, cursor2, 100)
    assert not t2 and c2 == 2 and page2.count() == 6

    # an oversized first commit is served WHOLE (never torn), n > limit
    page3, c3, t3 = client.paginate_change_feed(*read(-1), 1)
    assert t3 and c3 == 0 and page3.count() == 3

    # empty feed passthrough
    assert client.paginate_change_feed(None, 2, 10) == (None, 2, False)


def test_change_feed_gap_raises_never_silently_skips(spark, tmp_path):
    """A commit written without CDF emission inside the requested range
    is a GAP: the feed reader raises instead of serving a feed that
    silently misses rows."""
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    base = str(tmp_path / "cdf_gap")
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    mk = lambda rows: spark.createDataFrame(rows, "ts long, price double")

    w_cdf = LakeWriter(spark, base, emit_cdf=True)
    w_plain = LakeWriter(spark, base)  # emit_cdf off
    r = LakeReader(spark, base)

    w_cdf.write_ticks(mk([(jan, 1.0)]), key)          # v0 with CDF
    w_plain.write_ticks(mk([(jan + 60000, 2.0)]), key)  # v1 WITHOUT
    with pytest.raises(ValueError, match="no row-level change data"):
        r.read_change_feed(key, after_version=-1)
    # a cursor past the gap works again
    w_cdf.write_ticks(mk([(jan + 120000, 3.0)]), key)  # v2 with CDF
    feed, cursor = r.read_change_feed(key, after_version=1)
    assert cursor == 2 and feed.count() == 1

    # pruned history past the cursor is also a loud gap
    w_cdf.commit_log(key).prune(keep_last=1)
    with pytest.raises(ValueError, match="truncated"):
        r.read_change_feed(key, after_version=-1)


def test_change_feed_survives_in_place_compaction(spark, tmp_path):
    from dl_datalake_spark.lake.maintenance import compact
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    base = str(tmp_path / "cdf_compact")
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    w = LakeWriter(spark, base, emit_cdf=True)
    r = LakeReader(spark, base)
    w.write_ticks(
        spark.createDataFrame([(jan + i * 60000, float(i)) for i in range(5)],
                              "ts long, price double"),
        key,
    )  # v0
    compact(spark, base, in_place=True)  # v1: mode=compact, no row changes

    feed, cursor = r.read_change_feed(key, after_version=-1)
    assert cursor == 1  # compact commit advances the cursor...
    assert feed.count() == 5  # ...but the feed still serves v0's rows
    # and new CDF commits continue after the swap
    w.write_ticks(spark.createDataFrame([(jan, 9.9)], "ts long, price double"), key)
    feed2, cursor2 = r.read_change_feed(key, after_version=1)
    assert cursor2 == 2
    assert [x["_change_type"] for x in feed2.collect()] == ["update_postimage"]


def test_vacuum_and_compact_never_treat_cdf_as_orphan_dataset(spark, tmp_path):
    """The change feed's parquet lives under a hidden `_cdf/` tree that
    Spark's scans skip but a raw file walk finds: audit/vacuum must not
    flag it as an orphan (vacuum would DELETE every change feed), and
    compaction's dataset discovery must not rewrite it as data."""
    from dl_datalake_spark.lake.maintenance import compact, vacuum
    from dl_datalake_spark.lake.manifest import ManifestManager
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    base = str(tmp_path / "cdf_vac")
    manifest = ManifestManager(spark, base + "_manifest")
    w = LakeWriter(spark, base, manifest, emit_cdf=True)
    r = LakeReader(spark, base)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    w.write_ticks(
        spark.createDataFrame([(jan + i * 60000, float(i)) for i in range(5)],
                              "ts long, price double"),
        key,
    )

    rep = vacuum(spark, base, manifest, dry_run=True)
    assert not any("_cdf" in p for p in rep["orphan_files"])
    vacuum(spark, base, manifest, dry_run=False)
    feed, cursor = r.read_change_feed(key, after_version=-1)
    assert cursor == 0 and feed.count() == 5  # the feed survived vacuum

    compact(spark, base, in_place=True)
    feed2, cursor2 = r.read_change_feed(key, after_version=-1)
    assert cursor2 == 1 and feed2.count() == 5  # survived compaction too
    assert r.read_dataset(key).count() == 5


def test_prune_commit_logs_ages_out_change_feed_dirs(spark, tmp_path):
    import os

    from dl_datalake_spark.lake.maintenance import prune_commit_logs
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    base = str(tmp_path / "cdf_prune")
    w = LakeWriter(spark, base, emit_cdf=True)
    r = LakeReader(spark, base)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    for i in range(4):  # v0..v3, one CDF dir each
        w.write_ticks(
            spark.createDataFrame([(jan + i * 60000, float(i))], "ts long, price double"),
            key,
        )
    ds = w.dataset_path(key)
    assert len(os.listdir(os.path.join(ds, "_cdf"))) == 4

    rep = prune_commit_logs(spark, base, keep_last=2)
    assert rep  # something was pruned
    left = sorted(os.listdir(os.path.join(ds, "_cdf")))
    assert left == ["commit_version=2", "commit_version=3"]

    # feed from a cursor inside the retained window still serves
    feed, cursor = r.read_change_feed(key, after_version=1)
    assert cursor == 3 and feed.count() == 2
    # a cursor behind the retained history is a loud truncation error
    with pytest.raises(ValueError, match="truncated"):
        r.read_change_feed(key, after_version=-1)


def test_change_feed_replay_reconstructs_table_state(spark, tmp_path):
    """The CDF's core meaning: replaying the feed (apply inserts/
    update_postimages, remove deletes, in commit order) reconstructs
    the table byte-for-byte — across a seeded random history of
    overlapping upserts and range deletes."""
    import random

    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    rng = random.Random(42)
    base = str(tmp_path / "cdf_replay")
    w = LakeWriter(spark, base, emit_cdf=True)
    r = LakeReader(spark, base)
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    jan = 1672574400000
    state: dict[int, float] = {}

    for _ in range(6):
        op = rng.choice(["upsert", "upsert", "delete"]) if state else "upsert"
        if op == "upsert":
            rows = {
                jan + rng.randrange(40) * 60000: round(rng.random() * 100, 2)
                for _ in range(rng.randrange(1, 6))
            }
            w.write_ticks(
                spark.createDataFrame(sorted(rows.items()), "ts long, price double"),
                key,
            )
            state.update(rows)
        else:
            keys = sorted(state)
            t0, t1 = sorted(rng.choice(keys) for _ in range(2))
            expected = [t for t in keys if t0 <= t <= t1]
            res = w.delete_range(key, t0, t1)
            assert res.rows == len(expected)
            for t in expected:
                state.pop(t)

    feed, _cursor = r.read_change_feed(key, after_version=-1)
    replay: dict[int, float] = {}
    for row in feed.orderBy("commit_version").collect():
        if row["_change_type"] == "delete":
            replay.pop(row["ts"], None)
        else:  # insert / update_postimage both carry the post-image
            replay[row["ts"]] = row["price"]
    table = {x["ts"]: x["price"] for x in r.read_dataset(key).collect()}
    assert replay == state == table


def test_multi_write_emits_per_dataset_change_feed(spark, tmp_path):
    """write_ohlc_multi with emit_cdf: the merged job's change tags are
    split per symbol (one staging job + renames) so read_change_feed
    serves each multi-written dataset gap-free; overwrite still refuses
    loudly (no per-dataset delete pre-images on the multi path)."""
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.writer import LakeWriter

    base = str(tmp_path / "cdf_multi_lake")
    w = LakeWriter(spark, base, emit_cdf=True)
    r = LakeReader(spark, base)
    jan = 1672574400000

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "symbol string, ts long, open double, high double, low double, "
            "close double, volume double",
        )

    # v0: two symbols, two rows each
    w.write_ohlc_multi(
        mk([(s, jan + i * 60000, 1.0, 2.0, 0.5, 1.5, 10.0)
            for s in ("AAA/USD", "BBB/USD") for i in range(2)]),
        "binance", "spot",
    )
    # v1: update one row of AAA, insert one new row into BBB
    w.write_ohlc_multi(
        mk([("AAA/USD", jan, 9.0, 10.0, 8.5, 9.5, 10.0),
            ("BBB/USD", jan + 120000, 1.0, 2.0, 0.5, 1.5, 10.0)]),
        "binance", "spot",
    )

    ka = DatasetKey("BINANCE", "SPOT", "AAA_USD", "raw", "1m")
    kb = DatasetKey("BINANCE", "SPOT", "BBB_USD", "raw", "1m")
    feed_a, cur_a = r.read_change_feed(ka, after_version=-1)
    got_a = {
        (x["commit_version"], x["ts"]): (x["_change_type"], x["open"])
        for x in feed_a.collect()
    }
    assert cur_a == 1
    assert got_a == {
        (0, jan): ("insert", 1.0),
        (0, jan + 60000): ("insert", 1.0),
        (1, jan): ("update_postimage", 9.0),
    }
    feed_b, cur_b = r.read_change_feed(kb, after_version=1)
    assert (feed_b, cur_b) == (None, 1)  # caught up
    feed_b_all, _ = r.read_change_feed(kb, after_version=0)
    assert [
        (x["_change_type"], x["ts"]) for x in feed_b_all.collect()
    ] == [("insert", jan + 120000)]
    # the feed rows keep the symbol as a data column
    assert {x["symbol"] for x in feed_a.collect()} == {"AAA_USD"}

    # overwrite + CDF on the multi path refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="delete pre-images"):
        w.write_ohlc_multi(
            mk([("AAA/USD", jan, 1.0, 2.0, 0.5, 1.5, 10.0)]),
            "binance", "spot", mode="overwrite",
        )


def test_writer_expectations_fail_and_quarantine(lake, spark):
    """Write-time CHECK constraints (Delta parity): enforce='fail'
    rejects the batch before any claim; enforce='quarantine' commits
    only passing rows, preserves violators under _quarantine/, and the
    commit payload carries per-constraint counts."""
    from dl_datalake_spark.lake.expectations import (
        ExpectationError,
        accepted_range,
        not_null,
    )

    writer, reader, _ = lake
    jan = 1672574400000
    df = spark.createDataFrame(
        [(jan + i * 60000, float(i) if i < 8 else -1.0) for i in range(10)],
        "ts long, price double",
    )
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")

    strict = LakeWriter(
        spark, writer.base_path,
        expectations=[not_null("price"), accepted_range("price", 0.0, 100.0)],
        enforce="fail",
    )
    with pytest.raises(ExpectationError, match="range_price"):
        strict.write_ticks(df, KEY)
    assert reader.read_dataset(key).count() == 0  # untouched, no commit
    assert strict.commit_log(key).latest_version() == -1

    lenient = LakeWriter(
        spark, writer.base_path,
        expectations=[not_null("price"), accepted_range("price", 0.0, 100.0)],
        enforce="quarantine",
    )
    res = lenient.write_ticks(df, KEY)
    assert res.rows == 8
    assert reader.read_dataset(key).count() == 8
    ds = lenient.dataset_path(key)
    qroot = os.path.join(ds, "_quarantine")
    qdirs = os.listdir(qroot)
    assert len(qdirs) == 1
    q = spark.read.parquet(os.path.join(qroot, qdirs[0]))
    assert q.count() == 2 and q.where("price >= 0").count() == 0
    hist = lenient.commit_log(key).history()
    assert hist[-1]["expectations"] == {"range_price": 2}
    # a clean batch commits without expectation noise in the payload
    ok = spark.createDataFrame([(jan + 600 * 60000, 5.0)], "ts long, price double")
    lenient.write_ticks(ok, key)
    assert "expectations" not in lenient.commit_log(key).history()[-1]


def test_multi_write_expectations_quarantine(lake, spark):
    from dl_datalake_spark.lake.expectations import ExpectationError, accepted_range

    writer, reader, _ = lake
    df = _multi_df(spark, ["AAA/USD", "BBB/USD"], n=5)
    # poison two rows of BBB
    bad = _multi_df(spark, ["BBB/USD"], n=2, start=1672574400000 + 50 * 60000,
                    price=-9.0)
    full = df.unionByName(bad)

    strict = LakeWriter(
        spark, writer.base_path,
        expectations=[accepted_range("close", 0.0, 1e9)], enforce="fail",
    )
    with pytest.raises(ExpectationError, match="range_close"):
        strict.write_ohlc_multi(full, "binance", "spot")
    key_a = DatasetKey("BINANCE", "SPOT", "AAA_USD", "raw", "1m")
    assert reader.read_dataset(key_a).count() == 0  # nothing committed

    lenient = LakeWriter(
        spark, writer.base_path,
        expectations=[accepted_range("close", 0.0, 1e9)], enforce="quarantine",
    )
    res = lenient.write_ohlc_multi(full, "binance", "spot")
    assert reader.read_dataset(key_a).count() == 5
    key_b = DatasetKey("BINANCE", "SPOT", "BBB_USD", "raw", "1m")
    assert reader.read_dataset(key_b).count() == 5  # bad rows excluded
    q = spark.read.parquet(
        os.path.join(writer.base_path, "_quarantine_multi", res["AAA_USD"].txid)
    )
    assert q.count() == 2 and {r["symbol"] for r in q.collect()} == {"BBB_USD"}
    hist = lenient.commit_log(key_b).history()
    assert hist[-1]["expectations"] == {"range_close": 2}


def test_vacuum_reclaims_quarantine_past_retention(lake, spark):
    """Quarantine splits age under the vacuum horizon: retained for
    inspection inside it, reclaimed past it — both the per-dataset and
    the lake-level multi-write dirs."""
    from dl_datalake_spark.lake.expectations import accepted_range
    from dl_datalake_spark.lake.maintenance import vacuum_tombstones

    writer, reader, _ = lake
    jan = 1672574400000
    lenient = LakeWriter(
        spark, writer.base_path,
        expectations=[accepted_range("close", 0.0, 1e9)], enforce="quarantine",
    )
    bad_single = spark.createDataFrame(
        [(jan + i * 60000, 1.0, 2.0, 0.5, -1.0, 1.0) for i in range(3)],
        "ts long, open double, high double, low double, close double, volume double",
    )
    lenient.write_ohlc(bad_single, KEY)
    lenient.write_ohlc_multi(
        _multi_df(spark, ["AAA/USD"], n=2, price=-9.0), "binance", "spot"
    )
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "raw", "1m")
    qroot = os.path.join(lenient.dataset_path(key), "_quarantine")
    mqroot = os.path.join(writer.base_path, "_quarantine_multi")
    assert os.listdir(qroot) and os.listdir(mqroot)

    rep = vacuum_tombstones(spark, writer.base_path, retention_s=3600.0, dry_run=False)
    assert os.listdir(qroot) and os.listdir(mqroot)  # inside horizon: kept
    assert any("_quarantine" in p for p in rep["retained"])
    rep2 = vacuum_tombstones(spark, writer.base_path, retention_s=0.0, dry_run=False)
    assert any("_quarantine" in p for p in rep2["removed"])
    assert not os.listdir(qroot) and not os.listdir(mqroot)


def test_quarantine_table_and_requeue_roundtrip(lake, spark):
    """Quarantine as a first-class surface (VERDICT r8 #4):
    quarantine_table serves violators with _violated constraint names +
    quarantining commit version (joinable to history_table); requeue
    re-drives corrected rows through the SAME expectations gate, flags
    the consumed split `requeued`, and still-bad rows re-quarantine
    rather than leak in."""
    from dl_datalake_spark.lake.expectations import accepted_range, not_null

    writer, reader, _ = lake
    jan = 1672574400000
    key = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "ticks", "1m")
    lenient = LakeWriter(
        spark, writer.base_path,
        expectations=[not_null("price"), accepted_range("price", 0.0, 100.0)],
        enforce="quarantine",
    )
    df = spark.createDataFrame(
        [(jan + i * 60000, float(i) if i < 8 else -float(i)) for i in range(10)],
        "ts long, price double",
    )
    lenient.write_ticks(df, key)  # v0: 8 good, 2 quarantined
    qt = reader.quarantine_table(key)
    assert qt.count() == 2
    import pyspark.sql.functions as F

    assert qt.where(F.array_contains("_violated", "range_price")).count() == 2
    assert {r["version"] for r in qt.select("version").collect()} == {0}
    assert qt.where("requeued").count() == 0
    # joinable to history_table on version
    joined = qt.join(reader.history_table(key), "version")
    assert joined.where(F.col("mode") == "upsert").count() == 2

    # requeue with a HALF-correcting transform: one row fixed, one still bad
    res = lenient.requeue_quarantine(
        key,
        transform=lambda d: d.withColumn(
            "price", F.when(F.col("price") == -8.0, 8.5).otherwise(F.col("price"))
        ),
    )
    assert res is not None and res.rows > 0
    # fixed row is in the dataset; still-bad row re-quarantined (new split)
    assert reader.read_dataset(key).count() == 9
    qt2 = reader.quarantine_table(key)
    assert qt2.where("requeued").count() == 2        # consumed split flagged
    fresh = qt2.where(~F.col("requeued"))
    assert fresh.count() == 1
    assert fresh.first()["price"] == -9.0
    # requeue commit ties correction to cause
    hist = lenient.commit_log(key).history()
    assert hist[-1].get("requeue_of") == [0]
    # nothing pending after the fresh split's version is excluded
    assert lenient.requeue_quarantine(key, versions=[0]) is None


def test_multi_quarantine_served_and_requeued_per_dataset(lake, spark):
    """Multi-write quarantine splits (<base>/_quarantine_multi/<txid>)
    flow through the SAME first-class surface as per-dataset splits:
    quarantine_table serves each dataset's filtered share with the
    commit version, and requeue_quarantine consumes it under a
    PER-DATASET marker so sibling datasets' shares stay pending."""
    from dl_datalake_spark.lake.expectations import accepted_range

    writer, reader, _ = lake
    df = _multi_df(spark, ["AAA/USD", "BBB/USD"], n=4)
    bad = _multi_df(
        spark, ["BBB/USD"], n=2, start=1672574400000 + 50 * 60000, price=-9.0
    )
    lenient = LakeWriter(
        spark, writer.base_path,
        expectations=[accepted_range("close", 0.0, 1e9)], enforce="quarantine",
    )
    lenient.write_ohlc_multi(df.unionByName(bad), "binance", "spot")
    key_a = DatasetKey("BINANCE", "SPOT", "AAA_USD", "raw", "1m")
    key_b = DatasetKey("BINANCE", "SPOT", "BBB_USD", "raw", "1m")

    import pyspark.sql.functions as F

    qa = reader.quarantine_table(key_a)
    qb = reader.quarantine_table(key_b)
    assert qa.count() == 0  # AAA has no share of the split
    assert qb.count() == 2
    assert qb.where(F.array_contains("_violated", "range_close")).count() == 2
    assert qb.where("requeued").count() == 0
    v_b = qb.first()["version"]
    assert lenient.commit_log(key_b).committed_entry(v_b)["multi"] is True

    # requeue ONLY BBB's share (corrected); AAA untouched, split retained
    res = lenient.requeue_quarantine(
        key_b, transform=lambda d: d.withColumn("close", -F.col("close"))
    )
    assert res is not None and res.rows > 0
    assert reader.read_dataset(key_b).count() == 6
    assert reader.quarantine_table(key_b).where("requeued").count() == 2
    # second requeue for BBB: nothing pending; AAA still sees its empty share
    assert lenient.requeue_quarantine(key_b) is None
    assert reader.quarantine_table(key_a).count() == 0
    # requeue lineage recorded against the multi commit's version
    assert lenient.commit_log(key_b).history()[-1]["requeue_of"] == [v_b]
