"""File skipping via commit-recorded per-file ts stats (Delta
data-skipping on plain parquet): a time-bounded `read_range` drops
pinned files whose [min_ts, max_ts] can't overlap BEFORE the scan
starts — one level above parquet row-group pruning."""

from __future__ import annotations

import pytest

from dl_datalake_spark.lake.manifest import ManifestManager
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.reader import LakeReader
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("BINANCE", "SPOT", "BTC_USDT", "raw", "1m")
JAN1 = 1672574400000  # 2023-01-01T12:00:00Z
FEB1 = 1675252800000  # 2023-02-01T12:00:00Z


@pytest.fixture()
def lake(tmp_path, spark):
    base = str(tmp_path / "base")
    manifest = ManifestManager(spark, str(tmp_path / "manifest"))
    return LakeWriter(spark, base, manifest), LakeReader(spark, base), manifest


def _candles(spark, n, start):
    rows = [(start + i * 60000, 1.0, 2.0, 0.5, 1.5, 10.0) for i in range(n)]
    return spark.createDataFrame(
        rows,
        "ts long, open double, high double, low double, close double, volume double",
    )


def test_commit_records_per_file_ts_stats(lake, spark):
    writer, _, _ = lake
    res = writer.write_ohlc(_candles(spark, 10, JAN1), KEY)
    assert res.file_stats and set(res.file_stats) <= set(res.files)
    for t0, t1 in res.file_stats.values():
        assert JAN1 <= t0 <= t1 <= JAN1 + 9 * 60000
    log = writer.commit_log(KEY)
    assert log.file_stats() == res.file_stats


def test_bounded_read_skips_non_overlapping_files(lake, spark):
    writer, reader, _ = lake
    writer.write_ohlc(_candles(spark, 10, JAN1), KEY)   # January files
    writer.write_ohlc(_candles(spark, 10, FEB1), KEY)   # February files

    total = len(writer.commit_log(KEY).latest_files())
    jan = reader.read_range("BINANCE", "BTC_USDT", start_date="2023-01-01", end_date="2023-01-02")
    assert jan.count() == 10
    # the February files never entered the plan
    scanned = jan.inputFiles()
    assert 0 < len(scanned) < total
    assert all("month=1" in f for f in scanned)

    # unbounded read scans everything
    assert len(reader.read_dataset(KEY).inputFiles()) == total


def test_fully_skipped_range_returns_empty(lake, spark):
    writer, reader, _ = lake
    writer.write_ohlc(_candles(spark, 5, JAN1), KEY)
    out = reader.read_range("BINANCE", "BTC_USDT", start_date="2024-06-01", end_date="2024-06-30")
    assert out.count() == 0


def test_files_without_stats_are_scanned_not_skipped(lake, spark):
    """Safety: a commit without file_stats (legacy/compacted) must keep
    its files in every bounded plan."""
    writer, reader, _ = lake
    writer.write_ohlc(_candles(spark, 6, JAN1), KEY)
    log = writer.commit_log(KEY)
    # strip the recorded stats in place (simulating a legacy commit)
    import json

    for v in log._entries():
        p = f"{log.log_dir}/{v:020d}.json"
        e = json.loads(open(p).read())
        e.pop("file_stats", None)
        open(p, "w").write(json.dumps(e))
    jan = reader.read_range("BINANCE", "BTC_USDT", start_date="2023-01-01", end_date="2023-01-02")
    assert jan.count() == 6
    assert len(jan.inputFiles()) == len(log.latest_files())


def test_multi_write_and_delete_record_stats_too(lake, spark):
    """write_ohlc_multi (footer stats for every dataset) and delete_where
    rewrites both feed the skipping index."""
    from pyspark.sql import functions as F

    writer, reader, _ = lake
    rows = [
        (sym, JAN1 + i * 60000, 1.0, 2.0, 0.5, 1.5, 10.0)
        for sym in ("AAA/USD", "BBB/USD")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "symbol string, ts long, open double, high double, low double, "
        "close double, volume double",
    )
    writer.write_ohlc_multi(df, "binance", "spot")
    for sym in ("AAA_USD", "BBB_USD"):
        k = DatasetKey("BINANCE", "SPOT", sym, "raw", "1m")
        log = writer.commit_log(k)
        stats = log.file_stats()
        assert stats and set(stats) <= set(log.latest_files())

    k = DatasetKey("BINANCE", "SPOT", "AAA_USD", "raw", "1m")
    writer.delete_where(k, F.col("ts") >= JAN1 + 3 * 60000)
    log = writer.commit_log(k)
    live = set(log.latest_files())
    stats = log.file_stats()
    # the rewrite's new files carry fresh stats bounded by the kept rows
    fresh = {f: s for f, s in stats.items() if f in live}
    assert fresh
    for t0, t1 in fresh.values():
        assert JAN1 <= t0 <= t1 <= JAN1 + 2 * 60000


def test_compaction_refreshes_skipping_stats(lake, spark):
    """Compacted (rewritten) files must carry fresh ts stats or every
    post-compaction bounded read would scan the whole dataset again."""
    from dl_datalake_spark.lake.maintenance import compact

    writer, reader, _ = lake
    writer.write_ohlc(_candles(spark, 10, JAN1), KEY)
    writer.write_ohlc(_candles(spark, 10, FEB1), KEY)
    compact(spark, writer.base_path, in_place=True)

    log = writer.commit_log(KEY)
    live = set(log.latest_files())
    stats = log.file_stats()
    assert live and live <= set(stats)  # every compacted file has stats
    jan = reader.read_range(
        "BINANCE", "BTC_USDT", start_date="2023-01-01", end_date="2023-01-02"
    )
    assert jan.count() == 10
    assert 0 < len(jan.inputFiles()) < len(live)
    assert all("month=1" in f for f in jan.inputFiles())


def test_legacy_dataset_gets_partition_pruning_from_ts_bounds(lake, spark):
    """A dataset with no commit stats (stripped) must still prune month
    partitions on a bounded read via the derived year/month predicate —
    Catalyst never derives it from a raw ts bound on its own."""
    import json

    writer, reader, _ = lake
    writer.write_ohlc(_candles(spark, 10, JAN1), KEY)
    writer.write_ohlc(_candles(spark, 10, FEB1), KEY)
    log = writer.commit_log(KEY)
    for v in log._entries():
        p = f"{log.log_dir}/{v:020d}.json"
        e = json.loads(open(p).read())
        e.pop("file_stats", None)
        open(p, "w").write(json.dumps(e))
    jan = reader.read_range(
        "BINANCE", "BTC_USDT", start_date="2023-01-01", end_date="2023-01-02"
    )
    assert jan.count() == 10
    plan = jan._jdf.queryExecution().executedPlan().toString()
    # the month window reached the scan as a partition filter
    assert "PartitionFilters" in plan and "month" in plan.split("PartitionFilters", 1)[1][:400]


def test_read_window_manifest_path_skips_files_too(lake, spark):
    """The manifest-pruned cross-dataset read (client.read_window /
    plans.read_pruned) applies the same commit-stats file skipping."""
    from dl_datalake_spark.plans import read_pruned

    writer, _, manifest = lake
    writer.write_ohlc(_candles(spark, 10, JAN1), KEY)
    writer.write_ohlc(_candles(spark, 10, FEB1), KEY)
    total = len(writer.commit_log(KEY).latest_files())
    df = read_pruned(spark, manifest, time_from=JAN1, time_to=JAN1 + 86400_000)
    assert df is not None and df.count() == 10
    assert 0 < len(df.inputFiles()) < total
    assert all("month=1" in f for f in df.inputFiles())


# ---------------------------------------------------------------------------
# Generalized column stats (VERDICT r7 #2): writer stats_cols + recluster
# record per-file [min, max] of arbitrary columns; bounded reads prune
# files from the commit index before any footer RPC
# ---------------------------------------------------------------------------
def _priced(spark, n, start, price0):
    rows = [
        (start + i * 60000, price0 + i, price0 + i + 1, price0 + i - 0.5,
         float(price0 + i), 10.0)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "ts long, open double, high double, low double, close double, volume double",
    )


def test_stats_cols_recorded_and_pruned_on_bounded_read(tmp_path, spark):
    base = str(tmp_path / "base")
    writer = LakeWriter(spark, base, stats_cols=["close"])
    reader = LakeReader(spark, base)
    # three commits with disjoint close ranges (same month)
    writer.write_ohlc(_priced(spark, 5, JAN1, 100.0), KEY, mode="append")
    writer.write_ohlc(_priced(spark, 5, JAN1 + 5 * 60000, 500.0), KEY, mode="append")
    writer.write_ohlc(_priced(spark, 5, JAN1 + 10 * 60000, 900.0), KEY, mode="append")
    log = writer.commit_log(KEY)
    cstats = log.col_stats("close")
    assert cstats and set(cstats) <= set(log.latest_files())
    total = len(log.latest_files())

    mid = reader.read_dataset(KEY, bounds={"close": (500.0, 504.0)})
    assert mid.count() == 5
    assert 0 < len(mid.inputFiles()) < total  # non-overlapping files pruned
    # exactness: residual predicate still applied within surviving files
    assert {r["close"] for r in mid.collect()} == {500.0 + i for i in range(5)}
    # a column without stats is scanned, never skipped (sound fallback)
    allv = reader.read_dataset(KEY, bounds={"volume": (0.0, 99.0)})
    assert allv.count() == 15 and len(allv.inputFiles()) == total


def test_recluster_records_col_stats_and_tightens_pruning(tmp_path, spark):
    """Z-order recluster commits fresh per-file stats for its clustered
    columns; a close-bounded read on the reclustered dataset plans a
    strict subset of files; row contents identical through the rewrite;
    old files remain as tombstones for pinned readers."""
    from dl_datalake_spark.lake.maintenance import recluster

    base = str(tmp_path / "base")
    writer = LakeWriter(spark, base)  # NO stats_cols: pre-recluster commits are ts-only
    reader = LakeReader(spark, base)
    # interleaved close ranges so pre-recluster per-file close spans are wide
    import itertools

    rows = [
        (JAN1 + i * 60000, 1.0, 2.0, 0.5, float((i * 37) % 1000), 10.0)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "ts long, open double, high double, low double, close double, volume double",
    ).repartition(8)
    writer.write_ohlc(df, KEY, mode="append")
    before = sorted((r["ts"], r["close"]) for r in reader.read_dataset(KEY).collect())

    ds = writer.dataset_path(KEY)
    rep = recluster(spark, ds, ["ts", "close"], files_per_month=6)
    assert rep["files_after"] >= 1
    log = writer.commit_log(KEY)
    assert log.history()[-1]["mode"] == "recluster"
    assert set(log.col_stats("close")) == set(log.latest_files())

    after = sorted((r["ts"], r["close"]) for r in reader.read_dataset(KEY).collect())
    assert after == before  # row-identical through the rewrite
    total = len(log.latest_files())
    low = reader.read_dataset(KEY, bounds={"close": (0.0, 120.0)})
    assert 0 < len(low.inputFiles()) < total, (len(low.inputFiles()), total)
    assert sorted(r["close"] for r in low.collect()) == sorted(
        c for _, c in before if 0.0 <= c <= 120.0
    )
    # tombstoned pre-recluster files still serve a pinned historical read
    assert reader.read_dataset_at(KEY, log.latest_version() - 1).count() == 200


def test_compact_carries_col_stats_through(tmp_path, spark):
    """A compaction must not silently disable column-bounded skipping:
    whatever columns the dataset's commits indexed get re-recorded for
    the rewritten files."""
    from dl_datalake_spark.lake.maintenance import compact

    base = str(tmp_path / "base")
    writer = LakeWriter(spark, base, stats_cols=["close"])
    reader = LakeReader(spark, base)
    writer.write_ohlc(_priced(spark, 5, JAN1, 100.0), KEY, mode="append")
    writer.write_ohlc(_priced(spark, 5, JAN1 + 5 * 60000, 900.0), KEY, mode="append")
    assert writer.commit_log(KEY).col_stats("close")

    compact(spark, base, in_place=True)
    log = writer.commit_log(KEY)
    assert log.history()[-1]["mode"] == "compact"
    live = set(log.latest_files())
    cstats = log.col_stats("close")
    # the compacted (live) files all carry fresh close stats
    assert live and all(rel in cstats for rel in live)
    got = reader.read_dataset(KEY, bounds={"close": (900.0, 904.0)})
    assert got.count() == 5


def test_nan_values_never_skip_matching_rows(tmp_path, spark):
    """Spark orders NaN above every number, so `x >= 5` matches a NaN
    row.  A file holding {1.0, NaN} must therefore survive that bound:
    the writer records no stats for a column with a NaN bound, and the
    reader scans a file whose stats already on disk carry a NaN."""
    import json

    base = str(tmp_path / "base")
    writer = LakeWriter(spark, base, stats_cols=["x"])
    reader = LakeReader(spark, base)

    def batch(t0, xs):
        return spark.createDataFrame(
            [(t0 + i * 60000, x) for i, x in enumerate(xs)], "ts long, x double"
        ).coalesce(1)

    writer.write_ohlc(batch(JAN1, [1.0, float("nan")]), KEY, mode="append")
    log = writer.commit_log(KEY)
    assert reader.read_dataset(KEY).where("x >= 5").count() == 1
    assert reader.read_dataset(KEY, bounds={"x": (5.0, None)}).count() == 1
    assert log.col_stats("x") == {}  # NaN bound: no entry, the file is scanned

    # a commit written before the fix carries Spark's [min, max] = [1.0, NaN]
    nan_files = log.latest_files()
    for v in log._entries():
        path = f"{log.log_dir}/{v:020d}.json"
        e = json.loads(open(path).read())
        if e.get("status") == "committed":
            e["col_stats"] = {"x": {rel: [1.0, float("nan")] for rel in nan_files}}
            open(path, "w").write(json.dumps(e))
    writer.write_ohlc(batch(JAN1 + 600000, [2.0, 3.0]), KEY, mode="append")
    stats = log.col_stats("x")
    assert all(stats[rel][1] != stats[rel][1] for rel in nan_files)
    assert sorted(v for rel, v in stats.items() if rel not in nan_files) == [[2.0, 3.0]]

    assert reader.read_dataset(KEY, bounds={"x": (5.0, None)}).count() == 1
    # Spark's `x <= NaN` holds for every value: a NaN upper bound prunes nothing
    assert reader.read_dataset(KEY, bounds={"x": (None, float("nan"))}).count() == 4


def test_property_bounded_read_always_exact(tmp_path, spark):
    """Soundness property: for ANY bounds and ANY stats coverage
    (including commits written without stats and files whose stats were
    stripped), read_dataset(bounds=) returns exactly the rows a full
    scan + filter returns — skipping may only remove files that cannot
    match."""
    import json as _json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    base = str(tmp_path / "pb")
    w_stats = LakeWriter(spark, base, stats_cols=["close"])
    w_plain = LakeWriter(spark, base)
    # mixed coverage: two stats-bearing commits, one stats-less commit
    w_stats.write_ohlc(_priced(spark, 6, JAN1, 100.0), KEY, mode="append")
    w_plain.write_ohlc(_priced(spark, 6, JAN1 + 6 * 60000, 300.0), KEY, mode="append")
    w_stats.write_ohlc(_priced(spark, 6, JAN1 + 12 * 60000, 500.0), KEY, mode="append")
    # strip HALF of the recorded stats in place (stats present but partial)
    log = w_stats.commit_log(KEY)
    v = log._entries()[-1]
    p = f"{log.log_dir}/{v:020d}.json"
    e = _json.loads(open(p).read())
    cs = e.get("col_stats", {}).get("close", {})
    for rel in list(cs)[: len(cs) // 2]:
        del cs[rel]
    open(p, "w").write(_json.dumps(e))

    reader = LakeReader(spark, base)
    truth = [
        (r["ts"], r["close"])
        for r in reader.read_dataset(KEY).select("ts", "close").collect()
    ]

    @settings(max_examples=25, deadline=None)
    @given(
        lo=st.one_of(st.none(), st.floats(min_value=0, max_value=600)),
        hi=st.one_of(st.none(), st.floats(min_value=0, max_value=600)),
    )
    def prop(lo, hi):
        got = sorted(
            (r["ts"], r["close"])
            for r in reader.read_dataset(KEY, bounds={"close": (lo, hi)})
            .select("ts", "close")
            .collect()
        )
        want = sorted(
            (t, c)
            for t, c in truth
            if (lo is None or c >= lo) and (hi is None or c <= hi)
        )
        assert got == want, (lo, hi)

    prop()


# ---------------------------------------------------------------------------
# Write-time clustering (VERDICT r8 #1): cluster_by makes FRESHLY INGESTED
# files skippable — no recluster rewrite needed
# ---------------------------------------------------------------------------
def _shuffled_close(spark, n, start):
    """Naturally UNSORTED batch: close values interleave across the full
    domain, so without clustering every output file spans ~[0, 1000)."""
    rows = [
        (start + i * 60000, 1.0, 2.0, 0.5, float((i * 37) % 1000), 10.0)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "ts long, open double, high double, low double, close double, volume double",
    ).repartition(8)


def test_cluster_by_makes_fresh_ingest_skippable(tmp_path, spark):
    """ONE write with cluster_by=['close'] over an unsorted batch: the
    added files carry tight, pairwise-disjoint close ranges and a
    close-bounded read plans a strict subset of files — the pruning the
    un-clustered writer only gets after maintenance.recluster."""
    base = str(tmp_path / "clustered")
    writer = LakeWriter(spark, base, cluster_by=["close"], cluster_files_per_month=6)
    reader = LakeReader(spark, base)
    writer.write_ohlc(_shuffled_close(spark, 240, JAN1), KEY, mode="append")

    log = writer.commit_log(KEY)
    total = len(log.latest_files())
    assert total >= 4  # the range partitioning actually fanned out
    cstats = log.col_stats("close")
    assert set(cstats) == set(log.latest_files())  # cluster_by implies stats_cols
    # tight layout: per-file ranges are non-overlapping (1-col raw range
    # partitioning gives disjoint intervals by construction)
    spans = sorted(cstats.values())
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans

    low = reader.read_dataset(KEY, bounds={"close": (0.0, 120.0)})
    planned = len(low.inputFiles())
    assert 0 < planned < total, (planned, total)
    # exactness through the clustered layout
    assert sorted(r["close"] for r in low.collect()) == sorted(
        float((i * 37) % 1000) for i in range(240) if (i * 37) % 1000 <= 120
    )

    # CONTRAST: identical batch, no cluster_by -> full-domain files, no pruning
    base2 = str(tmp_path / "plain")
    w2 = LakeWriter(spark, base2, stats_cols=["close"])
    w2.write_ohlc(_shuffled_close(spark, 240, JAN1), KEY, mode="append")
    r2 = LakeReader(spark, base2)
    low2 = r2.read_dataset(KEY, bounds={"close": (0.0, 120.0)})
    assert len(low2.inputFiles()) == len(w2.commit_log(KEY).latest_files())


def test_cluster_by_upsert_correctness_and_multi_column(tmp_path, spark):
    """The clustered layout changes FILES, never ROWS: upsert keep-last
    through a cluster_by writer matches the plain writer row-for-row,
    and a two-column cluster (Z-order path) records stats for both."""
    base = str(tmp_path / "zc")
    writer = LakeWriter(
        spark, base, cluster_by=["close", "volume"], cluster_files_per_month=4
    )
    reader = LakeReader(spark, base)
    writer.write_ohlc(_shuffled_close(spark, 100, JAN1), KEY)          # v0 upsert
    writer.write_ohlc(_priced(spark, 50, JAN1, 100.0), KEY)           # v1 upsert overlap
    got = sorted(
        (r["ts"], r["close"]) for r in reader.read_dataset(KEY).collect()
    )
    # keep-last truth: last 50 ts overwritten with price0+i closes
    want = {JAN1 + i * 60000: float((i * 37) % 1000) for i in range(100)}
    want.update({JAN1 + i * 60000: float(100 + i) for i in range(50)})
    assert got == sorted(want.items())
    log = writer.commit_log(KEY)
    assert set(log.col_stats("close")) >= set(log.latest_files())
    assert set(log.col_stats("volume")) >= set(log.latest_files())
    # bounded read through the Z-ordered layout stays exact
    lo_hi = (100.0, 130.0)
    bounded = sorted(
        r["close"]
        for r in reader.read_dataset(KEY, bounds={"close": lo_hi}).collect()
    )
    assert bounded == sorted(
        c for c in want.values() if lo_hi[0] <= c <= lo_hi[1]
    )
