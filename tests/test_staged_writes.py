"""Every data write stages its files, takes their facts from the staged
files and lands them under the commit claim (`LakeWriter._staging`,
`_stage_facts`, `_land`).  A write on a pinned dataset therefore never
lists the dataset directory, a multi-dataset write records the same
facts as a per-symbol one (bucket sets and null-ts rows included), and
an upsert keeps every null-ts batch row: a null key matches nothing."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake import writer as writer_mod
from dl_datalake_spark.lake.fs import LocalFS
from dl_datalake_spark.lake.maintenance import recluster, vacuum_tombstones
from dl_datalake_spark.lake.paths import DatasetKey
from dl_datalake_spark.lake.writer import LakeWriter

KEY = DatasetKey("SIM", "SPOT", "STAGE", "ticks", "1m")
MULTI_KEYS = [DatasetKey("SIM", "SPOT", s, "raw", "1m") for s in ("AAA", "BBB")]
JAN = 1672574400000  # 2023-01-01T12:00Z
FEB = 1675252800000  # 2023-02-01T12:00Z
MIN = 60_000
OHLC = (
    "symbol string, ts long, open double, high double, low double, "
    "close double, volume double"
)


def _ticks(spark, rows):
    return spark.createDataFrame(rows, "ts long, price double")


def _ohlc(spark, rows):
    """(symbol, ts, close) triples as a multi-write OHLC frame."""
    return spark.createDataFrame(
        [(s, t, c, c, c, c, 1.0) for s, t, c in rows], OHLC
    )


def _live_rows(spark, w, key, cols):
    log = w.commit_log(key)
    ds = w.dataset_path(key)
    files = log.latest_files()
    if not files:
        return []
    df = spark.read.parquet(*[f"{ds}/{f}" for f in files])
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _head(w, key):
    log = w.commit_log(key)
    return log.committed_entry(log.latest_version())


#: every data write, run on a dataset whose listing is already pinned
VERBS = {
    "append": lambda spark, w: w.write_ticks(
        _ticks(spark, [(FEB + i * MIN, 1.0) for i in range(3)]), KEY, mode="append"
    ),
    "upsert": lambda spark, w: w.write_ticks(_ticks(spark, [(JAN, 9.0)]), KEY),
    "overwrite": lambda spark, w: w.write_ticks(
        _ticks(spark, [(JAN, 7.0)]), KEY, mode="overwrite"
    ),
    "dv_update": lambda spark, w: w.update_where(
        KEY, {"price": F.col("price") + 1}, F.col("ts") == JAN, strategy="dv"
    ),
    "recluster": lambda spark, w: recluster(
        spark, w.dataset_path(KEY), ["price"], fs=w.fs, base_path=w.base_path
    ),
    "alter_column_type": lambda spark, w: w.alter_column_type(KEY, "price", "string"),
    "multi_append": lambda spark, w: w.write_ohlc_multi(
        _ohlc(spark, [("AAA", FEB, 3.0), ("BBB", JAN + MIN, 4.0)]), "sim", "spot",
        mode="append",
    ),
    "multi_upsert": lambda spark, w: w.write_ohlc_multi(
        _ohlc(spark, [("AAA", JAN, 3.0), ("BBB", FEB, 4.0)]), "sim", "spot"
    ),
}


@pytest.mark.parametrize("verb", list(VERBS))
def test_writes_on_a_pinned_dataset_never_list_its_directory(
    tmp_path, spark, monkeypatch, verb
):
    w = LakeWriter(spark, str(tmp_path / "lake"))
    if verb.startswith("multi"):
        seed = [("AAA", JAN, 1.0), ("BBB", JAN, 2.0)]
        w.write_ohlc_multi(_ohlc(spark, seed), "sim", "spot")
        dirs = [w.dataset_path(k) for k in MULTI_KEYS]
    else:
        w.write_ticks(_ticks(spark, [(JAN + i * MIN, float(i)) for i in range(6)]), KEY)
        dirs = [w.dataset_path(KEY)]
    walked: list[str] = []
    real_walk = LocalFS.walk_files

    def spy(self, path):
        walked.append(path.rstrip("/"))
        return real_walk(self, path)

    monkeypatch.setattr(LocalFS, "walk_files", spy)
    VERBS[verb](spark, w)
    # a walk of a dataset dir or of any dir above it lists the dataset
    assert not [p for p in walked for d in dirs if d == p or d.startswith(p + "/")]
    assert any("/_staging_" in p for p in walked)  # the staged root is read
    assert all(w.commit_log(k).latest_version() == 1 for k in (
        MULTI_KEYS if verb.startswith("multi") else [KEY]
    ))
    # the write landed: nothing staged is left anywhere in the lake
    assert not [
        d for _, ds, _ in os.walk(w.base_path) for d in ds if d.startswith("_staging_")
    ]


def test_multi_upsert_past_the_triple_limit_replaces_the_months_it_reads(
    tmp_path, spark, monkeypatch
):
    """Past `_MULTI_PRUNE_TRIPLES` the read-back prunes by month alone,
    so it rewrites AAA's February row although the batch touches AAA
    only in January; the commit must drop AAA's old February file."""
    monkeypatch.setattr(writer_mod, "_MULTI_PRUNE_TRIPLES", 1)
    w = LakeWriter(spark, str(tmp_path / "lake"))
    for rows in (
        [("AAA", JAN, 1.0), ("AAA", FEB, 2.0)], [("AAA", JAN, 5.0), ("BBB", FEB, 6.0)]
    ):
        w.write_ohlc_multi(_ohlc(spark, rows), "sim", "spot")
    aaa = MULTI_KEYS[0]
    assert _live_rows(spark, w, aaa, ["ts", "close"]) == [(JAN, 5.0), (FEB, 2.0)]
    assert _head(w, aaa)["partitions"] == [[2023, 1], [2023, 2]]


def test_multi_write_records_bucket_sets(tmp_path, spark):
    w = LakeWriter(spark, str(tmp_path / "lake"), bucket_by={"close": 4})
    rows = [(s, JAN + i * MIN, float(i)) for s in ("AAA", "BBB") for i in range(8)]
    w.write_ohlc_multi(_ohlc(spark, rows), "sim", "spot", mode="append")
    closes = spark.createDataFrame([(float(i),) for i in range(8)], "close double")
    want = sorted(
        r["b"]
        for r in closes.select(F.pmod(F.xxhash64("close"), F.lit(4)).alias("b"))
        .distinct()
        .collect()
    )
    for key in MULTI_KEYS:
        e = _head(w, key)
        assert e["bucket_by"] == {"close": [4, "double"]}
        assert sorted(e["file_buckets"]["close"]) == sorted(e["files"])
        ids = {b for v in e["file_buckets"]["close"].values() for b in v}
        assert sorted(ids) == want


def test_multi_null_ts_rows_match_a_per_symbol_write(tmp_path, spark):
    """A null-ts row lands under __HIVE_DEFAULT_PARTITION__, counts
    toward the commit's rows and touches no month — in one job for many
    symbols exactly as through `write_ohlc`, upserts included."""
    batches = [
        [("AAA", JAN, 1.0), ("AAA", None, 2.0), ("AAA", None, 3.0), ("BBB", FEB, 4.0)],
        [("AAA", JAN, 5.0), ("AAA", None, 6.0)],
    ]
    multi = LakeWriter(spark, str(tmp_path / "multi"))
    single = LakeWriter(spark, str(tmp_path / "single"))
    for rows in batches:
        multi.write_ohlc_multi(_ohlc(spark, rows), "sim", "spot")
        for key in MULTI_KEYS:
            own = [r for r in rows if r[0] == key.symbol]
            if not own:
                continue
            single.write_ohlc(_ohlc(spark, own).drop("symbol"), key)
            m, p = _head(multi, key), _head(single, key)
            assert (m["rows"], m["partitions"]) == (p["rows"], p["partitions"])
            assert _live_rows(spark, multi, key, ["ts", "close"]) == _live_rows(
                spark, single, key, ["ts", "close"]
            )
    assert _live_rows(spark, multi, MULTI_KEYS[0], ["ts", "close"]) == [
        (JAN, 5.0), (None, 2.0), (None, 3.0), (None, 6.0),
    ]


def test_upserts_keep_every_null_ts_row(tmp_path, spark):
    w = LakeWriter(spark, str(tmp_path / "lake"), emit_cdf=True)
    w.write_ticks(_ticks(spark, [(JAN, 1.0), (None, 2.0), (None, 3.0)]), KEY)
    w.write_ticks(_ticks(spark, [(JAN, 4.0), (None, 5.0), (None, 6.0)]), KEY)
    assert _live_rows(spark, w, KEY, ["ts", "price"]) == [
        (JAN, 4.0), (None, 2.0), (None, 3.0), (None, 5.0), (None, 6.0),
    ]
    assert _head(w, KEY)["rows"] == 3
    v = w.commit_log(KEY).latest_version()
    feed = spark.read.parquet(f"{w.cdf_path(KEY)}/commit_version={v}")
    assert sorted(tuple(r) for r in feed.select("price", "_change_type").collect()) == [
        (4.0, "update_postimage"), (5.0, "insert"), (6.0, "insert"),
    ]


def test_first_upserts_keep_one_row_per_ts(tmp_path, spark):
    """A first upsert has nothing to read back, yet its batch is still
    keep-last per ts: two rows at one ts land as one, as they do when
    the same upsert is repeated."""
    w = LakeWriter(spark, str(tmp_path / "lake"))
    w.write_ticks(_ticks(spark, [(JAN, 1.0), (JAN, 2.0)]), KEY)
    assert len(_live_rows(spark, w, KEY, ["ts"])) == 1
    w.write_ohlc_multi(_ohlc(spark, [("AAA", JAN, 1.0), ("AAA", JAN, 2.0)]), "sim", "spot")
    assert len(_live_rows(spark, w, MULTI_KEYS[0], ["ts"])) == 1


def test_vacuum_sweeps_stale_lake_level_staging(tmp_path, spark):
    fs = LocalFS()
    base = str(tmp_path / "lake")
    old = time.time() - 30 * 86400.0
    stale = [f"{base}/_staging_multi_x", f"{base}/_cdf_staging_x", f"{base}/_staging_ab"]
    fresh = f"{base}/_staging_cd"
    for d in (*stale, fresh):
        fs.makedirs(f"{d}/year=2023/month=1")
        fs.write_bytes_atomic(f"{d}/year=2023/month=1/part-0.parquet", b"junk")
    for d in stale:
        os.utime(d, (old, old))
    rep = vacuum_tombstones(
        spark, base, retention_s=0.0, dry_run=False, staging_ttl_s=3600.0, fs=fs
    )
    assert sorted(rep["removed"]) == sorted(stale)
    assert rep["retained"] == [fresh]
    assert not any(fs.exists(d) for d in stale) and fs.isdir(fresh)


def _restore_to_the_seed(spark, w, seed):
    w.write_ohlc_multi(
        _ohlc(spark, [("AAA", FEB, 3.0), ("BBB", FEB, 4.0)]), "sim", "spot",
        mode="append",
    )
    return lambda: w.restore_lake_to(seed["AAA"].txid)


#: the multi-dataset commits, each (set-up after the seed write returning
#: the commit to run, BBB's rows once BBB alone finalized it)
MULTI_COMMITS = {
    "write_ohlc_multi": (
        lambda spark, w, seed: lambda: w.write_ohlc_multi(
            _ohlc(spark, [("AAA", FEB, 3.0), ("BBB", FEB, 4.0)]), "sim", "spot",
            mode="append",
        ),
        [(JAN, 2.0), (FEB, 4.0)],
    ),
    "delete_where_multi": (
        lambda spark, w, seed: lambda: w.delete_where_multi(
            MULTI_KEYS, F.col("ts") == JAN
        ),
        [],
    ),
    "restore_lake_to": (_restore_to_the_seed, [(JAN, 2.0)]),
}


@pytest.mark.parametrize("verb", list(MULTI_COMMITS))
def test_multi_failure_after_a_finalize_keeps_the_committed_files(
    tmp_path, spark, monkeypatch, verb
):
    """A multi-commit's datasets finalize one by one.  When a later
    finalize dies, the dataset that already committed keeps its commit
    and every file it pins (a single-dataset read serves that version
    at once), the other stays at its prior head with no landed file
    left behind, and the intent stays in-progress so multi-dataset
    readers keep excluding the torn epoch."""
    from dl_datalake_spark.lake.commitlog import CommitLog
    from dl_datalake_spark.lake.multilog import MultiCommitLog
    from dl_datalake_spark.lake.reader import LakeReader
    from dl_datalake_spark.lake.snapshot import list_data_files

    w = LakeWriter(spark, str(tmp_path / "lake"))
    seed = w.write_ohlc_multi(
        _ohlc(spark, [("AAA", JAN, 1.0), ("BBB", JAN, 2.0)]), "sim", "spot"
    )
    setup, bbb_rows = MULTI_COMMITS[verb]
    run = setup(spark, w, seed)
    aaa, bbb = MULTI_KEYS
    heads = {k: w.commit_log(k).latest_version() for k in MULTI_KEYS}
    real = CommitLog._finalize
    finalized: list[str] = []

    def dying(self, version, payload, token):
        if payload and payload.get("multi") and finalized:
            raise RuntimeError("simulated crash between multi finalizes")
        real(self, version, payload, token)
        finalized.append(self.dataset_path)

    monkeypatch.setattr(CommitLog, "_finalize", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run()
    monkeypatch.setattr(CommitLog, "_finalize", real)

    # the unwind finalizes in reverse key order: BBB committed, AAA did not
    assert finalized == [w.dataset_path(bbb)]
    assert w.commit_log(bbb).latest_version() == heads[bbb] + 1
    pinned = w.commit_log(bbb).latest_files()
    assert all(os.path.isfile(f"{w.dataset_path(bbb)}/{f}") for f in pinned)
    got = LakeReader(spark, w.base_path).read_dataset(bbb).select("ts", "close")
    assert sorted(tuple(r) for r in got.collect()) == bbb_rows
    # AAA: still at its prior head, and no landed file left behind
    assert w.commit_log(aaa).latest_version() == heads[aaa]
    assert sorted(list_data_files(w.fs, w.dataset_path(aaa))) == sorted(
        w.commit_log(aaa).latest_files()
    )
    # the partial multi-commit stays constraining, and nothing is staged
    statuses = [r["status"] for r in MultiCommitLog(w.base_path).records()]
    assert statuses.count("in-progress") == 1
    assert set(statuses) == {"committed", "in-progress"}
    assert not [
        d for _, ds, _ in os.walk(w.base_path) for d in ds if d.startswith("_staging_")
    ]
