"""Commit stats read from Parquet footers (`snapshot.added_file_stats`):
for every file Spark writes, each recorded per-file [min, max] equals
Spark's own min/max over that file or is absent (the file is then
scanned) — never different.  The read is driver-side: no Spark job, on
any `Filesystem`, including one that only implements `read_bytes`."""

from __future__ import annotations

import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dl_datalake_spark.lake import snapshot
from dl_datalake_spark.lake.fs import Filesystem, HadoopFS, LocalFS
from dl_datalake_spark.lake.snapshot import added_file_stats, list_data_files

DDL = (
    "l long, i int, d double, f float, s string, bs string, b boolean, "
    "dt date, dec decimal(10,2), tsp timestamp, nul double"
)
COLS = tuple(c.split()[0] for c in DDL.split(", "))
EXTRA = tuple(c for c in COLS if c != "l")


def _rows(k: int, nan: bool, big: bool) -> list[tuple]:
    import datetime as _dt
    from decimal import Decimal

    out = []
    for j in range(20):
        v = k * 100 + j
        out.append((
            v,
            -v,
            float("nan") if nan and j == 7 else v / 4,
            v / 8,
            f"s{v:05d}",
            ("x" * 5000 if big and j == 3 else f"b{v}"),
            j % 2 == 0,
            _dt.date(2023, 1, 1) + _dt.timedelta(days=v % 300),
            Decimal(v) / 100,
            _dt.datetime(2023, 1, 1) + _dt.timedelta(minutes=v),
            None,
        ))
    return out


def _jobs_in(spark, fn):
    """Spark jobs `fn` starts, counted per job group through the status
    tracker after the listener bus drains."""
    sc = spark.sparkContext
    group = f"footer-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_ranges(spark, ds: str, cols: tuple) -> dict[str, dict[str, list]]:
    """{col: {rel: [min, max]}} per file, computed by Spark itself."""
    aggs = [f(c).alias(f"{f.__name__}_{c}") for c in cols for f in (F.min, F.max)]
    rows = (
        spark.read.parquet(ds)
        .groupBy(F.col("_metadata.file_path").alias("fp"))
        .agg(*aggs)
        .collect()
    )
    out: dict[str, dict[str, list]] = {c: {} for c in cols}
    for r in rows:
        rel = r["fp"].rsplit("/", 1)[1]
        for c in cols:
            out[c][rel] = [r[f"min_{c}"], r[f"max_{c}"]]
    return out


class BytesOnlyFS(Filesystem):
    """A store that can only read whole files: footer reads go through
    the base class's default `read_tail`."""

    def read_bytes(self, path: str) -> bytes:
        return LocalFS().read_bytes(path)


@pytest.fixture(scope="module")
def typed_files(spark, tmp_path_factory):
    """Three single-file appends; file 0 holds a NaN double and a
    string over parquet-java's 4 KiB stats limit."""
    ds = str(tmp_path_factory.mktemp("footer") / "typed")
    for k in range(3):
        spark.createDataFrame(_rows(k, nan=k == 0, big=k == 0), DDL).coalesce(1).write.mode(
            "append"
        ).parquet(ds)
    rels = list_data_files(LocalFS(), ds)
    assert len(rels) == 3
    return ds, rels


def test_footer_stats_match_spark_or_are_absent(spark, typed_files):
    ds, rels = typed_files
    fs = LocalFS()
    res = {}
    n = _jobs_in(spark, lambda: res.update(got=added_file_stats(fs, {ds: rels}, "l", EXTRA)))
    assert n == 0
    stats, cstats = res["got"][0][ds], res["got"][1][ds]
    expect = _spark_ranges(spark, ds, COLS)
    for rel in rels:
        for c in COLS:
            got = stats.get(rel) if c == "l" else cstats.get(c, {}).get(rel)
            if got is not None:  # absent is sound; present must equal Spark's
                assert got == expect[c][rel], (c, rel, got, expect[c][rel])

    nan_file = next(r for r in rels if expect["d"][r][1] != expect["d"][r][1])
    # JSON-native values with sound footer ranges are always recorded
    assert set(stats) == set(rels)
    for c in ("i", "f", "s", "b"):
        assert set(cstats[c]) == set(rels), c
    assert set(cstats["d"]) == set(rels) - {nan_file}   # NaN bound: absent
    assert set(cstats["bs"]) == set(rels) - {nan_file}  # > 4 KiB: no footer stats
    # not JSON-native (date, decimal, timestamp) or all null: absent
    for c in ("dt", "dec", "tsp", "nul"):
        assert c not in cstats, c
    # the ts-only shape: one dict, no column stats
    n = _jobs_in(spark, lambda: res.update(ts_only=added_file_stats(fs, {ds: rels}, "l")))
    assert n == 0 and res["ts_only"] == {ds: stats}


def test_footer_stats_same_through_every_filesystem(spark, typed_files, monkeypatch):
    ds, rels = typed_files
    want = added_file_stats(LocalFS(), {ds: rels}, "l", EXTRA)
    want = (want[0][ds], want[1][ds])

    uri = f"file://{ds}"
    hfs = HadoopFS(spark, uri)
    res = {}
    assert _jobs_in(
        spark, lambda: res.update(h=added_file_stats(hfs, {uri: rels}, "l", EXTRA))
    ) == 0
    assert (res["h"][0][uri], res["h"][1][uri]) == want

    got = added_file_stats(BytesOnlyFS(), {ds: rels}, "l", EXTRA)
    assert (got[0][ds], got[1][ds]) == want

    # a footer larger than the speculative read costs one exact re-read
    reads = []

    class CountingFS(LocalFS):
        def read_tail(self, path, n):
            reads.append(n)
            return super().read_tail(path, n)

    got = added_file_stats(CountingFS(), {ds: rels}, "l", EXTRA)
    assert (got[0][ds], got[1][ds]) == want and reads == [snapshot.FOOTER_READ] * 3
    reads.clear()
    monkeypatch.setattr(snapshot, "FOOTER_READ", 64)
    for fs in (CountingFS(), hfs, BytesOnlyFS()):
        root = uri if fs is hfs else ds
        got = added_file_stats(fs, {root: rels}, "l", EXTRA)
        assert (got[0][root], got[1][root]) == want
    assert len(reads) == 6 and reads[::2] == [64] * 3 and min(reads[1::2]) > 64


def test_footer_stats_combine_row_groups(spark, tmp_path):
    ds = str(tmp_path / "groups")
    (
        spark.range(3000)
        .select(
            (F.col("id") * 7 % 3001).alias("l"),
            (F.col("id") / 3).alias("d"),
            F.format_string("k%05d", (F.col("id") * 13) % 3000).alias("s"),
            F.when(F.col("id") < 1500, F.lit(None)).otherwise(F.col("id")).alias("late"),
        )
        .coalesce(1)
        .write.option("parquet.block.size", 2048)
        .parquet(ds)
    )
    (rel,) = list_data_files(LocalFS(), ds)
    md = pq.read_metadata(f"{ds}/{rel}")
    assert md.num_row_groups > 2
    res = {}
    n = _jobs_in(
        spark,
        lambda: res.update(got=added_file_stats(LocalFS(), {ds: [rel]}, "l", ("d", "s", "late"))),
    )
    assert n == 0
    stats, cstats = res["got"][0][ds], res["got"][1][ds]
    expect = _spark_ranges(spark, ds, ("l", "d", "s", "late"))
    assert stats[rel] == expect["l"][rel]
    for c in ("d", "s", "late"):
        # all-null leading row groups contribute nothing
        assert cstats[c][rel] == expect[c][rel], c
