"""`scan`: reads only, against a lake built during set-up.

The lake holds `symbols` datasets of 1-minute candles over `years` years.
Each is written as APPENDS appends (days 1-10, 11-20 and 21-31 of every
month; the writer leaves one file per month and commit), so every month
holds several files with disjoint time ranges. A dataset of trades is
written with `bucket_by` for point lookups. The seeded read mix is fixed
per cycle: narrow `read_range` (one day, 80% of them in the latest three
months), wide `read_range` (9 months) resampled to 1h, `read_dataset`
with a point predicate, and `read_dataset_at` an older version.
"""

from __future__ import annotations

import time

import numpy as np

import gen
from harness import disk_bytes, lake_files
from workload import Workload

EXCHANGE = "BENCH"
# two wide reads a cycle: they return most of the rows, so rows_per_s
# rests on them, and one a cycle left it the noisiest metric
CYCLE = ["narrow", "narrow", "point", "wide", "narrow",
         "narrow", "point", "narrow", "wide", "version", "narrow"]
DAY = 1440
APPENDS = 3
# the seed places the wide window and picks the symbols, but every run reads
# the same number of rows: a 9-month window (the middle of 6-12) and, for
# time travel, the version after the second of the three appends
WIDE_MONTHS = 9
VERSION = APPENDS - 2


def _month_starts(n_months: int) -> np.ndarray:
    """Minute index of the first minute of months 0..n_months."""
    months = np.datetime64("2021-01", "M") + np.arange(n_months + 1)
    days = (months.astype("datetime64[D]") - np.datetime64("2021-01-01", "D")).astype(np.int64)
    return days * DAY


def _append_of(minutes: np.ndarray) -> np.ndarray:
    """Which append wrote each minute (by day of month)."""
    days = np.datetime64("2021-01-01", "D") + minutes // DAY
    dom = (days - days.astype("datetime64[M]").astype("datetime64[D]")).astype(np.int64)
    return np.minimum(dom // 10, APPENDS - 1)


class Scan(Workload):
    name = "scan"
    cycle = CYCLE
    cycle_s = 6.0

    def __init__(self, *a, symbols: int = 2, years: int = 1, trade_months: int = 1, **kw):
        super().__init__(*a, **kw)
        self.symbols = symbols
        self.n_months = 12 * years
        self.starts = _month_starts(self.n_months)
        self.n_minutes = int(self.starts[-1])
        self.trade_minutes = int(self.starts[trade_months])

    @staticmethod
    def iso(minute: int) -> str:
        return gen.iso(gen.EPOCH_MS + minute * gen.MINUTE_MS)

    def key(self, s):
        from dl_datalake_spark.lake.paths import DatasetKey

        return DatasetKey(EXCHANGE, "SPOT", f"SYM{s}")

    def trades_key(self):
        from dl_datalake_spark.lake.paths import DatasetKey

        return DatasetKey(EXCHANGE, "SPOT", "TRADES", "ticks")

    def setup(self) -> None:
        from dl_datalake_spark.lake.writer import LakeWriter

        spark = self.spark
        w = LakeWriter(spark, self.base, manifest=self.manifest(), fs=self.fs)
        minute = spark.range(self.n_minutes).withColumnRenamed("id", "m")
        sym = spark.range(self.symbols).withColumnRenamed("id", "s")
        part = (f"least((dayofmonth(timestamp_millis({gen.EPOCH_MS} + m * {gen.MINUTE_MS}))"
                f" - 1) div 10, {APPENDS - 1})")
        rows = minute.crossJoin(sym).selectExpr(
            "concat('SYM', s) AS symbol", f"{part} AS part",
            *gen.candles_sql("m", "s", self.seed))
        for k in range(APPENDS):
            batch = rows.where(f"part = {k}").drop("part")
            self.build(lambda: w.write_ohlc_multi(batch, EXCHANGE, mode="append"))
        trades = (spark.range(self.trade_minutes).withColumnRenamed("id", "m")
                  .selectExpr(f"{gen.EPOCH_MS} + m * {gen.MINUTE_MS} AS ts",
                              f"{gen.trade_id_sql('m')} AS trade_id", "m AS minute"))
        bw = LakeWriter(spark, self.base, manifest=self.manifest(), fs=self.fs,
                        bucket_by={"trade_id": 16})
        self.build(lambda: bw.write_ticks(trades, self.trades_key(), mode="append"))
        self.files = lake_files(self.base)
        self.lake_bytes = disk_bytes(self.base)
        self.build_rows = self.symbols * self.n_minutes + self.trade_minutes
        # expected time-travel answer per symbol: rows and volume up to VERSION
        minutes = np.arange(self.n_minutes, dtype=np.int64)
        mask = _append_of(minutes) <= VERSION
        self.at_version = [
            (int(mask.sum()), int(gen.candles(minutes, s, self.seed)["volume"][mask].sum()))
            for s in range(self.symbols)]
        self.reader = self.make_reader()
        self.warm_up()

    def build(self, commit) -> None:
        t0 = time.perf_counter()
        with self.tracer.op("build"), self.disk_delta():
            commit()
        self.ops.append({"kind": "build", "s": time.perf_counter() - t0, "rows": 0, "ok": True,
                         "phase": "setup", "index": -1})

    def warm_up(self) -> None:
        """Each read shape once outside the measured window, so Catalyst
        and codegen are warm for all of them."""
        for i, kind in enumerate(dict.fromkeys(CYCLE)):
            self.run_op(kind, -1 - i)

    def sizes(self) -> dict:
        return {"datasets": self.symbols + 1, "rows": self.build_rows,
                "files": len(self.files), "bytes": sum(self.files.values()),
                "months_per_symbol": self.n_months}

    # -- ops ---------------------------------------------------------------

    def plan(self, kind: str, rng) -> dict:
        if kind == "narrow":
            days = self.n_minutes // DAY
            recent = rng.random() < 0.8
            d = int(rng.integers(max(0, days - 90), days) if recent else rng.integers(0, days))
            return {"s": int(rng.integers(self.symbols)), "lo": d * DAY, "hi": d * DAY + DAY - 1}
        if kind == "wide":
            n = WIDE_MONTHS
            first = int(rng.integers(0, self.n_months - n + 1))
            return {"s": int(rng.integers(self.symbols)), "lo": int(self.starts[first]),
                    "hi": int(self.starts[first + n]) - 1}
        if kind == "point":
            return {"m": int(rng.integers(self.trade_minutes))}
        return {"s": int(rng.integers(self.symbols))}

    def execute(self, kind: str, p: dict):
        from pyspark.sql import functions as F

        from dl_datalake_spark.operators.resample import resample_ohlcv

        r, tr = self.reader, self.tracer
        if kind in ("narrow", "wide"):
            with tr.span("lake.reader.plan"):
                df = r.read_range(EXCHANGE, f"SYM{p['s']}", start_date=self.iso(p["lo"]),
                                  end_date=self.iso(p["hi"]))
            if kind == "narrow":
                with tr.span("lake.reader.exec"):
                    out = df.collect()
                res = df
            else:
                with tr.span("operators.resample_ohlcv"):
                    res = resample_ohlcv(df, "1h")
                    with tr.span("lake.reader.exec"):
                        out = res.collect()
            return df, res, out
        if kind == "point":
            with tr.span("lake.reader.plan"):
                df = r.read_dataset(self.trades_key(),
                                    point={"trade_id": int(gen.trade_id([p["m"]])[0])})
            with tr.span("lake.reader.exec"):
                out = df.collect()
            return df, df, out
        with tr.span("lake.reader.plan"):
            df = r.read_dataset_at(self.key(p["s"]), VERSION)
        res = df.agg(F.count(F.lit(1)).alias("n"), F.sum("volume").alias("v"))
        with tr.span("lake.reader.exec"):
            out = res.collect()
        return df, res, out

    def check(self, kind: str, p: dict, out) -> tuple[bool, int]:
        """(correct, rows the reader returned) against the generator."""
        if kind == "narrow":
            want = gen.digest(gen.candles(np.arange(p["lo"], p["hi"] + 1), p["s"], self.seed))
            return gen.rows_digest(out) == want, len(out)
        if kind == "wide":
            minutes = np.arange(p["lo"], p["hi"] + 1)
            exp = gen.hourly(gen.candles(minutes, p["s"], self.seed))
            got = {c: np.array([r[c] for r in out]) for c in exp} if out else None
            ok = got is not None and len(out) == len(exp["ts"])
            if ok:
                order = np.argsort(got["ts"])
                ok = all(np.array_equal(got[c][order], exp[c]) for c in exp)
            return ok, len(minutes)
        if kind == "point":
            ok = len(out) == 1 and out[0]["minute"] == p["m"] and out[0]["ts"] == (
                gen.EPOCH_MS + p["m"] * gen.MINUTE_MS)
            return ok, len(out)
        n, vol = self.at_version[p["s"]]
        return (out[0]["n"] == n and out[0]["v"] == vol), n

    def live_files(self, kind: str, p: dict) -> int:
        key = self.trades_key() if kind == "point" else self.key(p["s"])
        return len(self.commit_log(key).latest_files() or [])

    def e2e(self) -> dict:
        ops = self.measured()

        def med(*kinds):
            return self.median([o["s"] for o in ops if o["kind"] in kinds])

        return {
            **super().e2e(),
            "range_narrow_s_p50": (med("narrow"), "s"),
            "range_wide_s_p50": (med("wide"), "s"),
            "point_s_p50": (med("point"), "s"),
            "space_bytes_per_row": (self.lake_bytes / self.build_rows, "B/row"),
        }
