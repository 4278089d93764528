"""`ingest`: a fixed sequence of small commits into two OHLCV datasets.

Each commit carries about 5,000 rows (the reference's flush chunk). One
dataset is written with the defaults, the other with `emit_cdf=True`.
Every commit is followed by a read-after-write check: `read_range` of the
touched window plus `manifest.watermark`. The same op log is replayed in
an in-memory DuckDB, which gives the expected rows of every check and of
the final state of each dataset.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
import duckdb
import numpy as np
import pandas as pd

import gen
from workload import Workload

EXCHANGE = "BENCH"
BATCH = 5000
START = 1_576_800  # minute of 2024-01-01T00:00Z
# (verb, dataset): dataset 0 has the default writer, dataset 1 emits CDF
# (its rows come from the warm-up append and each merge's inserts)
CYCLE = [("append", 0), ("append_optimistic", 0), ("upsert", 0), ("delete_rewrite", 0),
         ("delete_dv", 1), ("update", 0), ("merge", 1), ("csv_append", 0), ("compact", 0)]
# set-up gives the CDF dataset its first rows (the cycle deletes from it
# before it merges into it); that first commit in a fresh JVM is also the
# one that costs most, about 14 s. The measured cycle is the JVM's first,
# whose commits run about a fifth slower than later cycles' do; a warm-up
# cycle would take that out, but at about 20 s a cycle the run budget
# cannot buy it
WARM_UP = [("append", 1)]
COLS = ["ts", "open", "high", "low", "close", "volume"]
DML = {"delete_rewrite", "delete_dv", "update", "merge"}
APPENDS = {"append", "append_optimistic", "csv_append"}


class Ingest(Workload):
    name = "ingest"
    cycle = CYCLE
    cycle_s = 20.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.head = [START, START]  # next new minute per dataset
        self.max_ts = [None, None]  # newest ts ever committed per dataset
        self.duck = duckdb.connect()
        for d in (0, 1):
            self.duck.execute(f"CREATE TABLE d{d} (ts BIGINT, open DOUBLE, high DOUBLE, "
                              "low DOUBLE, close DOUBLE, volume DOUBLE)")
        self.variant = 0

    def key(self, d: int):
        from dl_datalake_spark.lake.paths import DatasetKey

        return DatasetKey(EXCHANGE, "SPOT", f"PAIR{d}")

    def setup(self) -> None:
        from dl_datalake_spark.lake.reader import LakeReader
        from dl_datalake_spark.lake.writer import LakeWriter

        man = self.manifest()
        self.writers = [LakeWriter(self.spark, self.base, manifest=man, fs=self.fs),
                        LakeWriter(self.spark, self.base, manifest=man, fs=self.fs,
                                   emit_cdf=True)]
        self.reader = LakeReader(self.spark, self.base, fs=self.fs)
        os.makedirs(os.path.join(self.work_dir, "csv"), exist_ok=True)
        for i, op in enumerate(WARM_UP):
            self.run_op(op, -1 - i)

    def sizes(self) -> dict:
        live = {f"PAIR{d}": self.duck.execute(f"SELECT count(*) FROM d{d}").fetchone()[0]
                for d in (0, 1)}
        return {"datasets": 2, "live_rows": live, "rows_per_commit": BATCH,
                "commits": len(self.ops)}

    # -- op generation (seeded; the package sees only the batches) ---------

    def batch(self, d: int, lo: int, n: int, variant: int) -> pd.DataFrame:
        return pd.DataFrame(gen.candles(np.arange(lo, lo + n), d, self.seed, variant))

    def plan(self, op, rng) -> dict:
        verb, d = op
        head = self.head[d]
        if verb in APPENDS:
            self.head[d] += BATCH
            return {"lo": head, "hi": head + BATCH - 1, "rows": self.batch(d, head, BATCH, 0)}
        if verb in ("upsert", "merge"):
            self.variant += 1
            self.head[d] += BATCH // 2
            lo = head - BATCH // 2
            return {"lo": lo, "hi": lo + BATCH - 1,
                    "rows": self.batch(d, lo, BATCH, self.variant)}
        if verb == "compact":
            return {"lo": head - BATCH, "hi": head - 1}
        width = 3000 if verb.startswith("delete") else 2000
        lo = int(rng.integers(max(START, head - 4 * BATCH), head - width))
        # a fixed threshold (volumes are uniform on 1..1000): the seed moves
        # the window, not the share of rows an op deletes
        return {"lo": lo, "hi": lo + width - 1, "volume_over": 500}

    # -- the op ------------------------------------------------------------

    def run_op(self, op, index: int) -> None:
        verb, d = op
        p = self.plan(op, self.rng)
        phase = self.tracer.phase
        lo_ts, hi_ts = (gen.EPOCH_MS + p[k] * gen.MINUTE_MS for k in ("lo", "hi"))
        record = {"kind": verb, "dataset": d, "phase": phase, "index": index, "ok": False,
                  "s": 0.0, "rows": 0, "raw_s": None}
        try:
            df = None
            if verb == "csv_append":
                p["csv"] = os.path.join(self.work_dir, "csv", f"batch-{index}.csv")
                p["rows"].to_csv(p["csv"], index=False)
            elif "rows" in p:
                df = self.spark.createDataFrame(p["rows"])
            with self.tracer.op(verb), self.disk_delta():
                t0 = time.perf_counter()
                res = self.commit(verb, d, p, df, lo_ts, hi_ts)
                record["s"] = time.perf_counter() - t0
            record["rows"] = len(p["rows"]) if "rows" in p else int(res.rows)
            self.replay(verb, d, p, lo_ts, hi_ts)
            with self.tracer.op("read_after_write"):
                t0 = time.perf_counter()
                with self.tracer.span("lake.reader.plan"):
                    rdf = self.reader.read_range(EXCHANGE, f"PAIR{d}", start_date=gen.iso(lo_ts),
                                                 end_date=gen.iso(hi_ts))
                with self.tracer.span("lake.reader.exec"):
                    rows = rdf.select("ts", "close", "volume").collect()
                wm = self.manifest().watermark(EXCHANGE, f"PAIR{d}")
                record["raw_s"] = time.perf_counter() - t0
                self.tracer.catalyst(rdf)
            if self.tracer.enabled and phase == "measure":
                live = len(self.commit_log(self.key(d)).latest_files() or [])
                if live:
                    self.scanned.append(len(rdf.inputFiles()) / live)
            want = self.expected(d, f"ts BETWEEN {lo_ts} AND {hi_ts}")
            record["ok"] = gen.rows_digest(rows) == want and wm == self.max_ts[d]
            if not record["ok"]:
                print(f"ingest: {verb} #{index} on PAIR{d}: read-after-write "
                      f"{gen.rows_digest(rows)} want {want}; watermark {wm} "
                      f"want {self.max_ts[d]}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        self.ops.append(record)

    def commit(self, verb: str, d: int, p: dict, df, lo_ts: int, hi_ts: int):
        w, key, tr = self.writers[d], self.key(d), self.tracer
        if verb == "append":
            return w.write_ohlc(df, key, mode="append")
        if verb == "append_optimistic":
            return w.write_ohlc(df, key, mode="append", optimistic=True)
        if verb == "csv_append":
            from dl_datalake_spark.sources.csv_source import read_ohlcv_csv

            with tr.span("sources.csv_source"):
                batch = read_ohlcv_csv(self.spark, p["csv"])
            return w.write_ohlc(batch, key, mode="append")
        if verb == "upsert":
            return w.write_ohlc(df, key, mode="upsert")
        if verb == "merge":
            return w.merge_into(key, df, on="ts",
                                when_matched_update={"close": "s.close",
                                                     "volume": "t.volume + s.volume"})
        if verb == "compact":
            return w.compact_partitions(key)
        pred = f"ts >= {lo_ts} AND ts <= {hi_ts}"
        if verb == "update":
            return w.update_where(key, {"close": "close + 1", "volume": "volume + 1"}, pred)
        pred += f" AND volume > {p['volume_over']}"
        return w.delete_where(key, pred, strategy="dv" if verb == "delete_dv" else "rewrite")

    def expected(self, d: int, where: str = "TRUE") -> tuple[int, int, int, int]:
        """`gen.digest` of the replayed dataset's rows matching `where`."""
        row = self.duck.execute(
            "SELECT count(*), sum(ts), sum(CAST(round(close * 100) AS BIGINT)), "
            f"sum(CAST(volume AS BIGINT)) FROM d{d} WHERE {where}").fetchone()
        return tuple(int(x or 0) for x in row)

    def replay(self, verb: str, d: int, p: dict, lo_ts: int, hi_ts: int) -> None:
        """The same commit in DuckDB: the expected state of the dataset."""
        t, q = f"d{d}", self.duck.execute
        if "rows" in p:
            self.duck.register("batch", p["rows"])
            if verb == "upsert":
                q(f"DELETE FROM {t} WHERE ts IN (SELECT ts FROM batch)")
            if verb == "merge":
                q(f"UPDATE {t} SET close = s.close, volume = {t}.volume + s.volume "
                  f"FROM batch s WHERE {t}.ts = s.ts")
                q(f"INSERT INTO {t} SELECT * FROM batch WHERE ts NOT IN (SELECT ts FROM {t})")
            else:
                q(f"INSERT INTO {t} SELECT {', '.join(COLS)} FROM batch")
            self.duck.unregister("batch")
            top = int(p["rows"]["ts"].max())
            self.max_ts[d] = top if self.max_ts[d] is None else max(self.max_ts[d], top)
        elif verb == "update":
            q(f"UPDATE {t} SET close = close + 1, volume = volume + 1 "
              f"WHERE ts >= {lo_ts} AND ts <= {hi_ts}")
        elif verb != "compact":
            q(f"DELETE FROM {t} WHERE ts >= {lo_ts} AND ts <= {hi_ts} "
              f"AND volume > {p['volume_over']}")

    # -- final checks and metrics -------------------------------------------

    def verify(self) -> list[str]:
        """Each dataset's final rows against the DuckDB replay, and no
        claim conflicts in any commit (one client)."""
        from pyspark.sql import functions as F

        failures = []
        for d in (0, 1):
            got = self.reader.read_dataset(self.key(d)).agg(
                F.count(F.lit(1)), F.sum("ts"),
                F.sum(F.round(F.col("close") * 100).cast("long")),
                F.sum(F.col("volume").cast("long"))).collect()[0]
            got, want = tuple(int(x or 0) for x in got), self.expected(d)
            if got != want:
                failures.append(f"PAIR{d} final digest {got} want {want}")
            conflicts = sum(int(e.get("claim_conflicts", 0))
                            for e in self.commit_log(self.key(d)).history())
            if conflicts:
                failures.append(f"PAIR{d} claim_conflicts={conflicts}")
        return failures

    def e2e(self) -> dict:
        from harness import disk_bytes

        ops = self.measured()

        def med(kinds):
            return self.median([o["s"] for o in ops if o["kind"] in kinds])

        live = sum(self.sizes()["live_rows"].values())
        return {
            **super().e2e(),
            "append_s_p50": (med(APPENDS), "s"),
            "upsert_s_p50": (med({"upsert"}), "s"),
            "dml_s_p50": (med(DML), "s"),
            "read_after_write_s_p50": (
                self.median([o["raw_s"] for o in ops if o["raw_s"] is not None]), "s"),
            "space_bytes_per_row": (disk_bytes(self.base) / live, "B/row"),
        }
