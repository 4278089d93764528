"""Lake reader: partition-pruned, predicate-pushed range scans.

Reference: `storage/reader.py:21-72` builds a glob
`base/EX/*/SYM/type/**/*.parquet` and runs DuckDB
`SELECT * WHERE ts BETWEEN ? AND ? ORDER BY ts`. Here the same query is
declared against Hive partition columns with the scan rooted at the
dataset's own subtree:

- directory-level pruning happens BEFORE any file listing (we build the
  `exchange=…/market=…/…` prefix ourselves), so reading one dataset
  never lists the whole lake — at 100 TB, listing is the first
  bottleneck;
- year/month partitions inside the dataset are pruned by Catalyst from
  ts predicates (the reference's `**` glob could not prune dates);
- mergeSchema applies only within a dataset (schema evolution support)
  — never across datasets with unrelated schemas;
- the reference wildcards the market level and silently merges
  dual-listed symbols (reader.py:44, SURVEY §7.5.4); here market is
  explicit, with an opt-in all-markets listing.

All date→epoch conversion is UTC (the reference's reader used the
machine-local timezone — reader.py:53 — while its connector used UTC;
standardized per SURVEY §7.1).
"""

from __future__ import annotations

import operator
from datetime import datetime, timezone
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dl_datalake_spark.lake.fs import Filesystem, get_fs, has_visible_children
from dl_datalake_spark.lake.paths import DatasetKey, sanitize_symbol


class ChangeSet(NamedTuple):
    """Result of LakeReader.changes_since."""

    df: DataFrame | None        # changed slice (None = nothing new)
    latest: int                 # next consumer cursor
    touched: list[tuple[int, int]] | None  # [year, month]s; None = full scan
    has_delete: bool            # a delete commit (or pruned gap) in the slice


def iso_to_epoch_ms(s: str) -> int:
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


class LakeReader:
    def __init__(self, spark: SparkSession, base_path: str, fs: Filesystem | None = None):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        # Driver-side dir listing = the reference's glob; the Filesystem
        # abstraction (lake/fs.py) makes an s3a://... base_path work via
        # the JVM Hadoop FileSystem instead of os.listdir.
        self.fs = fs if fs is not None else get_fs(self.base_path, spark)
        self._bucket_memo: dict = {}

    def _level_values(self, prefix: str, level: str) -> list[str]:
        out = []
        for d in self.fs.listdir(prefix):
            if d.startswith(f"{level}="):
                out.append(d.split("=", 1)[1])
        return sorted(out)

    def _dataset_paths(
        self,
        exchange: str,
        symbol: str,
        data_type: str,
        market: str | None,
        period: str | None,
    ) -> list[str]:
        ex_dir = f"{self.base_path}/exchange={exchange}"
        markets = [market] if market else self._level_values(ex_dir, "market")
        paths = []
        for m in markets:
            sym_dir = f"{ex_dir}/market={m}/symbol={symbol}/data_type={data_type}"
            periods = [period] if period else self._level_values(sym_dir, "period")
            for p in periods:
                d = f"{sym_dir}/period={p}"
                # visible children, not bare existence: a dataset dir
                # holding only its _commits log has no data to scan yet
                if has_visible_children(self.fs, d):
                    paths.append(d)
        return paths

    def _bucket_of(self, value, nb: int, dtype: str) -> int | None:
        """The commit index's bucket id for a point-lookup literal —
        computed THROUGH Spark's own xxhash64 so it matches the write
        side bit-for-bit (a reimplementation would silently diverge on
        type widths).  Evaluated over an inline one-row table: Catalyst
        folds the projection into a LocalRelation, so `first()` runs on
        the driver and starts no Spark job.  Memoized per literal."""
        key = (repr(value), int(nb), dtype)
        if key not in self._bucket_memo:
            row = (
                self.spark.sql("VALUES (0)")
                .select(
                    F.pmod(
                        F.xxhash64(F.lit(value).cast(dtype)), F.lit(int(nb))
                    ).alias("b")
                )
                .first()
            )
            self._bucket_memo[key] = None if row["b"] is None else int(row["b"])
        return self._bucket_memo[key]

    @staticmethod
    def _residual(bounds: dict | None, point: dict | None) -> list:
        """The exact row predicates behind `bounds` and `point` file
        skipping: skipping is best-effort, these keep results exact."""
        conds = []
        for c, (blo, bhi) in (bounds or {}).items():
            if blo is not None:
                conds.append(F.col(c) >= blo)
            if bhi is not None:
                conds.append(F.col(c) <= bhi)
        for c, val in (point or {}).items():
            conds.append(F.col(c) == F.lit(val))
        return conds

    @staticmethod
    def _where_all(df: DataFrame, conds: list) -> DataFrame:
        """ONE `.where` over the conjunction: every `.where` call makes
        Spark analyse a new DataFrame, so chained calls cost plan time
        per predicate for the same optimized plan."""
        return df.where(reduce(operator.and_, conds)) if conds else df

    def _open_cost(self) -> int:
        """`spark.sql.files.openCostInBytes` as an int, from the
        session's SQLConf (`spark.conf.get` returns it with a unit
        suffix, e.g. "4194304b")."""
        return int(
            self.spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
        )

    def _scan_paths(
        self,
        paths: list[str],
        ts_bounds: tuple[int | None, int | None] | None = None,
        col_bounds: dict[str, tuple] | None = None,
        points: dict | None = None,
    ) -> tuple[DataFrame | None, int | None]:
        """Snapshot-isolated scan (lake/snapshot.py): a dataset whose
        commit log pins a live file list is read as EXACTLY those files
        — the committed snapshot — never the live directory, so a scan
        overlapping a concurrent upsert/overwrite/delete can neither
        see a torn partition set nor hit a vanished file (superseded
        files stay on disk until vacuum_tombstones' retention passes).
        Legacy datasets (no pinned commit) fall back to the directory
        scan, which matches disk because legacy writers delete eagerly.

        `ts_bounds` = (lo, hi) epoch-ms enables FILE SKIPPING: pinned
        files whose commit-recorded [min_ts, max_ts] don't overlap the
        bound never enter the plan — the Delta data-skipping mechanic,
        one level above parquet's own row-group stats (which still
        prune within the files that remain).  `col_bounds`
        ({col: (lo, hi)}) applies the same pruning against the commits'
        generalized per-column stats (writer `stats_cols` /
        `maintenance.recluster`) — pruning happens before any parquet
        footer read, which at 1e5 files is 1e5 saved metadata RPCs.
        Files without stats are kept, so skipping is always sound.

        Returns (frame, planned bytes): the commit-recorded `file_bytes`
        summed over the files left after skipping — known from the log
        alone, no job and no listing.  None when any planned file has
        no recorded size or a dataset falls back to the directory
        scan."""
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.snapshot import resolve_live_files
        from dl_datalake_spark.lake.spec import (
            DERIVED_SPEC_COLS,
            derive_spec_cols,
            grouped_scan,
            sig_of,
        )

        if not paths:
            return None, None
        lo, hi = ts_bounds if ts_bounds is not None else (None, None)
        timed = lo is not None or hi is not None
        planned: int | None = 0
        cbounds = dict(col_bounds or {})
        # one frame per dataset path, each read under its OWN contract
        # and spec epochs (`spec.grouped_scan`), unioned by name — one
        # shared mergeSchema read would serve stale physical names for
        # any renamed dataset and crash on widened-type mixes
        frames: list[DataFrame] = []
        sigs: set[tuple[str, ...]] = set()
        for p in paths:
            live = resolve_live_files(self.fs, p)
            if live is None:
                frames.append(
                    self.spark.read.option("mergeSchema", "true")
                    .option("basePath", self.base_path)
                    .parquet(p)
                )
                planned = None  # directory scan: no recorded sizes
                continue
            log = CommitLog(p, fs=self.fs)
            # ts stats and sizes come from one walk of the log
            stats, sizes = log.file_facts() if live else ({}, {})
            if live and (timed or cbounds):
                cstats = log.col_stats_many(list(cbounds)) if cbounds else {}

                def _in(s, blo, bhi):
                    if not s or s[0] is None or s[1] is None:
                        return True  # unknown range: must scan
                    if s[0] != s[0] or s[1] != s[1]:
                        # a NaN stat (older commits recorded Spark's
                        # min/max, which orders NaN above every number):
                        # no usable order, must scan
                        return True
                    # Spark's `x <= NaN` holds for every number: a NaN
                    # upper bound prunes nothing
                    return (bhi is None or bhi != bhi or s[0] <= bhi) and (
                        blo is None or s[1] >= blo
                    )

                def _overlaps(rel: str) -> bool:
                    if timed and not _in(stats.get(rel), lo, hi):
                        return False
                    return all(
                        _in(cstats[c].get(rel), blo, bhi)
                        for c, (blo, bhi) in cbounds.items()
                    )

                live = [rel for rel in live if _overlaps(rel)]
            if live and points:
                # point-lookup skipping (writer `bucket_by`): drop files
                # whose recorded bucket-id set excludes the literal's
                # bucket — before any footer RPC; files without recorded
                # buckets are kept, so skipping is always sound, and the
                # caller's residual equality filter keeps results exact
                bi = log.bucket_index()
                for c, val in points.items():
                    ent = bi.get(c)
                    if not ent:
                        continue
                    nb, dtype = ent["spec"]
                    b = self._bucket_of(val, int(nb), dtype)
                    if b is None:
                        continue
                    fmap = ent["files"]
                    live = [
                        rel for rel in live if rel not in fmap or b in fmap[rel]
                    ]
            if planned is not None:
                known = [sizes.get(rel) for rel in live]
                planned = None if None in known else planned + sum(known)
            df = grouped_scan(self.spark, self.base_path, p, live, log, self.fs)
            if df is not None:
                frames.append(df)
                sigs.update(map(sig_of, live))
        if not frames:
            return None, planned  # pinned-empty or every file skipped by stats
        if len(frames) > 1:
            # a spec column one dataset's layout has is DERIVED from ts
            # on the others (the writer's own derivation), so e.g. a
            # `day` filter is exact across the union
            derivable = [c for c in DERIVED_SPEC_COLS if any(c in s for s in sigs)]
            frames = [derive_spec_cols(f, derivable) for f in frames]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out, planned

    # -- public API ---------------------------------------------------------

    def read_range(
        self,
        exchange: str,
        symbol: str,
        data_type: str = "raw",
        start_date: str | None = None,
        end_date: str | None = None,
        market: str | None = None,
        period: str | None = None,
        bounds: dict[str, tuple] | None = None,
        point: dict | None = None,
    ) -> DataFrame:
        """Time-range scan, inclusive on both ends (reader.py:57-62).
        The bound does double duty: files whose commit-recorded ts range
        can't overlap are skipped before the scan (`_scan_paths`), and
        the residual predicate still pushes into the parquet reader for
        row-group pruning within the files that remain.  `bounds`
        ({col: (lo, hi)}) composes column-stats file skipping + the
        residual filters on top (see `read_dataset`).

        The result is ordered by ts.  When the commit-recorded bytes of
        the planned files sum to at most `spark.sql.files.openCostInBytes`
        (the bytes Spark could scan in the time it takes to open one
        more file, so splitting such an input cannot pay), it comes back
        as ONE partition sorted in place — the whole read is one Spark
        job.  Larger inputs, files without a recorded size and legacy
        datasets keep the global sort (a sampling job plus a shuffle)."""
        lo = iso_to_epoch_ms(start_date) if start_date is not None else None
        hi = iso_to_epoch_ms(end_date) if end_date is not None else None
        df, planned = self._scan_paths(
            self._dataset_paths(
                exchange.upper(),
                sanitize_symbol(symbol),
                data_type,
                market.upper() if market else None,
                period,
            ),
            ts_bounds=(lo, hi) if (lo is not None or hi is not None) else None,
            col_bounds=bounds,
            points=point,
        )
        if df is None:
            return self.spark.createDataFrame([], "ts long")
        ts = F.col("ts").cast("long")
        conds = []
        if lo is not None:
            conds.append(ts >= lo)
        if hi is not None:
            conds.append(ts <= hi)
        conds += self._residual(bounds, point)
        # Catalyst cannot translate a raw ts bound into year=/month=
        # partition predicates, so Hive-layout pruning never fires for
        # time-range reads on its own — derive the month window here
        # (linearized year*12+month, widened ±1 month in case the
        # writing session's timezone differed from UTC). This is the
        # only file-level pruning a LEGACY dataset (no commit stats)
        # gets; for pinned datasets it stacks under the stats skipping.
        if {"year", "month"} <= set(df.columns):
            lin = F.col("year") * 12 + F.col("month")
            if lo is not None:
                d = datetime.fromtimestamp(lo / 1000, tz=timezone.utc)
                conds.append(lin >= d.year * 12 + d.month - 1)
            if hi is not None:
                d = datetime.fromtimestamp(hi / 1000, tz=timezone.utc)
                conds.append(lin <= d.year * 12 + d.month + 1)
        df = self._where_all(df, conds)
        if planned is not None and planned <= self._open_cost():
            return df.coalesce(1).sortWithinPartitions("ts")
        return df.orderBy("ts")

    def read_dataset(
        self,
        key: DatasetKey,
        bounds: dict[str, tuple] | None = None,
        point: dict | None = None,
    ) -> DataFrame:
        """`bounds` = {column: (lo, hi)} (either side None for open):
        the rows satisfying every bound, with commit-level per-column
        file skipping applied first — files whose recorded [min, max]
        for a bounded column can't overlap never enter the plan
        (`read_range` is the ts-specialized sibling).  `point` =
        {column: value} is the EQUALITY sibling: on a dataset written
        with `bucket_by` the commit-level bucket index prunes files
        whose bucket set excludes the value's bucket (the point-lookup
        case min/max stats can't serve on unsorted data).  The residual
        predicates still run, so results are exact whether or not
        stats/buckets exist."""
        k = key.normalized()
        df, _ = self._scan_paths(
            self._dataset_paths(k.exchange, k.symbol, k.data_type, k.market, k.period),
            col_bounds=bounds,
            points=point,
        )
        if df is None:
            return self.spark.createDataFrame([], "ts long")
        return self._where_all(df, self._residual(bounds, point))

    def read_dataset_at(self, key: DatasetKey, version: int) -> DataFrame:
        """Time travel: the dataset exactly as of commit `version`
        (Delta's ``VERSION AS OF``) — possible on plain parquet because
        every commit pins its live file list and superseded files stay
        on disk until vacuum retention (lake/snapshot.py).  `version`
        -1 (or any pre-first-commit cut) is an empty frame.  Raises
        ValueError when the snapshot is unknowable: version beyond the
        committed head, history pruned past it, or a legacy dataset
        with no pinned listings."""
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.paths import dataset_rel_path
        from dl_datalake_spark.lake.snapshot import reclaimed
        from dl_datalake_spark.lake.spec import grouped_scan

        k = key.normalized()
        path = f"{self.base_path}/{dataset_rel_path(k)}"
        log = CommitLog(path, fs=self.fs)
        head = log.latest_version() if self.fs.exists(log.log_dir) else -1
        if version > head:
            raise ValueError(
                f"version {version} of {path} does not exist (head is {head})"
            )
        files = log.files_at(version)
        if files is None:
            raise ValueError(
                f"no pinned snapshot at version {version} of {path}: history "
                f"pruned past it or the dataset predates pinned listings"
            )
        if not files:
            return self.spark.createDataFrame([], "ts long")
        lost = reclaimed(self.fs, path, files, log.dv_at(version))
        if lost:
            raise ValueError(
                f"snapshot {version} of {path} is no longer reconstructable: "
                f"{lost} — raise the vacuum retention horizon if older "
                f"snapshots must stay readable"
            )
        # time travel serves the HISTORICAL schema (and names): the
        # contract as of `version`, not the head's post-evolution shape.
        # grouped_scan (lake/spec.py) splits a mixed-layout listing into
        # per-spec-epoch scan groups, so a snapshot straddling a
        # partition-spec evolution reads exactly as it was pinned.
        return grouped_scan(
            self.spark, self.base_path, path, files, log, self.fs,
            version=version,
        )

    def dataset_history(self, key: DatasetKey) -> list[dict]:
        """The dataset's finalized commits, oldest first (version, mode,
        rows, time range, ...) — the audit surface for picking a
        `read_dataset_at` version."""
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.paths import dataset_rel_path

        path = f"{self.base_path}/{dataset_rel_path(key.normalized())}"
        log = CommitLog(path, fs=self.fs)
        return log.history() if self.fs.exists(log.log_dir) else []

    def history_table(self, key: DatasetKey) -> DataFrame:
        """`dataset_history` as a QUERYABLE DataFrame — Delta's
        ``DESCRIBE HISTORY`` shape (VERDICT r7 stretch #7): one row per
        finalized commit with version/mode/rows/time range/file & CDF
        facts, so operators can join/aggregate lake state with the same
        engine that scans the data (audit dashboards, retention
        reports, commit-rate monitoring). The underlying metadata is
        driver-side and tiny (one JSON per retained commit) — same cost
        model as DESCRIBE HISTORY."""
        rows = []
        # one forward replay of the delta-encoded listing chain gives
        # every version's snapshot size (files_at per version would fold
        # the chain V times); `known` goes False across a pruned base or
        # an untrusted barrier and True again at the next checkpoint
        cur: set[str] = set()
        known = False
        for e in self.dataset_history(key):
            if "files" in e:
                cur, known = set(e["files"]), True
            elif "files_add" in e or "files_remove" in e:
                cur -= set(e.get("files_remove") or [])
                cur |= set(e.get("files_add") or [])
            elif e.get("partitions") != []:
                known = False  # files-less data commit: untrusted barrier
            rows.append(
                (
                    int(e["version"]),
                    e.get("mode"),
                    int(e["rows"]) if e.get("rows") is not None else None,
                    e.get("time_from"),
                    e.get("time_to"),
                    len(e["partitions"]) if e.get("partitions") is not None else None,
                    len(cur) if known else None,
                    bool(e.get("cdf", False)),
                    e.get("txid"),
                    float(e["committed_at"]) if e.get("committed_at") else None,
                    len(e["dv"]) if e.get("dv") is not None else 0,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, mode string, rows long, time_from long, "
            "time_to long, n_partitions int, n_files int, cdf boolean, "
            "txid string, committed_at double, n_dv_files int",
        )

    def quarantine_table(self, key: DatasetKey) -> DataFrame:
        """The dataset's quarantined rows as ONE queryable DataFrame
        (VERDICT r8 #4 — quarantine as a first-class surface, not a raw
        path): every `_quarantine/<uuid>` split a write-time
        expectations gate produced (writer `enforce="quarantine"`),
        with the data columns plus
          `_violated`     array<string> — the constraint names the row failed
          `version`       the commit whose write quarantined it
          `committed_at`  that commit's wall-clock finalize time
          `requeued`      whether requeue_quarantine already consumed the split
        DESCRIBE-HISTORY-shaped like `history_table` and joinable to it
        on `version`.  Splits reclaimed by vacuum_tombstones (past
        retention) simply drop out.  Multi-write splits
        (`<base>/_quarantine_multi/<txid>`, shared across the
        commit's datasets) are filtered to THIS dataset's rows and
        served too, with per-dataset requeue markers.  Cost: one
        bounded parquet scan per retained quarantine split — the
        violators, never the dataset."""
        from dl_datalake_spark.lake.paths import dataset_marker_tag, dataset_rel_path

        k = key.normalized()
        ds = f"{self.base_path}/{dataset_rel_path(k)}"
        frames = []
        for e in self.dataset_history(key):
            q = e.get("quarantine")
            if q:
                qdir = f"{ds}/_quarantine/{q}"
                if not self.fs.exists(qdir):
                    continue  # vacuumed past retention
                frames.append(
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(qdir)
                    .withColumn("version", F.lit(int(e["version"])))
                    .withColumn(
                        "committed_at", F.lit(float(e.get("committed_at") or 0.0))
                    )
                    .withColumn(
                        "requeued", F.lit(self.fs.exists(f"{qdir}/_REQUEUED"))
                    )
                )
                continue
            if e.get("multi") and e.get("expectations") and e.get("txid"):
                qdir = f"{self.base_path}/_quarantine_multi/{e['txid']}"
                if not self.fs.exists(qdir):
                    continue  # vacuumed
                df = self.spark.read.option("mergeSchema", "true").parquet(qdir)
                for col, want in (
                    ("exchange", k.exchange), ("market", k.market),
                    ("symbol", k.symbol), ("data_type", k.data_type),
                    ("period", k.period),
                ):
                    if col in df.columns:
                        df = df.where(F.col(col) == want)
                marker = f"{qdir}/_REQUEUED.{dataset_marker_tag(k)}"
                frames.append(
                    df.withColumn("version", F.lit(int(e["version"])))
                    .withColumn(
                        "committed_at", F.lit(float(e.get("committed_at") or 0.0))
                    )
                    .withColumn("requeued", F.lit(self.fs.exists(marker)))
                )
        if not frames:
            return self.spark.createDataFrame(
                [],
                "_violated array<string>, version long, committed_at double, "
                "requeued boolean",
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def multilog_table(self) -> DataFrame:
        """The lake-level multi-commit intent log as a DataFrame: one
        row per record (live or folded) with txid/status/times and the
        claimed (dataset, version) pairs exploded — joinable against
        `history_table` on (txid) or (dataset, version) for
        cross-dataset audit."""
        from dl_datalake_spark.lake.multilog import MultiCommitLog

        rows = []
        for rec in MultiCommitLog(self.base_path, fs=self.fs).records():
            for ds, v in sorted(rec.get("datasets", {}).items()):
                rows.append(
                    (
                        rec.get("txid"),
                        rec.get("status"),
                        float(rec.get("ts", 0.0)),
                        float(rec["ts_done"]) if rec.get("ts_done") else None,
                        ds,
                        int(v),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "txid string, status string, ts double, ts_done double, "
            "dataset string, version long",
        )

    # -- multi-dataset consistent reads (lake/multilog.py) -------------------

    def consistent_cut(self, keys: list[DatasetKey]) -> dict[str, int]:
        """A cross-dataset-consistent commit version per dataset
        (rel-path → version): starts from each dataset's latest committed
        version, then lowers any subset that would straddle a
        multi-dataset commit (`write_ohlc_multi`) that is only partially
        finalized across ≥2 of the requested datasets — the cut lands
        entirely before or entirely after every multi-commit, never
        inside one.  Version -1 = before the dataset's first commit.

        A record whose claimed slot was committed by a DIFFERENT txid
        (the multi-writer crashed, its claim was rolled aside and reused)
        or that is stale without completing can never become fully
        visible — it is treated as aborted and stops constraining the
        cut (permanent partial multi-commits are documented, the live
        half-finalized window is what this excludes)."""
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.multilog import MultiCommitLog
        from dl_datalake_spark.lake.paths import dataset_rel_path

        rels = [dataset_rel_path(k) for k in keys]
        logs = {r: CommitLog(f"{self.base_path}/{r}", fs=self.fs) for r in rels}
        cut = {
            r: (log.latest_version() if self.fs.exists(log.log_dir) else -1)
            for r, log in logs.items()
        }
        ml = MultiCommitLog(self.base_path, fs=self.fs)
        mine = set(rels)
        recs = [
            rec
            for rec in ml.records()
            if rec.get("status") != "aborted"
            and len(set(rec.get("datasets", {})) & mine) >= 2
        ]
        for _ in range(len(recs) + 1):  # lowering can straddle older records
            changed = False
            for rec in recs:
                touched = {
                    r: int(v) for r, v in rec["datasets"].items() if r in mine
                }
                if rec.get("status") == "committed":
                    # the writer flips to committed only AFTER every
                    # per-dataset finalize — every claimed slot IS this
                    # txid's, even when commit-log prune (keep_last) has
                    # since dropped the entry file. Requiring
                    # committed_entry here would mark busy datasets
                    # (>keep_last commits inside the record's TTL)
                    # "partially visible" and drag the cut below retained
                    # history into the live-scan fallback (ADVICE r7).
                    visible = {r: cut[r] >= v for r, v in touched.items()}
                else:
                    entries = {
                        r: logs[r].committed_entry(v) for r, v in touched.items()
                    }
                    if any(
                        e is not None and e.get("txid") != rec.get("txid")
                        for e in entries.values()
                    ):
                        continue  # a slot was usurped: record is dead, no constraint
                    visible = {
                        r: cut[r] >= v and entries[r] is not None
                        for r, v in touched.items()
                    }
                if all(visible.values()) or not any(visible.values()):
                    continue  # cut is entirely after or entirely before the record
                if ml.is_stale(rec) and rec.get("status") != "committed":
                    continue  # dead writer, permanent partial: serve individually
                for r, v in touched.items():
                    if cut[r] >= v:
                        cut[r] = v - 1
                        changed = True
            if not changed:
                break
        return cut

    def consistent_cut_at(
        self, keys: list[DatasetKey], at_ts: float
    ) -> dict[str, int]:
        """HISTORICAL consistent cut (rel-path → version): per dataset
        the newest commit finalized at or before `at_ts` (timestamp
        time travel), then raised to the smallest cut that contains
        every committed multi-dataset commit wholly or not at all — a
        multi-commit whose finalize sequence straddled `at_ts` is
        pulled in completely rather than served torn.  Raising (never
        lowering) keeps the closure monotone and terminating, and the
        result is the MINIMAL consistent cut covering the timestamp.
        Records that never committed don't constrain: their permanent
        partials are the documented stale-writer caveat."""
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.paths import dataset_rel_path

        rels = [dataset_rel_path(k) for k in keys]
        logs = {r: CommitLog(f"{self.base_path}/{r}", fs=self.fs) for r in rels}
        cut = {
            r: (log.version_at_time(at_ts) if self.fs.exists(log.log_dir) else -1)
            for r, log in logs.items()
        }
        return self._raise_cut_for_multicommits(cut)

    def _raise_cut_for_multicommits(self, cut: dict[str, int]) -> dict[str, int]:
        """Fixpoint closure: while any committed multi-record is
        partially inside `cut`, raise the missing datasets to the
        record's claimed versions.  Bounded by each dataset's head."""
        from dl_datalake_spark.lake.multilog import MultiCommitLog

        ml = MultiCommitLog(self.base_path, fs=self.fs)
        mine = set(cut)
        recs = [
            rec
            for rec in ml.records()
            if rec.get("status") == "committed"
            and len(set(rec.get("datasets", {})) & mine) >= 2
        ]
        for _ in range(len(recs) + 1):
            changed = False
            for rec in recs:
                touched = {
                    r: int(v) for r, v in rec["datasets"].items() if r in mine
                }
                visible = {r: cut[r] >= v for r, v in touched.items()}
                if all(visible.values()) or not any(visible.values()):
                    continue
                for r, v in touched.items():
                    if cut[r] < v:
                        cut[r] = v
                        changed = True
            if not changed:
                break
        return cut

    def read_datasets_at(
        self, keys: list[DatasetKey], txid: str
    ) -> dict[str, DataFrame]:
        """Multi-dataset time travel: the lake exactly as of the
        multi-commit `txid` (`write_ohlc_multi`'s returned record id) —
        the cross-dataset analogue of `read_dataset_at`, reconstructing
        "the lake as of run X" for backtest reproducibility.

        Composes the two existing ingredients: the multilog intent
        record (per-dataset claimed versions, lake/multilog.py) and
        each commit's pinned file listing (`CommitLog.files_at`).  Every
        dataset the record claims is served at its claimed version;
        requested datasets outside the record are served at their newest
        commit finalized at or before the record's commit time; the
        closure then guarantees no OTHER multi-commit is torn across the
        returned frames.  Raises ValueError — never a silent fallback —
        when the record is unknown/pruned, never fully committed, or a
        snapshot is no longer reconstructable (history pruned,
        vacuum_tombstones past retention)."""
        from dl_datalake_spark.lake.multilog import MultiCommitLog
        from dl_datalake_spark.lake.paths import dataset_rel_path

        ml = MultiCommitLog(self.base_path, fs=self.fs)
        rec = ml.record(txid)
        if rec is None:
            raise ValueError(
                f"multi-commit {txid!r} is unknown under {self.base_path} — "
                "never written, or its record was pruned (MultiCommitLog.prune)"
            )
        claimed = {r.strip("/"): int(v) for r, v in rec["datasets"].items()}
        if rec.get("status") != "committed":
            # derive the fact the flip would have recorded: every claimed
            # slot finalized by THIS txid (writer crashed before the flip)
            from dl_datalake_spark.lake.commitlog import CommitLog

            for r, v in claimed.items():
                e = CommitLog(f"{self.base_path}/{r}", fs=self.fs).committed_entry(v)
                if e is None or e.get("txid") != txid:
                    raise ValueError(
                        f"multi-commit {txid!r} never fully committed "
                        f"(status={rec.get('status')!r}, dataset {r} slot {v} "
                        "unfinalized or usurped) — there is no atomic cut to read"
                    )
        at_ts = float(rec.get("ts_done") or rec.get("ts") or 0.0)
        cut = self.consistent_cut_at(keys, at_ts)
        for r, v in claimed.items():
            if r in cut and cut[r] < v:
                cut[r] = v
        cut = self._raise_cut_for_multicommits(cut)
        out: dict[str, DataFrame] = {}
        for key in keys:
            k = key.normalized()
            out[k.symbol] = self.read_dataset_at(k, cut[dataset_rel_path(k)])
        return out

    def read_datasets_at_time(
        self, keys: list[DatasetKey], at_ts: float
    ) -> dict[str, DataFrame]:
        """Multi-dataset ``TIMESTAMP AS OF``: every dataset as of the
        consistent cut covering wall-clock `at_ts` (`consistent_cut_at`
        — newest commits finalized by then, straddling multi-commits
        pulled in whole).  Same loud-error contract as
        `read_datasets_at`; use that when you hold a txid (exact replay
        of a known run), this when you hold a time ("the lake at
        yesterday 18:00")."""
        from dl_datalake_spark.lake.paths import dataset_rel_path

        cut = self.consistent_cut_at(keys, at_ts)
        out: dict[str, DataFrame] = {}
        for key in keys:
            k = key.normalized()
            out[k.symbol] = self.read_dataset_at(k, cut[dataset_rel_path(k)])
        return out

    def read_datasets(self, keys: list[DatasetKey]) -> dict[str, DataFrame]:
        """Read several datasets at ONE consistent cut: a multi-dataset
        commit (`write_ohlc_multi`) is either visible in every returned
        DataFrame or in none — a reader overlapping the writer's
        per-dataset finalize sequence never sees a mixed epoch.  Each
        dataset is served as its snapshot at the cut: the pinned files
        with that version's deletion vectors applied, read under that
        version's contract and spec epochs (`spec.grouped_scan`).
        Returns {sanitized symbol: DataFrame}; a dataset with nothing
        visible at the cut comes back as an empty frame."""
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.paths import dataset_rel_path
        from dl_datalake_spark.lake.spec import grouped_scan

        cut = self.consistent_cut(keys)
        out: dict[str, DataFrame] = {}
        for key in keys:
            k = key.normalized()
            rel = dataset_rel_path(k)
            path = f"{self.base_path}/{rel}"
            log = CommitLog(path, fs=self.fs)
            files = log.files_at(cut[rel])
            if files is None:
                # legacy dataset (no pinned commits) or the cut's commit
                # was pruned: the live directory is the only truth
                df, _ = self._scan_paths(
                    [path] if has_visible_children(self.fs, path) else []
                )
            else:
                df = grouped_scan(
                    self.spark, self.base_path, path, files, log, self.fs,
                    version=cut[rel],
                )
            out[k.symbol] = (
                df if df is not None else self.spark.createDataFrame([], "ts long")
            )
        return out

    def list_symbols(self, exchange: str | None = None) -> list[str]:
        """Distinct symbols from the directory tree (reader.py:81-94) —
        no data scan at all."""
        exchanges = (
            [exchange.upper()]
            if exchange
            else self._level_values(self.base_path, "exchange")
        )
        symbols: set[str] = set()
        for ex in exchanges:
            for m in self._level_values(f"{self.base_path}/exchange={ex}", "market"):
                symbols.update(
                    self._level_values(f"{self.base_path}/exchange={ex}/market={m}", "symbol")
                )
        return sorted(symbols)


    def changes_since(self, key: DatasetKey, after_version: int) -> "ChangeSet":
        """Structured form of read_changes_since: also exposes WHICH
        partitions the slice covers (`touched`, None when the fallback
        full scan applies) and whether any commit in the slice was a
        row-level DELETE (`has_delete`).  Delete-aware consumers need
        both: a deleted bucket produces no rows, so an upsert-style
        refresh must REBUILD the touched partitions instead of merging
        (see client.refresh_rollup_cdc)."""
        from dl_datalake_spark.lake.commitlog import CommitLog

        k = key.normalized()
        path = self._dataset_paths(k.exchange, k.symbol, k.data_type, k.market, k.period)
        log = CommitLog(
            f"{self.base_path}/exchange={k.exchange}/market={k.market}"
            f"/symbol={k.symbol}/data_type={k.data_type}/period={k.period}",
            fs=self.fs,
        )
        latest = log.latest_version()
        if latest <= after_version:
            return ChangeSet(None, latest, None, False)
        touched: set[tuple[int, int]] = set()
        unknown = False
        has_delete = False
        history = log.history()
        # Prune truncation guard: CommitLog.prune drops old finalized
        # commit files.  If the oldest RETAINED version doesn't cover the
        # gap right after the cursor, the pruned commits' partitions are
        # unknowable — without this check the slice would silently omit
        # them while the cursor still advanced (permanent data loss for
        # the consumer).  Same remedy as a legacy commit: full-scan.
        # A pruned gap may also hide a delete, so has_delete goes
        # conservative (True) as well.
        if history and min(c["version"] for c in history) > after_version + 1:
            unknown = True
            has_delete = True
        for c in history:
            if c["version"] <= after_version:
                continue
            if c.get("mode") in ("delete", "delete-dv", "update", "update-dv", "merge", "restore"):
                # restores can drop rows; updates can MOVE a row's ts out
                # of a bucket (SET ts = ...), which a rollup consumer
                # must treat as a deletion from the old bucket
                has_delete = True
            parts = c.get("partitions")
            if parts is None:
                unknown = True  # legacy commit without partition metadata
            else:
                touched.update((int(y), int(m)) for y, m in parts)
        if not unknown and not touched:
            # The slice holds only zero-partition commits (mode="compact"
            # from maintenance.compact, "cdc-noop" cursor bumps, a delete
            # that matched nothing): the data is byte-identical, so the
            # consumer advances its cursor and rebuilds NOTHING.  Without
            # this branch a compaction would push every CDC consumer into
            # the full-scan fallback — a full rollup rebuild per dataset
            # at 100 TB for a maintenance op that changed no rows.
            return ChangeSet(None, latest, [], has_delete)
        df = self._scan_paths(path)[0]
        if df is None:
            # no data files left (e.g. a delete emptied the dataset) —
            # the change information still matters to delete-aware
            # consumers, so surface touched/has_delete with df=None
            return ChangeSet(
                None, latest, None if unknown else sorted(touched), has_delete
            )
        if unknown or not touched:
            # cannot prove a narrower slice: fall back to the full dataset
            return ChangeSet(df, latest, None, has_delete)
        pred = F.lit(False)
        for y, m in sorted(touched):
            pred = pred | ((F.col("year") == y) & (F.col("month") == m))
        return ChangeSet(df.where(pred), latest, sorted(touched), has_delete)

    def read_changes_since(
        self, key: DatasetKey, after_version: int
    ) -> tuple[DataFrame | None, int]:
        """Incremental (CDC-lite) read: rows from exactly the partitions
        touched by commits AFTER `after_version`, plus the current latest
        version to persist as the consumer's next cursor.

        Every commit records its touched [year, month] partitions
        (lake/writer.py), so an incremental consumer — a rollup refresh, a
        feature builder, a training-data exporter — re-reads only the
        changed slice of the dataset instead of scanning it.  At 100 TB
        this is the difference between a minutes-long catch-up and a full
        rescan; the cost is O(commits since cursor + touched partitions).

        Returns (None, latest) when nothing changed.  Rows from a touched
        partition include pre-existing rows of that partition (partition-
        level granularity, like Delta's file-level CDF without the
        per-row change type); keep-last consumers are idempotent to that.
        """
        cs = self.changes_since(key, after_version)
        return cs.df, cs.latest

    def read_change_feed(
        self, key: DatasetKey, after_version: int = -1
    ) -> tuple[DataFrame | None, int]:
        """Row-level change feed (Delta-style CDF): the exact rows each
        commit inserted / replaced / deleted, tagged `_change_type`
        ("insert" | "update_postimage" | "delete") with a
        `commit_version` column, for commits AFTER `after_version`.
        Requires the writer to run with `emit_cdf=True` (LakeWriter
        docstring); partition-granularity `changes_since` needs nothing
        and remains the default CDC surface.

        Gap safety: a data-changing commit in the requested range that
        was written WITHOUT CDF emission (emit_cdf off, a multi-dataset
        overwrite, or history pruned past the cursor) raises ValueError —
        a row-level consumer must never silently miss changes; fall
        back to changes_since() and rebuild.  Zero-partition commits
        (compact / cdc-noop / no-match delete) changed no rows and are
        skipped.

        Returns (feed DataFrame | None if nothing changed, latest
        version to persist as the next cursor).
        """
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.writer import LakeWriter

        k = key.normalized()
        ds = (
            f"{self.base_path}/exchange={k.exchange}/market={k.market}"
            f"/symbol={k.symbol}/data_type={k.data_type}/period={k.period}"
        )
        log = CommitLog(ds, fs=self.fs)
        latest = log.latest_version()
        if latest <= after_version:
            return None, latest
        history = log.history()
        if history and min(c["version"] for c in history) > after_version + 1:
            raise ValueError(
                f"change feed of {ds} is truncated: commits up to "
                f"{min(c['version'] for c in history) - 1} were pruned but the "
                f"cursor is {after_version} — fall back to changes_since()"
            )
        versions = []
        for c in history:
            v = c["version"]
            if v <= after_version:
                continue
            if c.get("partitions") == []:
                continue  # compact / cdc-noop / no-match: no row changed
            if not c.get("cdf"):
                raise ValueError(
                    f"commit {v} of {ds} (mode={c.get('mode')}) has no row-level "
                    f"change data — written without emit_cdf; fall back to "
                    f"changes_since()"
                )
            versions.append(v)
        if not versions:
            return None, latest
        root = f"{ds}/{LakeWriter.CDF_DIR}"
        # The feed may be served from two segment kinds
        # (maintenance.fold_change_feed): per-commit dirs
        # `commit_version=N` (commit_version inferred from the dir) and
        # folded ranges `commit_range=lo-hi-token` (commit_version a
        # real column). A version covered by a range is ALWAYS served
        # from the newest covering range — per-commit leftovers of a
        # crashed fold are shadowed, never double-served.
        ranges: list[tuple[int, int, str]] = []
        for name in self.fs.listdir(root):
            if name.startswith("commit_range="):
                try:
                    lo_s, hi_s = name.split("=", 1)[1].split("-")[:2]
                    ranges.append((int(lo_s), int(hi_s), name))
                except ValueError:
                    continue
        ranges.sort(key=lambda r: (r[1], r[0], r[2]), reverse=True)
        by_range: dict[str, list[int]] = {}
        plain: list[int] = []
        for v in versions:
            seg = next((n for lo, hi, n in ranges if lo <= v <= hi), None)
            if seg is not None:
                by_range.setdefault(seg, []).append(v)
            else:
                # explicit committed-version dirs: an aborted
                # transaction's orphan _cdf dir is never served
                plain.append(v)
        dfs = []
        if plain:
            dfs.append(
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", root)
                .parquet(*[f"{root}/commit_version={v}" for v in plain])
            )
        for seg, vs in by_range.items():
            dfs.append(
                self.spark.read.option("mergeSchema", "true")
                .parquet(f"{root}/{seg}")
                .where(F.col("commit_version").isin(vs))
            )
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d, allowMissingColumns=True)
        return df, latest

    def preview(self, df: DataFrame, offset: int, limit: int) -> tuple[int, DataFrame]:
        """Paginate without materializing (reference data.py:135-142)."""
        total = df.count()
        return total, df.offset(offset).limit(limit)
