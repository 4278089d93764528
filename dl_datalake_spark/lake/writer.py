"""Lake writer: partitioned-Parquet sink with keep-last upsert semantics.

Reference behavior being re-expressed (not ported):
- monthly partition fan-out from an epoch-ms `ts` column
  (`storage/writer.py:137-187` derives a month key then loops
  `partition_by("month")` in Python — here it is ONE Spark job with
  `partitionBy(...)`, executors write all partitions in parallel);
- upsert: re-written rows win over existing rows at the same `ts`
  (`storage/writer.py:83-92` concats existing-then-new and relies on
  Polars `unique(keep="last")` — implicit row order does not exist in
  Spark, so precedence is an explicit `_src` column + window);
- atomic writes (`writer.py:103-106` tmp+rename — Spark's commit
  protocol plus dynamic partition overwrite already gives this);
- extra columns pass through untouched; schema evolution handled at
  read time with mergeSchema (union-by-name semantics).

Scale notes: partitions are (dataset key)/year/month so a 100 TB lake
prunes to the touched months; the upsert reads ONLY the months present
in the incoming batch (partition-pruned anti-overlap read), never the
whole dataset; `sortWithinPartitions(ts)` preserves the sorted-file
invariant the reference maintains so downstream range scans get
row-group min/max pruning.
"""

from __future__ import annotations

from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.fs import Filesystem, get_fs, has_visible_children
from dl_datalake_spark.lake.manifest import ManifestManager
from dl_datalake_spark.lake.paths import IDENTITY_COLS, PARTITION_COLS, DatasetKey
from dl_datalake_spark.lake.snapshot import (
    added_file_stats,
    file_sizes,
    footer_facts,
    list_data_files,
    partition_of,
    resolve_live_files,
)


class _NoMatch(Exception):
    """Internal: a DML matched no rows — abort, commit nothing."""


class _ReplayedTxn(Exception):
    """Internal: idempotent-txn replay detected under the commit claim
    (a concurrent writer committed the same (app, version) between the
    fast-path check and our claim) — aborts the transaction cleanly."""


@dataclass
class WriteResult:
    path: str
    time_from: int | None
    time_to: int | None
    rows: int
    partitions: list[list[int]] | None = None  # touched [year, month] pairs
    files: list[str] | None = None  # post-commit live file list (snapshot)
    file_stats: dict | None = None  # {added rel path: [min_ts, max_ts]}
    col_stats: dict | None = None  # {col: {added rel path: [min, max]}}
    file_buckets: dict | None = None  # {col: {added rel path: [bucket ids]}}
    bucket_spec: dict | None = None  # {col: [n_buckets, dtype]} (writer bucket_by)
    file_bytes: dict | None = None  # {added rel path: bytes} (admission control)
    cdf_bytes: int | None = None  # this commit's CDF delta size in bytes
    txid: str | None = None  # multi-commit id (write_ohlc_multi) — the
    # handle LakeReader.read_datasets_at replays the whole cut from


@dataclass
class _Staged:
    """The files staged under one root (a directory that mirrors the
    dataset's layout) and every fact a commit records about them, all
    read from those files (`LakeWriter._stage_facts`)."""

    root: str
    added: list[str]  # rel paths, identical under the root and the dataset
    file_stats: dict
    col_stats: dict
    facts: dict  # {"t0", "t1", "n"}
    pcounts: dict  # {(year, month): rows}; null-ts files touch no month
    file_buckets: dict
    bucket_spec: dict
    file_bytes: dict

    def commit_facts(self) -> dict:
        """Rows, time range and touched months — what a write that
        commits exactly the rows it staged records."""
        return {
            "rows": int(self.facts["n"]),
            "time_from": self.facts["t0"],
            "time_to": self.facts["t1"],
            "partitions": [list(p) for p in sorted(self.pcounts)],
        }


@dataclass
class _Staging:
    """One data write's private `_staging_<token>` dir (data files,
    change feed under `cdf`) and what landed from it so far: one
    (dataset path, claimed version, rel paths moved in) per `_land`."""

    dir: str
    landed: list[tuple[str, int, list[str]]] = field(default_factory=list)

    @property
    def cdf(self) -> str:
        return f"{self.dir}/{LakeWriter.CDF_DIR}"


#: the most (symbol, year, month) triples a multi-dataset upsert prunes
#: its read-back by; wider batches prune by month alone
_MULTI_PRUNE_TRIPLES = 1024


def _month_of(row) -> tuple[int | None, int | None]:
    """A collected (year, month) row as a partition key; null-ts rows
    are the month (None, None), as `partition_of` maps their files."""
    if row["year"] is None:
        return None, None
    return int(row["year"]), int(row["month"])


def _month_sorted(months) -> list:
    """(year, month) pairs in order, the null-ts month (None, None)
    first (it does not compare with ints)."""
    return sorted(months, key=lambda p: (p[0] is not None, p))


def _dated(months) -> list[list[int]]:
    """The months a commit records: every touched month but the null-ts
    one, which no write records (`LakeWriter._probe_months`)."""
    return [list(p) for p in _month_sorted(months) if p[0] is not None]


def _require_ts(df: DataFrame, ts_col: str) -> str:
    if ts_col in df.columns:
        return ts_col
    if "timestamp" in df.columns:  # writer.py:89 fallback
        return "timestamp"
    raise ValueError(f"DataFrame must contain a '{ts_col}' (or 'timestamp') column")


class LakeWriter:
    """Writes time-series batches into the partitioned lake with upsert."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        manifest: ManifestManager | None = None,
        fs: Filesystem | None = None,
        commit_timeout_s: float = 60.0,
        emit_cdf: bool = False,
        stats_cols: list[str] | None = None,
        expectations: list | None = None,
        enforce: str = "fail",
        cluster_by: list[str] | None = None,
        cluster_files_per_month: int = 1,
        cluster_bits: int = 6,
        bucket_by: dict[str, int] | None = None,
        merge_schema: bool = False,
        optimize_write: bool = False,
        target_file_rows: int = 1_000_000,
        staging_heartbeat_s: float = 60.0,
    ):
        """`emit_cdf=True` turns on the row-level change feed: every
        single-dataset upsert/append/delete additionally writes its
        changed rows (tagged `_change_type` = insert / update_postimage /
        delete) under `<dataset>/_cdf/commit_version=N/`, keyed by the
        commit version — the Delta-style CDF that lets NON-idempotent
        consumers subscribe to row deltas instead of re-reading touched
        partitions (reader.read_change_feed).  Off by default: the feed
        costs one extra write of the changed rows per commit.

        `stats_cols` extends the commit-level data-skipping index beyond
        ts: every commit also records per-added-file [min, max] of these
        columns (read from the same footers, no Spark job), so
        `LakeReader` scans bounded on them prune files BEFORE any
        parquet footer read at scan time — pair with
        `maintenance.recluster` (Z-order) to make the ranges tight.
        Columns absent from a batch's schema are skipped per commit.

        `expectations` (lake/expectations.py constraints) are enforced
        on every single-dataset write BEFORE the commit claim — Delta's
        table CHECK constraints.  `enforce="fail"` (default) raises
        ExpectationError with the dataset untouched;
        `enforce="quarantine"` commits only the passing rows and lands
        the violators under `<dataset>/_quarantine/<uuid>/` with the
        per-constraint violation counts recorded in the commit payload
        (`expectations` key) — auditable through `history_table`.

        `cluster_by` CLUSTERS FRESHLY INGESTED FILES on those columns at
        write time: within each month partition the batch is
        range-partitioned + sorted on the clustered column (one column;
        raw ranges are disjoint) or its Z-order Morton key (several;
        lake/clustering.py), so every added file covers a TIGHT slice of
        the clustered domain instead of the whole of it.  Without this
        the generalized skip index (`stats_cols`) is inert on fresh
        data — naturally unsorted batches give every file a full-domain
        [min, max] and nothing prunes until a post-hoc
        `maintenance.recluster` rewrite.  The reference keeps ingest
        files ts-sorted at write (`storage/writer.py:92`); this is the
        same invariant generalized to arbitrary stats columns.
        `cluster_by` columns are implicitly added to `stats_cols` so
        the commit index records their per-file ranges.  Cost: one
        range shuffle (plus, for >1 column, one quantile-edges agg pass)
        per write — the batch, never the dataset.
        `cluster_files_per_month` sizes the output (files per touched
        month partition); `cluster_bits` is the Z-order bucket depth.

        `bucket_by` ({column: n_buckets}) is the POINT-LOOKUP skip
        index — the complement of `cluster_by`/`stats_cols`, which only
        prune RANGE predicates on order-correlated columns.  Within
        each month partition the batch is hash-partitioned on
        ``pmod(xxhash64(col), n_buckets)`` so each output file holds few
        buckets, and the commit records the per-file bucket-id SET
        (``file_buckets``) plus the spec (``bucket_by``).  A
        `LakeReader.read_dataset(key, point={col: value})` then prunes
        every file whose bucket set excludes the value's bucket BEFORE
        any parquet footer RPC — at 1e5 files an equality lookup on an
        unsorted high-cardinality column (user_id, doc_id) plans
        ~1/n_buckets of the files (Hive bucketing re-expressed on the
        commit index; the reference has no secondary indexing at all).
        Files written without the spec (legacy, compacted) are merely
        scanned — skipping is always sound.  Mutually exclusive with
        `cluster_by` (the output layouts conflict).

        `merge_schema` opts into WRITE-TIME SCHEMA EVOLUTION
        (lake/schema.py — Delta's mergeSchema write option): every data
        commit records the dataset's resolved schema in the commit log
        and appends are checked against it UNDER THE CLAIM.  With the
        default False, a batch adding new columns or widening a type is
        REJECTED (SchemaContractError, dataset untouched) — the
        write-side contract parquet alone lacks (the reference checks
        only that ts exists, storage/writer.py:162-164; a silent type
        flip there corrupts the dataset for every reader).  Batches
        with NARROWER lossless types (int into bigint, float into
        double) are silently upcast at write either way.  See
        `CommitLog.schema_at(version)` for the historical schemas time
        travel serves."""
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.manifest = manifest
        self.fs = fs if fs is not None else get_fs(self.base_path, spark)
        self.commit_timeout_s = commit_timeout_s
        self.emit_cdf = emit_cdf
        self.cluster_by = list(cluster_by or [])
        self.cluster_files_per_month = max(1, int(cluster_files_per_month))
        self.cluster_bits = int(cluster_bits)
        # clustered columns are stats columns: the tight layout is only
        # useful if the commit index records the per-file ranges
        self.stats_cols = list(dict.fromkeys(list(stats_cols or []) + self.cluster_by))
        self.bucket_by = {c: int(n) for c, n in (bucket_by or {}).items()}
        if any(n < 2 for n in self.bucket_by.values()):
            raise ValueError("bucket_by needs n_buckets >= 2 per column")
        if self.bucket_by and self.cluster_by:
            raise ValueError(
                "bucket_by and cluster_by are mutually exclusive (hash vs "
                "range output layout) — pick per dataset"
            )
        if enforce not in ("fail", "quarantine"):
            raise ValueError(f"enforce must be fail|quarantine, got {enforce!r}")
        self.expectations = list(expectations or [])
        self.enforce = enforce
        self.merge_schema = bool(merge_schema)
        # Delta's optimizeWrite for APPENDS: bin-pack the output so each
        # touched partition gets ceil(rows / target_file_rows) files
        # instead of one small file per upstream task — a 32-partition
        # micro-batch otherwise lands 32 tiny files per month per
        # trigger, and the dataset accretes small files until an
        # operator runs `maintain`.  Append-only: the batch's own
        # per-partition counts are exact there (upsert/overwrite
        # rewrite merged months whose size the batch doesn't predict,
        # so they keep the standard layout and post-hoc `compact`).
        self.optimize_write = bool(optimize_write)
        self.target_file_rows = int(target_file_rows)
        # every data write touches its `_staging_<token>` dir on this
        # cadence while its Spark jobs run (`_staging`), so a concurrent
        # `vacuum_tombstones` (which sweeps staging dirs by mtime age,
        # maintenance.py) sees a LIVE job's staging as fresh no matter
        # how long the job takes — the same liveness signal the commit
        # claim's heartbeat provides (commitlog._start_heartbeat)
        self.staging_heartbeat_s = float(staging_heartbeat_s)

    def commit_log(self, key: DatasetKey) -> CommitLog:
        """The dataset's optimistic commit log (audit surface: use
        .history() to list finalized commits with rows/time ranges)."""
        return CommitLog(self.dataset_path(key), fs=self.fs)

    # -- public API (reference: write_ohlc / write_ticks / write_table) ----

    def write_ohlc(
        self,
        df: DataFrame,
        key: DatasetKey,
        mode: str = "upsert",
        commit_meta: dict | None = None,
        txn: tuple[str, int] | None = None,
        optimistic: bool = False,
    ) -> WriteResult:
        """`commit_meta` is merged into the commit-log payload — the
        atomic place to persist consumer cursors (e.g. the CDC
        source_version a rollup was built from) WITH the write they
        belong to.

        `txn=(app_id, version)` makes the write IDEMPOTENT (Delta's
        txnAppId/txnVersion): a commit tagged with a version at or
        below the app's last committed version is SKIPPED (rows=0,
        dataset untouched) — the exactly-once contract a foreachBatch
        append sink needs when a crash lands between commit and
        checkpoint (streaming/ingest.stream_append_ingest). Checked
        again under the commit claim, so concurrent replays race
        safely.

        `optimistic=True` (mode='append' only) runs the data job
        OUTSIDE the commit claim and validates under a milliseconds
        claim window (`_write`'s optimistic schedule) — concurrent
        appenders to one dataset scale instead of serializing their
        Spark jobs; a true conflict raises ConcurrentWriteConflict."""
        return self._write(
            df, key.normalized(), mode=mode, commit_meta=commit_meta, txn=txn,
            optimistic=optimistic,
        )

    def write_ticks(
        self,
        df: DataFrame,
        key: DatasetKey,
        mode: str = "upsert",
        txn: tuple[str, int] | None = None,
        optimistic: bool = False,
    ) -> WriteResult:
        """Free-schema (ts + arbitrary columns) write. A key still
        carrying the default "raw" data_type is coerced to "ticks"
        (writer.py:190-232 semantics); an explicit type — e.g.
        "funding" (exchange_connector.py:414-433) — is respected."""
        k = key.normalized()
        if k.data_type == "raw":
            k = DatasetKey(k.exchange, k.market, k.symbol, "ticks", k.period)
        return self._write(df, k, mode=mode, txn=txn, optimistic=optimistic)

    def write_ohlc_multi(
        self,
        df: DataFrame,
        exchange: str,
        market: str = "SPOT",
        data_type: str = "raw",
        period: str = "1m",
        mode: str = "upsert",
        symbol_col: str = "symbol",
    ) -> dict[str, WriteResult]:
        """ONE write job for MANY symbols' datasets.

        `df` carries a symbol column; every other dataset coordinate is
        shared. The per-symbol `write_ohlc` loop costs one commit +
        read-back + overwrite per symbol — 1,000 symbols means
        1,000 sequential Spark jobs. Here the keep-last merge, stats,
        and dynamic-partition overwrite each run once across all
        symbols (partitionBy already fans rows out to each dataset's
        directories), and the manifest rows land in one batched MERGE
        (`manifest.add_entries`). Commit-log transactions for all
        touched datasets are claimed in sorted order (deadlock-free)
        for the whole commit.

        Returns {sanitized_symbol: WriteResult}, same shape as calling
        write_ohlc per symbol.

        Change-feed note: with `emit_cdf=True` the merged keep-last
        window tags per-row changes (it already partitions by symbol),
        ONE staging job splits the changed rows by symbol, and a rename
        per dataset lands them as `_cdf/commit_version=N` — so
        `read_change_feed` serves multi-written datasets gap-free.
        mode="overwrite" with CDF still refuses loudly (per-dataset
        delete pre-images need the per-symbol path).

        Cross-dataset visibility: the per-dataset finalizes are not one
        atomic step, so a plain reader between them could see symbol A's
        new version next to symbol B's old one.  The commit records a
        lake-level intent (lake/multilog.py) before any finalize;
        `LakeReader.read_datasets` uses it to serve a consistent cut —
        the multi-commit is visible in all of its datasets or in none.
        """
        ts_col = _require_ts(df, "ts")
        ex, mk = exchange.upper(), market.upper()
        t = F.timestamp_millis(F.col(ts_col).cast("long"))
        batch = (
            # engine-side sanitize_symbol (paths.py): BTC/USDT → BTC_USDT
            df.withColumn(
                "symbol", F.upper(F.regexp_replace(F.col(symbol_col), "[/: ]", "_"))
            )
            .withColumn("exchange", F.lit(ex))
            .withColumn("market", F.lit(mk))
            .withColumn("data_type", F.lit(data_type))
            .withColumn("period", F.lit(period))
            .withColumn("year", F.year(t))
            .withColumn("month", F.month(t))
        )
        import uuid

        # Cross-dataset visibility (lake/multilog.py): every per-dataset
        # commit carries this txid and `_multi_commit` records the intent
        # before any finalize, so a concurrent `read_datasets` excludes
        # the half-finalized window. Generated up-front so the
        # quarantine dir below can share it.
        txid = uuid.uuid4().hex
        exp_meta: dict = {}
        if self.expectations:
            # same write-time CHECK contract as the single-dataset path;
            # quarantined rows keep their symbol column, one dir per txid
            from dl_datalake_spark.lake.expectations import check

            if self.enforce == "fail":
                check(batch, self.expectations, enforce="fail")
            else:
                good, bad, report = check(
                    batch, self.expectations, enforce="quarantine"
                )
                counts = {
                    r["name"]: int(r["violations"])
                    for r in report.collect()
                    if r["violations"] > 0
                }
                if counts:
                    qdir = f"{self.base_path}/_quarantine_multi/{txid}"
                    bad.withColumn("_violated", self._violated_col()).write.mode(
                        "overwrite"
                    ).option("compression", "snappy").parquet(qdir)
                    batch = good
                    exp_meta = {"expectations": counts}
        # null-ts rows carry a null (year, month): they land under
        # __HIVE_DEFAULT_PARTITION__ as in write_ohlc and prune nothing
        triples = [
            (r["symbol"], r["year"], r["month"])
            for r in batch.select("symbol", "year", "month").distinct().collect()
        ]
        symbols = sorted({t[0] for t in triples})
        if not symbols:
            return {}
        keys = [DatasetKey(ex, mk, s, data_type, period) for s in symbols]

        from dl_datalake_spark.lake.paths import dataset_rel_path

        # ONE staging dir for every dataset's files: each dataset's share
        # `<staging>/<dataset_rel_path>` mirrors its directory, so the
        # facts and land steps run per dataset unchanged
        with self._staging(self.base_path) as st, self._multi_commit(
            keys, [{"mode": mode, **exp_meta}] * len(keys), txid
        ) as metas:
            # Write-time schema contract per dataset, ONE shared batch
            # (lake/schema.py): gather every dataset's lossless up-casts
            # first and apply the WIDEST (the single write job produces
            # identical files for all datasets), then re-resolve so each
            # commit records its own schema — a genuine cross-dataset
            # type conflict surfaces as a loud SchemaContractError here,
            # claims abort, nothing written.
            from dl_datalake_spark.lake import schema as _sc

            fp = _sc.fingerprint(batch)
            ptypes = {c: fp[c] for c in PARTITION_COLS if c in fp}
            for c in PARTITION_COLS:
                fp.pop(c, None)
            prevs: dict = {}
            prev_ptypes: dict = {}
            union_upcasts: dict[str, str] = {}
            for k in keys:
                prev, k_cmap, k_retired, k_pt, k_spec = self.commit_log(k).contract_at(None)
                prev_ptypes[k.symbol] = k_pt
                if tuple(k_spec) != ("year", "month"):
                    raise ValueError(
                        f"write_ohlc_multi: dataset {k.symbol} evolved its "
                        f"partition spec to {tuple(k_spec)} — the shared "
                        "write job has one directory layout; write it "
                        "through write_ohlc instead"
                    )
                if k_cmap:
                    raise ValueError(
                        f"write_ohlc_multi: dataset {k.symbol} carries a "
                        "column mapping (renamed columns) — the shared "
                        "write job cannot serve per-dataset physical "
                        "names; write it through write_ohlc instead"
                    )
                hit_retired = sorted(set(k_retired) & set(fp))
                if hit_retired:
                    # re-adding a dropped column needs a FRESH physical
                    # name (only the single-dataset path assigns one) —
                    # writing it here would reuse the retired physical
                    # and resurrect the dropped bytes
                    raise ValueError(
                        f"write_ohlc_multi: batch column(s) {hit_retired} "
                        f"were previously dropped from dataset {k.symbol} "
                        "— re-add them through write_ohlc (it assigns a "
                        "fresh physical name) before multi-writing"
                    )
                if prev is None:
                    prev = self._bootstrap_schema(self.dataset_path(k))
                prevs[k.symbol] = prev
                _, ups = _sc.resolve_append(
                    prev, fp, self.merge_schema, f"write {k.symbol}"
                )
                for c, t in ups.items():
                    cur = union_upcasts.get(c)
                    if cur is None or (cur, t) in _sc.WIDENINGS:
                        union_upcasts[c] = t
            batch = _sc.apply_upcasts(batch, union_upcasts)
            fp.update(union_upcasts)
            for k, meta in zip(keys, metas):
                meta["schema"], _ = _sc.resolve_append(
                    prevs[k.symbol], fp, self.merge_schema, f"write {k.symbol}"
                )
                if ptypes:
                    meta["partition_types"] = {
                        **prev_ptypes[k.symbol], **ptypes
                    }
            emit_cdf = self.emit_cdf
            if mode == "upsert":
                merged = self._merge_keep_last_multi(
                    batch, keys, ts_col, triples=triples, tag_changes=emit_cdf
                )
            elif mode == "append":
                merged = (
                    batch.withColumn("_change_type", F.lit("insert"))
                    if emit_cdf
                    else batch
                )
            elif mode == "overwrite":
                if emit_cdf:
                    # overwrite CDF needs per-dataset delete pre-images
                    # (_overwrite_tag_changes) — only the per-symbol path
                    # computes them; refusing is the loud-gap contract
                    raise ValueError(
                        "write_ohlc_multi(mode='overwrite') cannot emit row-level "
                        "CDF delete pre-images; use per-symbol write_ohlc on "
                        "CDF-enabled datasets"
                    )
                merged = batch
            else:
                raise ValueError(f"unknown write mode: {mode}")

            # the CDF write and the data write must see the same rows
            # (see _stage_write); every other fact comes from the files
            if emit_cdf:
                merged = merged.persist()
            try:
                out = merged.drop("_change_type") if emit_cdf else merged
                n_groups = (
                    out.select("symbol", "year", "month").distinct().count()
                    if any(c in out.columns for c in self.cluster_by)
                    else 0
                )
                out = self._cluster_output(
                    out, ts_col, ["symbol", "year", "month"], n_groups
                )
                # ONE append job for every dataset; visibility switches
                # per dataset when its pinned list finalizes below
                (
                    out.write.partitionBy(*PARTITION_COLS)
                    .option("compression", "snappy")
                    .mode("append")
                    .parquet(st.dir)
                )
                if emit_cdf:
                    # ONE job for every dataset's changed rows (symbol
                    # stays a data column; `_sym` splits the datasets)
                    (
                        merged.where(F.col("_change_type").isNotNull())
                        .withColumn("_sym", F.col("symbol"))
                        .write.mode("overwrite")
                        .option("compression", "snappy")
                        .partitionBy("_sym")
                        .parquet(st.cdf)
                    )
            finally:
                if emit_cdf:
                    merged.unpersist()
            # Manifest registration happens while the dataset claims are
            # still held — the same data-then-manifest ordering as
            # `_write`: registering after release would let a concurrent
            # writer commit data+manifest in the gap and then have its
            # manifest row clobbered by this (older) commit's.
            results: dict[str, WriteResult] = {}
            manifest_rows = []
            shares = self._stage_facts(
                [f"{st.dir}/{dataset_rel_path(k)}" for k in keys], ts_col, {}
            )
            for k, meta, staged in zip(keys, metas, shares):
                ds_path = self.dataset_path(k)
                cdf = f"{st.cdf}/_sym={k.symbol}"
                self._land(
                    st, staged, ds_path, meta, self._base_listing(ds_path),
                    drop=set(staged.pcounts) if mode != "append" else (),
                    cdf=cdf if emit_cdf and self.fs.exists(cdf) else None,
                )
                meta.update(staged.commit_facts())
                results[k.symbol], row = self._landed_result(k, ds_path, meta)
                manifest_rows.append(row)
            if self.manifest is not None:
                self.manifest.add_entries(manifest_rows)
        for res in results.values():
            res.txid = txid
        return results

    # -- row-level delete ---------------------------------------------------

    def delete_where(
        self,
        key: DatasetKey,
        predicate,
        months: list[tuple[int, int]] | None = None,
        commit_meta: dict | None = None,
        strategy: str = "rewrite",
        optimistic: bool = False,
    ) -> WriteResult:
        """Row-level DELETE: rewrite only the partitions holding matching
        rows (Delta's copy-on-write DELETE mechanic on plain parquet),
        serialized through the dataset's commit log like every write.

        `strategy="dv"` switches to MERGE-ON-READ deletion vectors
        (lake/dv.py): no data file is rewritten — the commit records the
        matched (file, row position) pairs in a tiny sidecar and readers
        anti-join them out.  Right choice when the matched fraction is
        small (GDPR purges, bad-row surgery on a 100 TB dataset);
        copy-on-write remains right when a large share of the touched
        partitions dies (the rewrite pays for itself in scan savings).

        `predicate` is a Column or SQL string; rows where it is TRUE are
        deleted — FALSE and NULL rows are kept (SQL DELETE semantics).
        `months` optionally bounds the probe scan to known [year, month]
        partitions (`delete_range` derives it from the ts bounds); without
        it the probe reads the dataset once to FIND touched partitions,
        but the rewrite is still bounded by the matching months.

        The kept rows of every touched month are written as new files
        and the commit pins a listing without the month's old files, so
        a partition left empty simply drops out of the snapshot (the old
        files stay on disk as tombstones until `vacuum_tombstones`).

        The commit records mode="delete" with the touched partitions, so
        CDC consumers (read_changes_since) re-read exactly those months
        and recompute — which is how partition-granularity CDC propagates
        deletes without per-row change types.  A no-match delete commits
        nothing (any claimed slot is released).

        `optimistic` picks the schedule of the copy-on-write pipeline
        (`_cow_dml`): False holds the commit claim across the probe and
        rewrite jobs; True runs them outside the claim against a
        captured snapshot and validates under the claim, raising
        ConcurrentWriteConflict when a commit that landed mid-job
        touched the rewritten months.  A legacy dataset (no pinned
        listing) always takes the claimed schedule.

        Returns a WriteResult whose `rows` is the DELETED row count.
        The reference has no row-level delete at all (only whole-dataset
        drop, manifest.py delete path); this is lake-layer surface the
        100 TB story needs (GDPR purges, bad-ingest rollback).
        """
        if strategy == "dv":
            if optimistic:
                raise ValueError(
                    "optimistic=True applies to strategy='rewrite' only: a "
                    "DV delete's commit rewrites the FULL dv map, which "
                    "cannot rebase onto concurrent dv commits (and its "
                    "claim window is already just the probe scan)"
                )
            return self._delete_where_dv(key, predicate, months, commit_meta)
        if strategy != "rewrite":
            raise ValueError(f"unknown delete strategy {strategy!r} (rewrite|dv)")
        k = key.normalized()
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate

        def compute(existing, snap):
            if existing is None:
                return None
            scan = existing.where(self._month_pred(months)) if months else existing
            matched = F.coalesce(pred, F.lit(False))
            touched, rows_deleted = self._probe_months(scan.where(matched))
            if not touched:
                return None
            mp = self._month_pred(touched)
            cdf = (
                scan.where(mp).where(matched)
                .withColumn("_change_type", F.lit("delete"))
                if self.emit_cdf
                else None
            )
            # keep = NOT TRUE (NULL predicate rows survive, like SQL)
            return {
                "out": scan.where(mp).where(~matched),
                "cdf": cdf,
                "read_months": touched,
                "rows": rows_deleted,
            }

        res = self._cow_dml(k, "delete", compute, commit_meta, optimistic=optimistic)
        if not res.rows:
            return res  # no match: nothing committed
        # incremental catalog refresh: a delete only removes rows, so
        # the prior entry's count adjusts by the delta and its (widen-
        # only) time range stands — no dataset rescan
        return self._refresh_manifest_result(
            k, res.path, res.rows, [tuple(p) for p in res.partitions],
            delta_rows=-res.rows,
        )

    def _delete_where_dv(
        self,
        key: DatasetKey,
        predicate,
        months: list[tuple[int, int]] | None = None,
        commit_meta: dict | None = None,
    ) -> WriteResult:
        """Merge-on-read DELETE via deletion vectors (lake/dv.py;
        `delete_where(strategy="dv")` is the public door).

        One probe scan of the pinned snapshot — filtered through the
        CURRENT deletion vectors so already-deleted rows are never
        re-counted or re-emitted to the change feed — finds the matched
        rows; their (lake-relative file, parquet row index) pairs become
        a new sidecar parquet under the dataset's hidden ``_dv/`` tree.
        For files that already carried a DV the new sidecar holds the
        UNION of old and new positions (Delta's DV-supersedes-DV rule),
        so the reader resolves exactly one sidecar per file.  The commit
        pins an UNCHANGED file listing (`files_add/files_remove: []` —
        the listing fold treats it as an empty delta) plus the full
        updated ``dv`` map; data files are untouched, which is the whole
        point at 100 TB.  CDF delete pre-images are emitted like the
        copy-on-write path, so feed consumers cannot tell the strategies
        apart.  Requires a commit-pinned dataset (legacy directories
        have no snapshot to anchor positions to)."""
        k = key.normalized()
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        log = self.commit_log(k)
        payload = {"mode": "delete-dv", **(commit_meta or {})}
        path = self.dataset_path(k)
        try:
            with log.transaction(timeout=self.commit_timeout_s, payload=payload) as meta:
                rows_deleted, touched = self._delete_dv_into(k, log, pred, months, meta)
                if rows_deleted == 0:
                    raise _NoMatch  # abort: a no-match delete commits nothing
        except _NoMatch:
            return WriteResult(path=path, time_from=None, time_to=None, rows=0, partitions=[])
        return self._refresh_manifest_result(
            k, path, rows_deleted, touched, delta_rows=-rows_deleted
        )

    def _delete_dv_into(
        self, k: DatasetKey, log: CommitLog, pred, months, meta: dict
    ) -> tuple[int, list]:
        """The DV-delete computation inside an ALREADY-CLAIMED commit
        transaction (`meta` is its payload dict) — shared by the
        single-dataset `_delete_where_dv` and the lake-level
        `delete_where_multi` (which holds claims on many datasets at
        once).  Fills `meta`; a no-match fills a zero-partition noop
        (the multi path commits it to keep the epoch atomic; the single
        path aborts instead).  Returns (rows deleted, touched)."""
        path = self.dataset_path(k)
        ds_rel = path[len(self.base_path.rstrip("/")) + 1 :]
        live = resolve_live_files(self.fs, path)
        if live is None:
            raise ValueError(
                f"delete strategy 'dv' needs a commit-pinned snapshot; "
                f"{path} has no pinned file list (legacy dataset) — "
                f"use strategy='rewrite' or write through LakeWriter first"
            )
        if not live:
            meta.update(rows=0, partitions=[])
            return 0, []
        dv_map = log.dv_at(None)
        # NULL predicate rows survive, like SQL DELETE
        probe = self._dv_probe(path, live, log, dv_map, months, pred).persist()
        try:
            touched, rows_deleted = self._probe_months(probe)
            if not touched:
                meta.update(rows=0, partitions=[])
                return 0, []
            if self.emit_cdf:
                meta["cdf_bytes"] = self._write_cdf(
                    k,
                    meta["version"],
                    probe.drop("_dv_file", "_dv_pos").withColumn(
                        "_change_type", F.lit("delete")
                    ),
                )
                meta["cdf"] = True
            dv_rel, hit_rels = self._write_dv_sidecar(
                path, ds_rel, probe, dv_map, rows_deleted
            )
        finally:
            probe.unpersist()
        hit_set = set(hit_rels)
        new_map = {r: d for r, d in dv_map.items() if r not in hit_set}
        for r in hit_rels:
            new_map[r] = dv_rel
        meta.update(
            rows=rows_deleted,
            partitions=_dated(touched),
            files_add=[],
            files_remove=[],
            dv=new_map,
        )
        return rows_deleted, touched

    def delete_where_multi(
        self, keys: list[DatasetKey], predicate, months=None
    ) -> dict[str, WriteResult]:
        """ATOMIC multi-dataset row-level DELETE via deletion vectors —
        the real GDPR shape: purge one user's rows from EVERY dataset
        that holds them, committed-or-invisible as one epoch.  A
        half-applied purge is worse than none (an audit sees the user
        'deleted' in one dataset and present in another), so this
        composes the DV delete with the multilog's consistent-cut
        mechanic exactly like `write_ohlc_multi`/`restore_lake_to`:

        - every dataset's commit log is claimed in sorted order
          (deadlock-free), the DV probe/sidecar runs per dataset under
          the held claims (`_delete_dv_into`; a dataset the predicate
          misses commits a zero-partition noop — the epoch stays
          atomic);
        - a multilog intent records all (dataset, version) pairs before
          any finalize, then the claims finalize and the record flips
          committed — readers' consistent cut excludes the half-deleted
          window, and `read_datasets_at(keys, txid)` replays the
          pre-purge or post-purge state but never a mix;
        - rewrite cost is zero (merge-on-read); the manifest refreshes
          incrementally after the flip.

        Returns {dataset rel path: WriteResult} with the shared `txid`."""
        import uuid as _uuid

        from dl_datalake_spark.lake.paths import dataset_rel_path

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        norm = [k.normalized() for k in keys]
        by_rel = {dataset_rel_path(k): k for k in norm}
        if len(by_rel) != len(norm):
            raise ValueError("delete_where_multi: duplicate dataset keys")
        rels = sorted(by_rel)  # sorted claim order: deadlock-free
        txid = _uuid.uuid4().hex
        out: dict[str, WriteResult] = {}
        with self._multi_commit(
            [by_rel[r] for r in rels], [{"mode": "delete-dv"}] * len(rels), txid
        ) as metas:
            for r, meta in zip(rels, metas):
                k = by_rel[r]
                n, touched = self._delete_dv_into(
                    k, self.commit_log(k), pred, months, meta
                )
                out[r] = WriteResult(
                    path=self.dataset_path(k), time_from=None, time_to=None,
                    rows=n, partitions=_dated(touched), txid=txid,
                )
        # manifest AFTER the flip (committed-or-invisible to the catalog
        # too); incremental — no dataset rescan
        if self.manifest is not None:
            for r, res in out.items():
                if res.rows > 0:
                    self._refresh_manifest_result(
                        by_rel[r], res.path, res.rows,
                        [tuple(p) for p in res.partitions], delta_rows=-res.rows,
                    )
        return out

    def merge_into(
        self,
        key: DatasetKey,
        source: DataFrame,
        on: str | list[str] = "ts",
        when_matched_update: dict | str | None = None,
        when_matched_delete=None,
        when_not_matched_insert=True,
        commit_meta: dict | None = None,
        full_scan: bool = False,
        optimistic: bool = False,
    ) -> WriteResult:
        """General MERGE INTO (Delta's flagship DML), strictly wider
        than the keep-last upsert (`write_ohlc(mode="upsert")` ==
        merge with update="*", insert=True):

        - rows are matched by equality on `on` (default ``ts``);
          multiple SOURCE rows hitting one target key raise, like
          Delta's duplicate-source-match error;
        - `when_matched_update`: dict target col -> Column/SQL over
          aliases ``t`` (target) and ``s`` (source), or the string
          ``"*"`` to take every source column; None leaves matched
          rows untouched (unless deleted);
        - `when_matched_delete`: Column/SQL condition over t/s (True
          deletes every matched row); evaluated BEFORE update;
        - `when_not_matched_insert`: bool or Column/SQL condition over
          s — unmatched source rows inserted when it holds.

        Assigning the merge keys or partition-identity columns is
        refused (rows cannot move partitions in a merge — use
        `update_where` for that).  Cost model: the rewrite is bounded
        by the SOURCE batch's months (partition-pruned exactly like the
        upsert), the join inside each month is a hash join on the merge
        key, and deletion vectors on the touched files are applied
        before the merge so dead rows never resurrect.  CDF: updated
        rows emit ``update_postimage``, deleted rows a ``delete``
        pre-image, inserted rows ``insert``.

        `optimistic` picks the schedule of the copy-on-write pipeline
        (`_cow_dml`): False runs the join and rewrite under the commit
        claim; True runs them outside it against a captured snapshot
        and validates the read months (the source batch's, or every
        target month under `full_scan`) under the claim.  A legacy
        dataset always takes the claimed schedule.

        Returns a WriteResult whose `rows` is inserted+updated+deleted;
        the commit records the per-action counts
        (``merge_inserted/merge_updated/merge_deleted``)."""
        k = key.normalized()
        on_cols = [on] if isinstance(on, str) else list(on)
        if "ts" not in on_cols and not full_scan:
            # the target scan is bounded to the SOURCE batch's months —
            # sound only when the merge key derives the partition. A
            # non-ts key could match target rows in months the batch
            # never touches; scanning silently too little would insert
            # duplicates, so refuse rather than guess.  full_scan=True
            # opts into Delta's actual shape for this case: a
            # partition-UNBOUNDED hash join that rewrites every touched
            # target partition — O(dataset), the honest cost of a
            # non-partition-key merge.
            raise ValueError(
                "merge_into requires 'ts' among the `on` columns (matching is "
                "partition-bounded by the source batch's months); pass "
                "full_scan=True to match against the FULL target instead "
                "(partition-unbounded join, rewrites every touched partition), "
                "or use update_where/delete_where for keyed row edits"
            )
        upd = when_matched_update
        if isinstance(upd, dict):
            upd = {c: (F.expr(e) if isinstance(e, str) else e) for c, e in upd.items()}
            bad = sorted(set(upd) & (set(self._forbidden_assign(k)) | set(on_cols) | {"ts"}))
            if bad:
                raise ValueError(
                    f"merge cannot assign key/partition columns {bad}; "
                    f"use update_where to move rows"
                )
        del_cond = (
            F.expr(when_matched_delete)
            if isinstance(when_matched_delete, str)
            # the documented bool forms: True = delete every matched
            # row (as a Column — F.coalesce rejects a raw bool),
            # False/None = no delete clause
            else F.lit(True)
            if when_matched_delete is True
            else None
            if when_matched_delete is False
            else when_matched_delete
        )
        ins_cond = (
            F.expr(when_not_matched_insert)
            if isinstance(when_not_matched_insert, str)
            else when_not_matched_insert
        )

        log = self.commit_log(k)
        _require_ts(source, "ts")
        # persist: the duplicate-key check, the months collect, and the
        # outer-join build all consume the same source lineage — an
        # expensive upstream plan must not recompute three times
        src = self._partitioned(source, k, "ts").persist()
        joins: list[DataFrame] = []
        counts: dict[str, int] = {}

        def compute(existing, snap):
            months = [
                _month_of(r) for r in src.select("year", "month").distinct().collect()
            ]
            if not months:
                return None
            if full_scan and "ts" not in on_cols and existing is not None:
                # partition-unbounded match: the rewrite spans every
                # target partition (kept_t re-emits all unmatched rows)
                # plus the batch's own months
                t_months = [
                    _month_of(r)
                    for r in existing.select("year", "month").distinct().collect()
                ]
                months = _month_sorted(set(months) | set(t_months))
                t_df = existing
            else:
                t_df = (
                    existing.where(self._month_pred(months))
                    if existing is not None
                    else None
                )
            s_df = src.withColumn("_s1", F.lit(1))
            insc = (
                ins_cond if isinstance(ins_cond, Column) else F.lit(bool(ins_cond))
            )
            if t_df is None:
                # alias "s" here too: insert conditions are documented
                # as expressions over s (an empty target must not crash
                # "s.price > 0")
                ins = s_df.alias("s").where(insc).drop("_s1")
                inserted_n = ins.count()
                if inserted_n == 0:
                    return None
                counts.update(i=inserted_n, d=0)
                out = self._enforce_dml_contract(
                    ins, log, f"merge_into {k.symbol}", post_only=ins
                )
                cdf = (
                    self._align_cdf_types(
                        out.withColumn("_change_type", F.lit("insert")), log
                    )
                    if self.emit_cdf
                    else None
                )
                return {
                    "out": out, "cdf": cdf, "read_months": months,
                    "rows": inserted_n,
                    "extra_meta": {
                        "merge_inserted": inserted_n,
                        "merge_updated": 0,
                        "merge_deleted": 0,
                    },
                }
            # persist: the counts agg, kept_t/merged/ins staging union,
            # and each CDF part all consume this join; without it the
            # target scan + full-outer join recomputes ~5x
            joined = (
                t_df.withColumn("_t1", F.lit(1))
                .alias("t")
                .join(
                    s_df.alias("s"),
                    [
                        F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
                        for c in on_cols
                    ],
                    "full_outer",
                )
                .persist()
            )
            joins.append(joined)
            is_m = F.col("t._t1").isNotNull() & F.col("s._s1").isNotNull()
            is_t = F.col("t._t1").isNotNull() & F.col("s._s1").isNull()
            is_s = F.col("t._t1").isNull() & F.col("s._s1").isNotNull()
            dele = (
                is_m & F.coalesce(del_cond, F.lit(False))
                if del_cond is not None
                else F.lit(False)
            )
            agg = joined.agg(
                F.sum(
                    F.when(is_m & ~dele & F.lit(upd is not None), 1).otherwise(0)
                ).alias("u"),
                F.sum(F.when(dele, 1).otherwise(0)).alias("d"),
                F.sum(
                    F.when(is_s & F.coalesce(insc, F.lit(False)), 1).otherwise(0)
                ).alias("i"),
            ).collect()[0]
            matched_n = int(agg["u"] or 0)
            deleted_n = int(agg["d"] or 0)
            inserted_n = int(agg["i"] or 0)
            if matched_n + deleted_n + inserted_n == 0:
                return None
            counts.update(i=inserted_n, d=deleted_n)
            t_cols = list(t_df.columns)
            s_cols = list(src.columns)
            kept_t = joined.where(is_t).select(
                *[F.col(f"t.{c}").alias(c) for c in t_cols]
            )
            if upd == "*":
                upd_map = {
                    c: F.col(f"s.{c}") for c in s_cols if c not in on_cols
                }
            else:
                upd_map = dict(upd or {})
            merged = joined.where(is_m & ~dele).select(
                *[
                    (upd_map[c] if c in upd_map else F.col(f"t.{c}")).alias(c)
                    for c in t_cols
                ]
            )
            ins = joined.where(is_s & F.coalesce(insc, F.lit(False))).select(
                *[F.col(f"s.{c}").alias(c) for c in s_cols]
            )
            out = kept_t.unionByName(merged, allowMissingColumns=True)
            out = out.unionByName(ins, allowMissingColumns=True)
            changed = merged.unionByName(ins, allowMissingColumns=True)
            cdf = None
            if self.emit_cdf:
                parts = []
                if upd is not None:
                    parts.append(
                        merged.withColumn("_change_type", F.lit("update_postimage"))
                    )
                if del_cond is not None:
                    parts.append(
                        joined.where(dele)
                        .select(*[F.col(f"t.{c}").alias(c) for c in t_cols])
                        .withColumn("_change_type", F.lit("delete"))
                    )
                parts.append(ins.withColumn("_change_type", F.lit("insert")))
                cdf = parts[0]
                for p in parts[1:]:
                    cdf = cdf.unionByName(p, allowMissingColumns=True)
            # DML gate BEFORE the CDF write: a rejected merge must not
            # leave a change-feed dir claiming rows it never wrote, and
            # the gate's lossless upcasts must reach the feed too (CDF
            # consumers see the same column types as the data files of
            # this commit)
            out = self._enforce_dml_contract(
                out, log, f"merge_into {k.symbol}", post_only=changed
            )
            if cdf is not None:
                cdf = self._align_cdf_types(cdf, log)
            return {
                "out": out,
                "cdf": cdf,
                "read_months": months,
                "rows": matched_n + deleted_n + inserted_n,
                "extra_meta": {
                    "merge_inserted": inserted_n,
                    "merge_updated": matched_n,
                    "merge_deleted": deleted_n,
                },
            }

        try:
            dup = (
                src.groupBy(*on_cols)
                .agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"merge source has multiple rows for key "
                    f"{[dup[0][c] for c in on_cols]} — deduplicate the source "
                    f"first (Delta raises the same way)"
                )
            res = self._cow_dml(k, "merge", compute, commit_meta, optimistic=optimistic)
        finally:
            for df_ in joins:
                df_.unpersist()
            src.unpersist()
        if not res.partitions:
            return res  # no match: nothing committed
        return self._refresh_manifest_result(
            k, res.path, res.rows, [tuple(p) for p in res.partitions],
            delta_rows=counts["i"] - counts["d"],
            batch_bounds=(res.time_from, res.time_to),
        )

    _UPDATE_FORBIDDEN = ("exchange", "market", "symbol", "data_type", "period", "year", "month")

    def _forbidden_assign(self, key: DatasetKey) -> tuple:
        """Columns DML may not assign on this dataset: the identity and
        derived-partition columns, plus any EXTRA level of an evolved
        partition spec (``day`` under the daily spec is derived from
        ts; on a never-evolved dataset a data column named day is
        ordinary user data and stays assignable)."""
        spec = self.commit_log(key).partition_spec_at(None)
        return (
            *self._UPDATE_FORBIDDEN,
            *(c for c in spec if c not in self._UPDATE_FORBIDDEN),
        )

    @staticmethod
    def _month_pred(months) -> Column:
        """OR of (year, month) equalities — the partition-pruning scan
        bound every month-scoped DML uses.  The null-ts month
        (None, None) selects the rows with a null ``year``."""
        p = F.lit(False)
        for y, m in months:
            p = p | (
                F.col("year").isNull()
                if y is None
                else (F.col("year") == int(y)) & (F.col("month") == int(m))
            )
        return p

    @staticmethod
    def _probe_months(matched: DataFrame) -> tuple[list, int]:
        """(touched months, row count) of a DML probe's matched rows —
        one grouped count job.  Null-ts rows form the month (None,
        None): the ``__HIVE_DEFAULT_PARTITION__`` files that
        `partition_of` maps there, which `_month_pred` and `_land`'s
        `drop` address like any month.  Commits never record it
        (`_dated`): writes record no month for null-ts rows either."""
        agg = (
            matched.groupBy("year", "month")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return _month_sorted(map(_month_of, agg)), int(sum(r["n"] for r in agg))

    def update_where(
        self,
        key: DatasetKey,
        assignments: dict,
        predicate,
        months: list[tuple[int, int]] | None = None,
        commit_meta: dict | None = None,
        strategy: str = "rewrite",
        optimistic: bool = False,
    ) -> WriteResult:
        """Row-level UPDATE ... SET (Delta's UPDATE on plain parquet),
        completing the DML triad next to upsert (keyed merge) and
        delete.  `assignments` maps column -> Column/SQL-string; rows
        where `predicate` is TRUE are transformed, FALSE/NULL rows kept
        verbatim.  Assigning `ts` is allowed and re-derives the year/
        month partition (rows MOVE partitions like Delta); assigning
        partition-identity or derived partition columns directly is
        refused.

        `strategy="rewrite"` copy-on-writes the touched partitions.
        `strategy="dv"` is the merge-on-read shape (Iceberg's MoR
        update): the matched rows' old copies are deletion-vectored out
        (lake/dv.py) and their post-images APPENDED as new files — the
        write cost is O(matched rows), not O(touched partitions), the
        right trade for surgical fixes on a 100 TB dataset.

        `optimistic` (rewrite only) picks the schedule of the
        copy-on-write pipeline (`_cow_dml`): False holds the commit
        claim across the probe and rewrite jobs; True runs them outside
        it against a captured snapshot and validates the READ months
        under the claim (a ts move's destination months only gain
        files).  A legacy dataset always takes the claimed schedule.

        CDF convention: matched rows are emitted as `update_postimage`;
        a row whose ts CHANGED additionally emits a `delete` pre-image
        at the old ts (so ts-keyed feed folding reproduces the move).
        Returns a WriteResult whose `rows` is the UPDATED row count.
        The reference has no row-level update at all."""
        k = key.normalized()
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        sets = {
            c: (F.expr(v) if isinstance(v, str) else v)
            for c, v in assignments.items()
        }
        if not sets:
            raise ValueError("update_where needs at least one assignment")
        bad = sorted(set(sets) & set(self._forbidden_assign(k)))
        if bad:
            raise ValueError(
                f"cannot assign partition-identity/derived columns {bad}; "
                f"assign `ts` to move rows between months"
            )
        if strategy == "dv":
            if optimistic:
                raise ValueError(
                    "optimistic=True applies to strategy='rewrite' only (a "
                    "DV update's full-map commit cannot rebase onto "
                    "concurrent dv commits)"
                )
            return self._update_where_dv(k, sets, pred, months, commit_meta)
        if strategy != "rewrite":
            raise ValueError(f"unknown update strategy {strategy!r} (rewrite|dv)")
        log = self.commit_log(k)

        def compute(existing, snap):
            if existing is None:
                return None
            scan = existing.where(self._month_pred(months)) if months else existing
            matched = F.coalesce(pred, F.lit(False))
            touched, rows_updated = self._probe_months(scan.where(matched))
            if not touched:
                return None
            mp = self._month_pred(touched)
            # the SNAPSHOT's spec: the staged files are written under
            # it, and a concurrent spec move conflicts at validation —
            # already in hand from the captured contract, no listing
            spec = tuple(snap["contract"][4])
            updated = self._apply_assignments(scan.where(mp), sets, matched, spec)
            # DML gate: schema exactness over the written frame, CHECK
            # expectations over just the transformed rows
            updated = self._enforce_dml_contract(
                updated,
                log,
                f"update_where {k.symbol}",
                post_only=self._apply_assignments(
                    scan.where(mp).where(matched), sets, F.lit(True), spec
                ),
                assigned_types=self._assignment_types(existing, sets),
            )
            # the feed carries the same types as this commit's data
            # files (the gate's lossless upcasts included)
            cdf = (
                self._align_cdf_types(
                    self._update_cdf_rows(scan.where(mp), matched, sets, spec),
                    log,
                )
                if self.emit_cdf
                else None
            )
            return {
                "out": updated,
                "cdf": cdf,
                "read_months": touched,
                "rows": rows_updated,
            }

        res = self._cow_dml(k, "update", compute, commit_meta, optimistic=optimistic)
        if not res.rows:
            return res  # no match: nothing committed
        # incremental catalog refresh: updates keep the row count and
        # can only EXTEND the range (ts moves ride the added files'
        # stats) — no dataset rescan
        return self._refresh_manifest_result(
            k, res.path, res.rows, [tuple(p) for p in res.partitions],
            delta_rows=0, batch_bounds=(res.time_from, res.time_to),
        )

    def _enforce_dml_contract(
        self,
        post: DataFrame,
        log: CommitLog,
        context: str,
        post_only: DataFrame | None = None,
        assigned_types: dict | None = None,
    ) -> DataFrame:
        """UPDATE/MERGE post-image gate (Delta enforces both on DML):

        - SCHEMA EXACTNESS (lake/schema.py): a DML never evolves the
          dataset schema — an assignment producing a new column or an
          incompatible type raises; a narrower lossless type is upcast.
          Driver-side only (no job).
        - CHECK EXPECTATIONS: the declared constraints run over the
          post-image rows in fail mode — an UPDATE/MERGE may not
          produce a row the same write path would have refused to
          insert.  (Quarantine is a write-path shape: rerouting half an
          update's post-images would tear the DML's atomicity, so DML
          always fails loudly.)  One aggregate over the post-images.

        `post` is the frame the DML writes (and what the schema check +
        up-casts apply to); `post_only` optionally narrows the
        expectation scan to just the transformed rows (the rewrite
        path's written frame includes untouched rows that passed the
        gate at their own insert); `assigned_types` are the RAW
        assignment expression types (update_where probes them before
        when/otherwise coercion masks a type flip behind a runtime
        cast).  Returns the (possibly upcast) written frame; change
        feeds are aligned to the contract separately by
        `_align_cdf_types`, which derives the same casts from the
        recorded schema."""
        from dl_datalake_spark.lake import schema as _sc

        from dl_datalake_spark.lake.spec import DERIVED_SPEC_COLS

        table = log.schema_at(None)
        if assigned_types:
            _sc.enforce_exact(table, dict(assigned_types), context)
        fp = _sc.fingerprint(post)
        # derived spec columns NOT in the recorded contract can only
        # come from the spec machinery (a daily scan's day= level, or
        # grouped_scan's derivation on a downgraded dataset's old daily
        # files) — pop them before enforcement; a contract DATA column
        # that happens to share a spec name stays and is enforced.
        # Membership in `table` decides, so no extra log listing.
        spec_extra = tuple(
            c
            for c in DERIVED_SPEC_COLS
            if c not in PARTITION_COLS and c not in (table or {})
        )
        for c in (*PARTITION_COLS, *spec_extra, "_change_type", "_dv_file", "_dv_pos"):
            fp.pop(c, None)
        ups = _sc.enforce_exact(table, fp, context)
        if ups:
            post = _sc.apply_upcasts(post, ups)
        if self.expectations:
            from dl_datalake_spark.lake.expectations import check

            check(
                post_only if post_only is not None else post,
                self.expectations,
                enforce="fail",
            )
        return post

    @staticmethod
    def _assignment_types(frame: DataFrame, sets: dict) -> dict[str, str]:
        """Raw types of the assignment expressions against the pre-row
        schema — analysis only (limit(0)), no job.  Probed BEFORE
        when/otherwise folds them into the old column's type, which
        would mask a type flip behind a runtime CAST error."""
        probe = frame.limit(0).select(
            *[e.alias(c) for c, e in sets.items()]
        )
        return {f.name: f.dataType.simpleString() for f in probe.schema.fields}

    def _apply_assignments(
        self, df: DataFrame, sets: dict, matched, spec: tuple = ("year", "month")
    ) -> DataFrame:
        """SET semantics: assignment expressions all evaluate against the
        PRE-update row (standard SQL UPDATE), then the SPEC's derived
        time columns re-derive from the possibly-moved ts.  Only the
        dataset's recorded partition spec drives the re-derivation — a
        DATA column that happens to be named ``day`` on a never-evolved
        dataset is user data and must not be clobbered."""
        pre = [F.when(matched, e).otherwise(F.col(c)).alias(c) for c, e in sets.items()]
        out = df.withColumns({c: col for c, col in zip(sets, pre)})
        if "ts" in sets:
            t = F.timestamp_millis(F.col("ts").cast("long"))
            out = out.withColumn("year", F.year(t)).withColumn("month", F.month(t))
            if "day" in spec and "day" in out.columns:
                out = out.withColumn("day", F.dayofmonth(t))
        return out

    def _update_cdf_rows(
        self, pre: DataFrame, matched, sets: dict,
        spec: tuple = ("year", "month"),
    ) -> DataFrame:
        """update_postimage for every matched row; plus a delete
        pre-image at the OLD ts when the update moved it.  Matching is
        evaluated against the PRE-update rows and the post-images are
        derived from that matched set — filtering the post-update frame
        by the predicate would silently drop the feed rows of any
        update whose assignment falsifies its own predicate (e.g.
        SET price = 0 WHERE price > 100)."""
        out = self._apply_assignments(
            pre.where(matched), sets, F.lit(True), spec
        ).withColumn("_change_type", F.lit("update_postimage"))
        if "ts" in sets:
            ts_expr = sets["ts"]
            moved = pre.where(matched).where(
                ts_expr.cast("long") != F.col("ts").cast("long")
            ).withColumn("_change_type", F.lit("delete"))
            out = out.unionByName(moved, allowMissingColumns=True)
        return out

    def _refresh_manifest_result(
        self,
        k: DatasetKey,
        path: str,
        n_rows: int,
        touched: list,
        delta_rows: int | None = None,
        batch_bounds: tuple | None = None,
    ) -> WriteResult:
        """Catalog refresh after row-level DML.  With `delta_rows`
        given, the refresh is INCREMENTAL: the prior manifest entry's
        row count adjusts by the delta and the time range extends by
        `batch_bounds` (the post-image batch's [min,max] ts) — no
        dataset scan, which is what keeps a DV delete of 1000 rows on
        a 100 TB dataset O(matched), not O(dataset).  The manifest's
        range contract is widen-only (manifest.add_entries), so
        carrying the prior bounds is exactly what a full rescan would
        record anyway.  Falls back to the full min/max/count scan when
        no prior entry (or no recorded row count) exists."""
        result = WriteResult(
            path=path, time_from=None, time_to=None, rows=n_rows,
            partitions=_dated(touched),
        )
        if self.manifest is None:
            return result
        if delta_rows is not None:
            import json as _json

            prior = self.manifest._entries(path=path)[:1]
            prior_rows = None
            if prior:
                try:
                    prior_rows = int(
                        _json.loads(prior[0]["metadata_json"] or "{}").get("rows")
                    )
                except (TypeError, ValueError):
                    prior_rows = None
            if prior_rows is not None:
                t0, t1 = prior[0]["time_from"], prior[0]["time_to"]
                if batch_bounds is not None:
                    b0, b1 = batch_bounds
                    lows = [x for x in (t0, b0) if x is not None]
                    highs = [x for x in (t1, b1) if x is not None]
                    t0 = min(lows) if lows else None
                    t1 = max(highs) if highs else None
                result.time_from, result.time_to = t0, t1
                self.manifest.add_entries([self._manifest_row(
                    k, path, t0, t1, max(0, prior_rows + int(delta_rows))
                )])
                return result
        remaining = self._read_existing(k)
        if remaining is not None:
            s = remaining.agg(
                F.min("ts").alias("t0"), F.max("ts").alias("t1"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            result.time_from, result.time_to = s["t0"], s["t1"]
            self.manifest.add_entries(
                [self._manifest_row(k, path, s["t0"], s["t1"], s["n"])]
            )
        return result

    def _update_where_dv(
        self,
        k: DatasetKey,
        sets: dict,
        pred,
        months: list[tuple[int, int]] | None,
        commit_meta: dict | None,
    ) -> WriteResult:
        """Merge-on-read UPDATE: deletion-vector the matched rows' old
        copies, append their post-images — O(matched rows) of write,
        no partition rewrite (`update_where(strategy='dv')`)."""
        log = self.commit_log(k)
        payload = {"mode": "update-dv", **(commit_meta or {})}
        path = self.dataset_path(k)
        ds_rel = path[len(self.base_path.rstrip("/")) + 1 :]
        try:
            with self._staging(path) as st, log.transaction(
                timeout=self.commit_timeout_s, payload=payload
            ) as meta:
                live = resolve_live_files(self.fs, path)
                if live is None:
                    raise ValueError(
                        f"update strategy 'dv' needs a commit-pinned snapshot; "
                        f"{path} has no pinned file list — use strategy='rewrite'"
                    )
                if not live:
                    raise _NoMatch
                dv_map = log.dv_at(None)
                probe = self._dv_probe(path, live, log, dv_map, months, pred).persist()
                try:
                    touched, rows_updated = self._probe_months(probe)
                    if not touched:
                        raise _NoMatch
                    spec = log.partition_spec_at(None)
                    # post-images: every probe row IS matched, so the
                    # transform applies unconditionally
                    post = self._apply_assignments(
                        probe.drop("_dv_file", "_dv_pos"), sets, F.lit(True), spec
                    )
                    # DML gate: the post-images ARE the written files
                    post = self._enforce_dml_contract(
                        post,
                        log,
                        f"update_where(dv) {k.symbol}",
                        assigned_types=self._assignment_types(
                            probe.drop("_dv_file", "_dv_pos"), sets
                        ),
                    )
                    if self.emit_cdf:
                        feed = post.withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                        if "ts" in sets:
                            moved = probe.drop("_dv_file", "_dv_pos").where(
                                sets["ts"].cast("long") != F.col("ts").cast("long")
                            ).withColumn("_change_type", F.lit("delete"))
                            feed = feed.unionByName(moved, allowMissingColumns=True)
                        feed.write.mode("overwrite").option(
                            "compression", "snappy"
                        ).parquet(st.cdf)
                    # deletion vector over the OLD copies
                    dv_rel, hit_rels = self._write_dv_sidecar(
                        path, ds_rel, probe, dv_map, rows_updated
                    )
                    # the post-images as fresh files
                    cmap = log.column_map_at(None)
                    (
                        self._with_spec_cols(self._rename_frame(post, cmap), spec)
                        .sortWithinPartitions("ts")
                        .drop(*IDENTITY_COLS)
                        .write.partitionBy(*spec)
                        .option("compression", "snappy")
                        .mode("append")
                        .parquet(st.dir)
                    )
                finally:
                    probe.unpersist()
                (staged,) = self._stage_facts([st.dir], "ts", cmap)
                hit_set = set(hit_rels)
                new_map = {r: d for r, d in dv_map.items() if r not in hit_set}
                for r in hit_rels:
                    new_map[r] = dv_rel
                self._land(
                    st, staged, path, meta, [], delta=True,
                    cdf=st.cdf if self.emit_cdf else None,
                )
                meta.update(
                    rows=rows_updated,
                    partitions=_dated(set(touched) | set(staged.pcounts)),
                    dv=new_map,
                )
        except _NoMatch:
            return WriteResult(path=path, time_from=None, time_to=None, rows=0, partitions=[])
        # incremental catalog refresh: updates keep the row count and
        # can only EXTEND the range (ts moves ride the added files'
        # stats) — no dataset rescan
        return self._refresh_manifest_result(
            k, path, rows_updated, touched,
            delta_rows=0, batch_bounds=(staged.facts["t0"], staged.facts["t1"]),
        )

    def _dv_probe(
        self, path: str, live: list[str], log: CommitLog, dv_map: dict, months, pred
    ):
        """The DV delete/update probe: the head snapshot's rows matching
        `pred` (NULL counts as no match, like SQL), each keyed by its
        scan position (`grouped_scan(dv_probe=True)`), optionally bounded
        to known [year, month] partitions.  `dv_map` is the head's DV
        map, which the caller's sidecar merge reuses."""
        from dl_datalake_spark.lake.spec import grouped_scan

        df = grouped_scan(
            self.spark, self.base_path, path, live, log, self.fs,
            dv_probe=True, dv_map=dv_map,
        )
        if months:
            df = df.where(self._month_pred(months))
        return df.where(F.coalesce(pred, F.lit(False)))

    def _write_dv_sidecar(
        self, path: str, ds_rel: str, probe: DataFrame, dv_map: dict, n_rows: int
    ) -> tuple[str, list[str]]:
        """Write the superseding sidecar for a probe's matched rows:
        new positions unioned with the hit files' OLD positions (the
        probe never saw already-deleted rows, so the sets are disjoint
        by construction), sized by position count.  Returns
        (sidecar rel dir, hit data-file rel paths)."""
        import uuid as _uuid

        from dl_datalake_spark.lake import dv as dvmod

        hit_keys = [
            r["_dv_file"] for r in probe.select("_dv_file").distinct().collect()
        ]
        # keys are "<ds_rel>/<file_rel>"; when the dataset path IS the
        # lake base (ds_rel == "") there is no prefix to strip — the
        # naive len+1 slice would eat the first character of every key
        # and silently corrupt the dv map (same guard as dv.plan_dv)
        prefix = f"{ds_rel}/" if ds_rel else ""
        hit_rels = [kk[len(prefix) :] for kk in hit_keys]
        newpos = probe.select(
            F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos")
        )
        old_dirs = sorted({dv_map[r] for r in hit_rels if r in dv_map})
        if old_dirs:
            newpos = newpos.unionByName(
                self.spark.read.parquet(*[f"{path}/{d}" for d in old_dirs]).where(
                    F.col("file").isin(hit_keys)
                )
            )
        dv_rel = f"{dvmod.DV_DIR}/dv-{_uuid.uuid4().hex}"
        # size the sidecar by POSITION count (~4M (file,pos) rows per
        # output file) — a 240-row purge must land ONE file, not 32
        # stubs the next read pays listing+task overhead for
        nparts = max(1, min(256, 1 + n_rows // 4_000_000))
        (
            newpos.repartition(nparts, "file")
            .write.option("compression", "snappy")
            .parquet(f"{path}/{dv_rel}")
        )
        return dv_rel, hit_rels

    def restore_dataset(self, key: DatasetKey, version: int) -> WriteResult:
        """Delta ``RESTORE TABLE ... VERSION AS OF``: re-pin the live
        listing to a committed historical snapshot as a NEW commit.
        Metadata-only — data files are immutable, so undoing a bad
        write/delete rewrites nothing; it only requires the restored
        files to still exist (inside vacuum retention; a reclaimed
        snapshot raises, same contract as `read_dataset_at`).

        Touched partitions in the commit record are exactly the months
        whose file set differs between head and target, so incremental
        CDC consumers (`changes_since`) rebuild only what changed, and
        the commit is flagged delete-aware (a restore can drop rows).
        Row-level CDF: with `emit_cdf=True` the restore emits a
        SYNTHETIC diff (head vs target over the changed partitions —
        `_restore_tag_changes`), so feed subscribers follow the restore
        without a batch rebuild; without it, consumers get the loud
        ValueError gap (rebuild from batch, as Delta documents).
        Time travel keeps working across the restore: the rolled-back
        versions stay readable via `read_dataset_at` until prune/vacuum."""
        k = key.normalized()
        log = self.commit_log(k)
        with log.transaction(
            timeout=self.commit_timeout_s,
            payload={"mode": "restore", "restored_to": int(version)},
        ) as meta:
            result = self._restore_into(k, log, int(version), meta)
        if self.manifest is not None and result.rows > 0:
            self.manifest.add_entries([self._manifest_row(
                k, result.path, result.time_from, result.time_to, result.rows
            )])
        return result

    def _restore_into(
        self, k: DatasetKey, log: CommitLog, version: int, meta: dict
    ) -> WriteResult:
        """The restore computation, run INSIDE an already-claimed commit
        transaction (`meta` is its payload dict): resolve the target
        pinned listing, verify every file survived vacuum, derive the
        changed partitions, and fill `meta` so the finalize pins the
        historical snapshot as the new head.  Shared by the per-dataset
        `restore_dataset` and the lake-level `restore_lake_to`."""
        from dl_datalake_spark.lake.snapshot import reclaimed
        from dl_datalake_spark.lake.spec import grouped_scan

        ds = self.dataset_path(k)
        target = log.files_at(version)
        if target is None:
            raise ValueError(
                f"no pinned snapshot at version {version} of {ds}: history "
                "pruned past it or the dataset predates pinned listings"
            )
        head = log.latest_files() or []
        # the snapshot's deletion vectors are part of its definition
        # (lake/dv.py): the target's map must be restorable and gets
        # re-pinned explicitly (carrying the HEAD's map forward would
        # keep rows deleted that the target still had)
        t_set, h_set = set(target), set(head)
        dv_target = {rel: d for rel, d in log.dv_at(version).items() if rel in t_set}
        dv_head = {rel: d for rel, d in log.dv_at(None).items() if rel in h_set}
        lost = reclaimed(self.fs, ds, target, dv_target)
        if lost:
            raise ValueError(
                f"snapshot {version} of {ds} is no longer restorable: {lost}"
            )
        changed = h_set ^ t_set
        # a DV-only difference changes rows without changing the listing
        changed |= {f for f in h_set & t_set if dv_head.get(f) != dv_target.get(f)}
        parts = sorted({partition_of(f) for f in changed} - {(None, None)})
        if target:
            s = grouped_scan(
                self.spark, self.base_path, ds, target, log, self.fs,
                version=version,
            ).agg(
                F.min("ts").alias("t0"),
                F.max("ts").alias("t1"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            t0, t1, n = s["t0"], s["t1"], int(s["n"])
        else:
            t0 = t1 = None
            n = 0
        if self.emit_cdf and parts:
            # SYNTHETIC CDF for the restore (round-9; previously a loud
            # gap): the row-level diff of head vs target over the
            # changed partitions — target rows tagged insert /
            # update_postimage, vanished head rows as delete pre-images
            # (same convention as mode=overwrite: every target row in a
            # changed partition is re-emitted, so folding the feed
            # reproduces the restored partition state exactly). Feed
            # subscribers survive a restore without a batch rebuild;
            # cost is O(changed partitions), metadata-only otherwise.
            meta["cdf_bytes"] = self._write_cdf(
                k,
                meta["version"],
                self._restore_tag_changes(ds, head, target, parts, log, version),
            )
            meta["cdf"] = True
        meta.update(
            rows=n,
            time_from=t0,
            time_to=t1,
            partitions=[list(p) for p in parts],
            files=sorted(target),
            dv=dv_target,
        )
        # the restored snapshot's SCHEMA (and column mapping) is part of
        # its definition too: carrying the head's forward would present
        # post-evolution columns/types/names the target never had
        # (lake/schema.py); retired physical names stay carried — the
        # bytes they guard are still on disk regardless of the restore
        target_schema = log.schema_at(version)
        if target_schema is not None:
            meta["schema"] = target_schema
            meta["column_map"] = log.column_map_at(version)
        return WriteResult(
            path=ds, time_from=t0, time_to=t1, rows=n,
            partitions=[list(p) for p in parts], files=sorted(target),
        )

    def _restore_tag_changes(
        self,
        ds: str,
        head: list[str],
        target: list[str],
        parts: list,
        log: CommitLog,
        version: int,
    ) -> DataFrame:
        """Row-level diff of the head vs target snapshots over the
        restore's changed partitions, `_change_type`-tagged for the
        feed: target row with an existing ts -> update_postimage,
        target-only ts -> insert, head-only ts -> delete pre-image.
        Window key is `ts` alone — the other dataset coordinates are
        directory-constant within one dataset.  Each side is read as
        ITS snapshot (`spec.grouped_scan`): its own deletion vectors, so
        a restore across a DV delete diffs the row sets the two
        snapshots actually served, and its own epoch's contract, so the
        feed rows carry the logical names their epoch promised (a
        restore across a rename would otherwise emit stale physical
        names)."""
        from dl_datalake_spark.lake.spec import grouped_scan

        t_set = {tuple(p) for p in parts}

        def _rd(files, epoch):
            sel = [rel for rel in files if partition_of(rel) in t_set]
            return grouped_scan(
                self.spark, self.base_path, ds, sel, log, self.fs, version=epoch
            )

        old = _rd(head, None)
        new = _rd(target, version)
        if old is None and new is None:
            raise ValueError("restore diff requested with no changed files")
        if old is None:
            return new.withColumn("_change_type", F.lit("insert"))
        if new is None:
            return old.withColumn("_change_type", F.lit("delete"))
        unioned = old.withColumn("_src", F.lit(0)).unionByName(
            new.withColumn("_src", F.lit(1)), allowMissingColumns=True
        )
        wf = Window.partitionBy("ts")
        tagged = unioned.withColumn(
            "_had_old", F.max(F.when(F.col("_src") == 0, 1).otherwise(0)).over(wf)
        ).withColumn(
            "_had_new", F.max(F.when(F.col("_src") == 1, 1).otherwise(0)).over(wf)
        )
        change = (
            F.when(
                (F.col("_src") == 1) & (F.col("_had_old") == 1),
                F.lit("update_postimage"),
            )
            .when(F.col("_src") == 1, F.lit("insert"))
            .when(F.col("_had_new") == 0, F.lit("delete"))
        )
        return (
            tagged.withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
            .drop("_src", "_had_old", "_had_new")
        )

    def restore_lake_to(self, txid: str) -> dict[str, WriteResult]:
        """LAKE-LEVEL restore: roll every dataset of multi-commit `txid`
        back to its state AS OF that commit, atomically — the write-side
        inverse of `LakeReader.read_datasets_at` (undo a bad
        `write_ohlc_multi` by restoring to the last good multi-commit).

        Composition: the multilog record's claimed versions name each
        dataset's target snapshot; every dataset's commit log is claimed
        in sorted order (deadlock-free, same as write_ohlc_multi); a NEW
        multilog intent is recorded while all claims are held and before
        any finalize; then each dataset finalizes a metadata-only
        restore commit (`_restore_into`) and the record flips committed.
        A crash between per-dataset finalizes leaves the restore's
        record in-progress — `read_datasets`' consistent cut excludes
        the half-restored epoch exactly as it excludes a half-finalized
        multi-write, so the restore is committed-or-invisible to
        multi-dataset readers.  Raises (nothing finalized, intent
        aborted) when the target txid is unknown, never fully committed,
        or any dataset's snapshot is unreconstructable (pruned/vacuumed).

        Returns {dataset rel path: WriteResult} — rel paths are the
        multilog's own dataset identity and stay unambiguous when one
        symbol appears under several data_types/periods; each result's
        `txid` is the restore's OWN multi-commit id (replayable via
        read_datasets_at).  Manifest rows are registered only after the
        whole restore commits, so a torn crash never leaves the catalog
        advertising an invisible restore."""
        import uuid as _uuid

        from dl_datalake_spark.lake.paths import dataset_rel_path, key_from_rel_path

        rec = self._multilog().record(txid)
        if rec is None:
            raise ValueError(
                f"multi-commit {txid!r} is unknown under {self.base_path} — "
                "never written, or its record was pruned (MultiCommitLog.prune)"
            )
        claimed = {r.strip("/"): int(v) for r, v in rec["datasets"].items()}
        if rec.get("status") != "committed":
            # same committed-fact derivation as read_datasets_at: every
            # claimed slot finalized by THIS txid proves the flip raced
            for r, v in claimed.items():
                e = CommitLog(f"{self.base_path}/{r}", fs=self.fs).committed_entry(v)
                if e is None or e.get("txid") != txid:
                    raise ValueError(
                        f"multi-commit {txid!r} never fully committed "
                        f"(status={rec.get('status')!r}, dataset {r} slot {v} "
                        "unfinalized or usurped) — there is no atomic state "
                        "to restore to"
                    )
        rels = sorted(claimed)  # sorted claim order: deadlock-free
        keys = [key_from_rel_path(r).normalized() for r in rels]
        new_txid = _uuid.uuid4().hex
        out: dict[str, WriteResult] = {}
        with self._multi_commit(
            keys,
            [
                {"mode": "restore", "restored_to": claimed[r], "restore_of": txid}
                for r in rels
            ],
            new_txid,
        ) as metas:
            for r, k, meta in zip(rels, keys, metas):
                res = self._restore_into(k, self.commit_log(k), claimed[r], meta)
                res.txid = new_txid
                out[dataset_rel_path(k)] = res
        # manifest AFTER the restore committed (same ordering as
        # restore_dataset): a torn crash above leaves the catalog as it
        # was, never advertising a restore no reader can see
        if self.manifest is not None:
            self.manifest.add_entries([
                self._manifest_row(k, res.path, res.time_from, res.time_to, res.rows)
                for k, res in zip(keys, out.values())
                if res.rows > 0
            ])
        return out

    def _multilog(self):
        """The lake's multi-commit intent log (lake/multilog.py)."""
        from dl_datalake_spark.lake.multilog import MultiCommitLog

        return MultiCommitLog(self.base_path, fs=self.fs)

    @contextmanager
    def _multi_commit(
        self, keys: list[DatasetKey], payloads: list[dict], txid: str
    ):
        """The one multi-dataset commit (`write_ohlc_multi`,
        `delete_where_multi`, `restore_lake_to`): claim every dataset's
        log in the given order (callers sort it: deadlock-free), each
        with its payload plus ``multi`` and the shared `txid`, and yield
        the claims' metas in that order.  When the body returns, every
        claim is still held and nothing is finalized: the lake-level
        intent (lake/multilog.py) is recorded then, so readers can
        refuse the mixed-epoch window while the claims finalize one by
        one; the record flips committed after the last one.

        On failure the intent is aborted ONLY when no claimed slot
        finalized under `txid` — aborted records stop constraining
        reader cuts, so aborting after a PARTIAL finalize (an exception
        mid-unwind, after some transactions already committed) would
        serve the torn epoch at once.  Left in-progress instead: readers
        exclude the partial window while the record is fresh, and past
        stale_timeout_s it becomes the documented permanent partial
        (Delta multi-table parity)."""
        from dl_datalake_spark.lake.paths import dataset_rel_path

        ml = self._multilog()
        intent_written = False
        try:
            with ExitStack() as stack:
                metas = [
                    stack.enter_context(
                        self.commit_log(k).transaction(
                            timeout=self.commit_timeout_s,
                            payload={**p, "multi": True, "txid": txid},
                        )
                    )
                    for k, p in zip(keys, payloads)
                ]
                yield metas
                ml.begin(
                    {dataset_rel_path(k): m["version"] for k, m in zip(keys, metas)},
                    txid=txid,
                )
                intent_written = True
        except BaseException:
            if intent_written and not any(
                (self.commit_log(k).committed_entry(m["version"]) or {}).get("txid")
                == txid
                for k, m in zip(keys, metas)
            ):
                ml.abort(txid)
            raise
        ml.commit(txid)

    def delete_range(
        self,
        key: DatasetKey,
        start_ms: int,
        end_ms: int,
        commit_meta: dict | None = None,
        strategy: str = "rewrite",
    ) -> WriteResult:
        """Delete rows with start_ms <= ts <= end_ms (epoch millis,
        inclusive like read_range).  Derives the candidate [year, month]
        partitions from the bounds so the probe scan is partition-pruned
        — the common rollback shape ('re-ingest yesterday') never reads
        outside the affected months even on a 100 TB dataset."""
        from datetime import datetime, timezone

        d0 = datetime.fromtimestamp(start_ms / 1000.0, tz=timezone.utc)
        d1 = datetime.fromtimestamp(end_ms / 1000.0, tz=timezone.utc)
        months: list[tuple[int, int]] = []
        y, m = d0.year, d0.month
        while (y, m) <= (d1.year, d1.month):
            months.append((y, m))
            y, m = (y + 1, 1) if m == 12 else (y, m + 1)
        pred = (F.col("ts").cast("long") >= start_ms) & (
            F.col("ts").cast("long") <= end_ms
        )
        return self.delete_where(
            key, pred, months=months, commit_meta=commit_meta, strategy=strategy
        )

    # -- core ---------------------------------------------------------------

    def _bootstrap_schema(self, path: str) -> dict | None:
        """First contract-aware write on a PRE-CONTRACT dataset: resolve
        the union schema of what's already live (one driver-side footer
        inference, no job) so the recorded contract covers columns the
        batch may be missing — otherwise an explicit-schema read of the
        contract would silently drop them."""
        from dl_datalake_spark.lake import schema as _sc

        live = resolve_live_files(self.fs, path)
        try:
            if live is None:
                if not self.fs.isdir(path) or not has_visible_children(self.fs, path):
                    return None
                df = self.spark.read.option("mergeSchema", "true").parquet(path)
            elif not live:
                return None
            else:
                df = (
                    self.spark.read.option("mergeSchema", "true")
                    .option("basePath", path)
                    .parquet(*[f"{path}/{rel}" for rel in live])
                )
        except Exception:
            return None  # unreadable/empty: the batch defines the contract
        fp = _sc.fingerprint(df)
        for c in PARTITION_COLS:
            fp.pop(c, None)
        return fp

    def _schema_contract(
        self,
        df: DataFrame,
        log: CommitLog,
        path: str,
        context: str,
        meta: dict | None = None,
    ) -> tuple[DataFrame, dict, tuple]:
        """Enforce the write-time schema contract for one batch UNDER
        the caller's held commit claim.  Returns (batch with lossless
        up-casts applied, resolved schema to record in the commit,
        the head `contract_at` 5-tuple) — callers reuse the tuple's
        column map / partition types / spec instead of re-listing the
        log per piece.

        Column mapping (rename/drop lifecycle): when `meta` is given,
        a NEW column whose name collides with a RETIRED physical name
        (a previously dropped column, or the pre-rename name of a live
        one) gets a FRESH physical name recorded in the commit's
        ``column_map`` — without it, the old files' bytes would
        resurrect under the re-added logical column."""
        from dl_datalake_spark.lake import schema as _sc

        # ONE contract_at for the whole gate (its docstring's own
        # advice): schema + column map + retired names + partition
        # types + spec all come from the same log listing instead of
        # five — on an object store each is a LIST round-trip per write
        head = log.contract_at(None)
        prev, head_cmap, head_retired, head_pt, head_spec = head
        if prev is None:
            prev = self._bootstrap_schema(path)
        fp = _sc.fingerprint(df)
        # record the partition columns' TYPES as facts in the commit
        # (contract_read consumes them instead of guessing from the
        # path layout — a non-year/month numeric partition key would
        # otherwise be served as string); frames that reach this gate
        # pre-partitioning contribute nothing and _write records from
        # its own layout probe instead
        pcols = (
            *PARTITION_COLS,
            *(c for c in head_spec if c not in PARTITION_COLS),
        )
        ptypes = {c: fp[c] for c in pcols if c in fp}
        if meta is not None and ptypes:
            meta["partition_types"] = {**head_pt, **ptypes}
        for c in pcols:
            fp.pop(c, None)
        resolved, upcasts = _sc.resolve_append(prev, fp, self.merge_schema, context)
        if meta is not None and prev is not None:
            new_cols = [c for c in resolved if c not in prev]
            if new_cols:
                cmap = dict(head_cmap)
                taken = set(head_retired) | {
                    cmap.get(c, c) for c in prev
                }
                changed = False
                for c in new_cols:
                    if c in taken:
                        cmap[c] = f"{c}__r{meta['version']}"
                        changed = True
                if changed:
                    meta["column_map"] = cmap
        return _sc.apply_upcasts(df, upcasts), resolved, head

    @staticmethod
    def _rename_frame(df: DataFrame, mapping: dict) -> DataFrame:
        """Rename the frame's columns through `mapping` (absent columns
        ignored); identity when the mapping is empty — every dataset
        that never saw a rename takes this no-op path."""
        todo = {c: mapping[c] for c in df.columns if c in mapping and mapping[c] != c}
        if not todo:
            return df
        return df.withColumnsRenamed(todo)

    def rename_column(self, key: DatasetKey, old: str, new: str) -> None:
        """Metadata-only column RENAME (Delta's column-mapping verb):
        one commit updates the schema contract and the logical->physical
        map — zero data files rewritten, reads resolve through the map,
        time travel presents each epoch's own names.  `ts` and the
        partition-identity columns are refused (they derive paths)."""
        from dl_datalake_spark.lake.schema import SchemaContractError

        k = key.normalized()
        log = self.commit_log(k)
        forbidden = set(PARTITION_COLS) | {"ts"}
        if old in forbidden or new in forbidden:
            raise ValueError(f"cannot rename {old!r} -> {new!r}: ts/partition columns are identity")
        with log.transaction(
            timeout=self.commit_timeout_s,
            payload={"mode": "rename-column", "partitions": [],
                     "renamed": {"from": old, "to": new}},
        ) as meta:
            schema = log.schema_at(None)
            if schema is None:
                raise SchemaContractError(
                    f"{self.dataset_path(k)} has no schema contract yet — "
                    "write through LakeWriter once first"
                )
            if old not in schema:
                raise SchemaContractError(f"no column {old!r} in {sorted(schema)}")
            if new in schema:
                raise SchemaContractError(f"column {new!r} already exists")
            cmap = log.column_map_at(None)
            phys = cmap.pop(old, old)
            cmap[new] = phys
            meta["schema"] = {
                (new if c == old else c): t for c, t in schema.items()
            }
            meta["column_map"] = cmap
            # the OLD logical name becomes re-addable; its physical is
            # still live under `new`, so it must also be unavailable as
            # a fresh physical name
            meta["retired_cols"] = sorted(
                set(log.retired_physical_at(None)) | {phys}
            )

    def drop_column(self, key: DatasetKey, name: str) -> None:
        """Metadata-only column DROP: the contract and mapping forget
        the column (explicit-schema reads stop projecting it — parquet
        never reads unselected columns), the bytes stay until files
        naturally rewrite, and the physical name is RETIRED so a
        re-added column of the same name gets a fresh physical and can
        never resurrect the old values."""
        from dl_datalake_spark.lake.schema import SchemaContractError

        k = key.normalized()
        log = self.commit_log(k)
        if name in set(PARTITION_COLS) | {"ts"}:
            raise ValueError(f"cannot drop identity column {name!r}")
        with log.transaction(
            timeout=self.commit_timeout_s,
            payload={"mode": "drop-column", "partitions": [], "dropped": name},
        ) as meta:
            schema = log.schema_at(None)
            if schema is None or name not in schema:
                raise SchemaContractError(
                    f"no column {name!r} to drop in "
                    f"{sorted(schema) if schema else 'an uncontracted dataset'}"
                )
            cmap = log.column_map_at(None)
            phys = cmap.pop(name, name)
            meta["schema"] = {c: t for c, t in schema.items() if c != name}
            meta["column_map"] = cmap
            meta["retired_cols"] = sorted(
                set(log.retired_physical_at(None)) | {phys}
            )

    def set_partition_spec(self, key: DatasetKey, spec) -> None:
        """Partition-spec EVOLUTION (Iceberg's spec-epoch verb, see
        lake/spec.py): change the dataset's time-granularity directory
        layout — ``"monthly"`` (year/month, the default) or ``"daily"``
        (year/month/day) — in ONE metadata commit, zero bytes
        rewritten.  Files written under the old spec stay live in their
        old directories; every scan groups the pinned listing by layout
        signature and serves both epochs (`spec.grouped_scan`), with
        ``day`` derived from ts on pre-evolution files.  Writes and
        rewrites after this commit target the new spec, so compaction
        doubles as the incremental migration tool.  The commit is a
        contract move: concurrent optimistic writers that staged files
        under the old layout abort with ConcurrentWriteConflict.

        The reference hard-codes one layout forever
        (`dl-datalake/src/dl_datalake/storage/writer.py:21-46`); at
        100 TB a dataset that outgrew monthly partitions (skewed
        months, coarse pruning) needs exactly this verb."""
        from dl_datalake_spark.lake.schema import SchemaContractError
        from dl_datalake_spark.lake.spec import SPECS

        k = key.normalized()
        if isinstance(spec, str):
            if spec not in SPECS:
                raise ValueError(
                    f"unknown partition spec {spec!r} (one of {sorted(SPECS)})"
                )
            cols = SPECS[spec]
        else:
            cols = tuple(spec)
            if cols not in set(SPECS.values()):
                raise ValueError(
                    f"unsupported partition spec {cols!r} "
                    f"(one of {sorted(SPECS.values())})"
                )
        log = self.commit_log(k)
        path = self.dataset_path(k)
        if resolve_live_files(self.fs, path) is None:
            raise ValueError(
                f"partition-spec evolution needs a commit-pinned dataset; "
                f"{path} has no trustworthy pinned file list (legacy "
                "dataset) — write through LakeWriter first (legacy "
                "directory scans cannot serve mixed layouts)"
            )

        class _NoOp(Exception):
            pass

        try:
            with log.transaction(
                timeout=self.commit_timeout_s,
                payload={"mode": "set-partition-spec", "partitions": []},
            ) as meta:
                schema = log.schema_at(None)
                if schema is None:
                    raise SchemaContractError(
                        f"{path} has no schema contract yet — write through "
                        "LakeWriter once first"
                    )
                clash = sorted(set(cols) & set(schema))
                if clash:
                    raise ValueError(
                        f"cannot set partition spec {cols}: data column(s) "
                        f"{clash} already exist in the contract — the spec "
                        "would shadow them in every scan"
                    )
                if tuple(log.partition_spec_at(None)) == cols:
                    raise _NoOp
                meta["partition_spec"] = list(cols)
                meta["rows"] = 0
                # record the new level's type as a fact (contract_read
                # would otherwise serve the layout heuristic)
                pt = log.partition_types_at(None)
                extra = {c: "int" for c in cols if c not in pt}
                if extra:
                    meta["partition_types"] = {**pt, **extra}
        except _NoOp:
            return

    def alter_column_type(
        self, key: DatasetKey, name: str, new_type: str
    ) -> WriteResult:
        """NON-WIDENING column type change (int -> string, double ->
        decimal, bigint -> int, ...) — the remaining schema-lifecycle
        verb after widening (merge_schema) and rename/drop (column
        mapping).  Unlike widening, the parquet reader cannot serve old
        files under the new type, so this is a FULL REWRITE under one
        commit claim: every live row is cast and rewritten, the commit
        pins the fresh files and records the updated contract, and time
        travel keeps serving each epoch's own type over each epoch's
        own files (old files leave the live set but stay until vacuum).

        LOSSLESSNESS IS ENFORCED, not assumed: any non-null value that
        does not ROUND-TRIP through the new type (string 'abc' as int,
        1.5 as int, 2^40 as int) aborts the whole commit with the count
        of unrepresentable rows — a type change never silently nulls or
        truncates data.  O(dataset) write cost by design; deletion
        vectors are materialized by the rewrite and the DV map cleared.

        The reference has no type-change verb at all (a type flip there
        is whatever parquet happens to land, writer.py:162-164)."""
        from dl_datalake_spark.lake.schema import SchemaContractError

        k = key.normalized()
        if name in set(PARTITION_COLS) | {"ts"}:
            raise ValueError(f"cannot alter identity column {name!r}")
        log = self.commit_log(k)
        path = self.dataset_path(k)
        payload = {"mode": "alter-type", "altered": {"column": name, "to": new_type}}
        with self._staging(path) as st, log.transaction(
            timeout=self.commit_timeout_s, payload=payload
        ) as meta:
            schema = log.schema_at(None)
            if schema is None or name not in schema:
                raise SchemaContractError(
                    f"no column {name!r} to alter in "
                    f"{sorted(schema) if schema else 'an uncontracted dataset'}"
                )
            old_t = schema[name]
            if old_t == new_type:
                raise ValueError(f"column {name!r} is already {new_type}")
            meta["schema"] = {
                c: (new_type if c == name else t) for c, t in schema.items()
            }
            existing = self._read_existing(k)
            if existing is None:
                meta["partitions"] = []  # metadata-only: nothing to rewrite
                return WriteResult(
                    path=path, time_from=None, time_to=None, rows=0, partitions=[]
                )
            existing = existing.persist()
            try:
                cast_col = F.col(name).cast(new_type)
                # round-trip probe: a value whose cast cannot be cast
                # BACK to the old value lost information
                back = cast_col.cast(old_t)
                lossy = existing.where(
                    F.col(name).isNotNull()
                    & (back.isNull() | (back != F.col(name)))
                ).count()
                if lossy:
                    raise SchemaContractError(
                        f"alter_column_type {k.symbol}.{name}: {lossy} row(s) "
                        f"do not round-trip {old_t} -> {new_type} — a type "
                        "change never silently nulls or truncates data"
                    )
                rewritten = existing.withColumn(name, cast_col)
                if self.emit_cdf:
                    # the feed survives the type change: every row
                    # re-emitted as update_postimage under the new type
                    # (ts unchanged, so keep-last folding reproduces the
                    # rewritten state) — without this, a CDF consumer
                    # would hit the loud-gap error on this commit forever
                    rewritten.withColumn(
                        "_change_type", F.lit("update_postimage")
                    ).write.mode("overwrite").option(
                        "compression", "snappy"
                    ).parquet(st.cdf)
                spec = log.partition_spec_at(None)
                cmap = log.column_map_at(None)
                (
                    self._with_spec_cols(self._rename_frame(rewritten, cmap), spec)
                    .sortWithinPartitions("ts")
                    .drop(*IDENTITY_COLS)
                    .write.partitionBy(*spec)
                    .option("compression", "snappy")
                    .mode("append")
                    .parquet(st.dir)
                )
            finally:
                existing.unpersist()
            (staged,) = self._stage_facts([st.dir], "ts", cmap)
            # full rewrite: the fresh files are the whole pin
            self._land(
                st, staged, path, meta, [], cdf=st.cdf if self.emit_cdf else None
            )
            facts = staged.commit_facts()
            meta.update(
                rows=facts["rows"],
                partitions=facts["partitions"],
                dv={},  # deletes materialized by the rewrite
            )
        return self._refresh_manifest_result(
            k, path, facts["rows"], facts["partitions"], delta_rows=0,
            batch_bounds=(facts["time_from"], facts["time_to"]),
        )

    def _partitioned(
        self,
        df: DataFrame,
        key: DatasetKey,
        ts_col: str,
        spec: tuple = ("year", "month"),
    ) -> DataFrame:
        t = F.timestamp_millis(F.col(ts_col).cast("long"))
        cols = {
            "exchange": F.lit(key.exchange),
            "market": F.lit(key.market),
            "symbol": F.lit(key.symbol),
            "data_type": F.lit(key.data_type),
            "period": F.lit(key.period),
            "year": F.year(t),
            "month": F.month(t),
        }
        if "day" in spec:
            cols["day"] = F.dayofmonth(t)
        return df.withColumns(cols)

    @staticmethod
    def _with_spec_cols(df: DataFrame, spec: tuple, ts_col: str = "ts") -> DataFrame:
        """Recompute the head spec's time-granularity columns from ts
        just before a rewrite lands files — unconditional, because a
        rewrite's input can mix epochs (a monthly-epoch row carries no
        ``day``; unionByName would null-fill it and partitionBy would
        land it under day=__HIVE_DEFAULT_PARTITION__) or carry a stale
        derivation (update_where assigning ts).  On already-stamped
        rows this is an identity — same derivation as
        `_partitioned`."""
        fns = {"year": F.year, "month": F.month, "day": F.dayofmonth}
        t = F.timestamp_millis(F.col(ts_col).cast("long"))
        return df.withColumns({c: fns[c](t) for c in spec if c in fns})

    def _write(
        self,
        df: DataFrame,
        key: DatasetKey,
        mode: str,
        commit_meta: dict | None = None,
        txn: tuple[str, int] | None = None,
        optimistic: bool = False,
    ) -> WriteResult:
        """The one write of a batch into one dataset: stage its files
        (`_stage_write`), land them under the dataset's commit claim
        (`_land`) and register the manifest row while the claim is held
        — a concurrent writer cannot then commit data + manifest in
        between and have its row clobbered by this older commit's.  The
        two schedules differ only in WHEN the claim is taken (the shape
        of `_cow_dml`):

        - claimed: claim -> schema contract -> stage -> land.  Upsert and
          overwrite are read-modify-write over the batch's months, so
          two writers reading one pre-state would each drop the other's
          rows; the dataset's commit log (lake/commitlog.py) serializes
          them, multi-process and multi-host safe on shared storage,
          while writes to different datasets stay fully parallel.
        - optimistic (`optimistic=True`, append only): capture the
          snapshot and its contract (`_optimistic_base`) -> stage ->
          claim -> `_validate_concurrent` -> land a rebasable
          `files_add` delta.  The Spark job runs outside the claim.  An
          append with no recorded contract, no pinned listing or a
          schema to evolve takes the claimed schedule instead.

        A `txn` replay is checked before any work and again right after
        the claim (a concurrent replay may commit in between); either
        way the write returns rows=0 with the dataset untouched."""
        if optimistic and mode != "append":
            raise ValueError(
                "optimistic=True is append-only: upsert/overwrite are "
                "read-modify-write and must hold the claim across the job"
            )
        log = self.commit_log(key)
        ds_path = self.dataset_path(key)
        skipped = WriteResult(
            path=ds_path, time_from=None, time_to=None, rows=0, partitions=[]
        )
        if txn is not None and log.last_txn_version(txn[0]) >= int(txn[1]):
            return skipped  # replayed micro-batch (no quarantine side effects)
        snap = self._optimistic_base(df, key, log, ds_path) if optimistic else None
        if snap is not None:
            df, rv, head = snap
        df, exp_meta = self._enforce_expectations(df, key)
        payload = {
            "mode": mode,
            **({"optimistic": True} if snap is not None else {}),
            **exp_meta,
            **(commit_meta or {}),
        }
        if txn is not None:
            payload["txn"] = {"app": txn[0], "version": int(txn[1])}
        try:
            with self._staging(ds_path) as st, ExitStack() as claim:

                def take_claim() -> dict:
                    meta = claim.enter_context(
                        log.transaction(timeout=self.commit_timeout_s, payload=payload)
                    )
                    if txn is not None and log.last_txn_version(txn[0]) >= int(txn[1]):
                        raise _ReplayedTxn()
                    return meta

                if snap is None:
                    meta = take_claim()
                    # write-time schema contract (lake/schema.py): checked
                    # under the claim so concurrent evolutions serialize; a
                    # violation aborts here with the dataset untouched
                    df, meta["schema"], head = self._schema_contract(
                        df, log, ds_path, f"write {key.symbol}", meta=meta
                    )
                    if "partition_types" not in meta and "ts" in df.columns:
                        # (ts-less batches fall through to _require_ts's
                        # loud ValueError instead of failing the probe)
                        # the batch reaches the gate pre-partitioning: probe
                        # the layout's true partition types (analysis only,
                        # limit(0) — no job) and record them as facts
                        from dl_datalake_spark.lake import schema as _sc

                        pfp = _sc.fingerprint(
                            self._partitioned(df.limit(0), key, "ts", head[4])
                        )
                        meta["partition_types"] = {
                            **head[3],
                            **{
                                c: pfp[c]
                                for c in (*PARTITION_COLS, *head[4])
                                if c in pfp
                            },
                        }
                    # effective map INCLUDING any fresh physical names the
                    # contract assigned this very commit (re-added columns)
                    cmap = meta.get("column_map", head[1])
                else:
                    cmap = head[1]
                staged = self._stage_write(df, key, mode, st, cmap, tuple(head[4]))
                if snap is None:
                    # upsert and overwrite emit rows only in the batch's
                    # months and rewrite each of them wholesale, so the
                    # staged files' months name exactly the partitions
                    # whose old files leave the listing
                    base = self._base_listing(ds_path)
                    drop = set(staged.pcounts) if mode != "append" else ()
                else:
                    meta = take_claim()
                    self._validate_concurrent(
                        log, rv, meta["version"], head, set(staged.pcounts), ds_path
                    )
                    base, drop = [], ()
                self._land(
                    st, staged, ds_path, meta, base, drop=drop,
                    delta=snap is not None, cdf=st.cdf if self.emit_cdf else None,
                )
                # touched partitions in the commit record = the CDC surface:
                # an incremental consumer (reader.read_changes_since)
                # re-reads exactly these partitions, never the dataset
                meta.update(staged.commit_facts())
                result, row = self._landed_result(key, ds_path, meta)
                if self.manifest is not None:
                    self.manifest.add_entries([row])
        except _ReplayedTxn:
            return skipped
        return result

    def _optimistic_base(
        self, df: DataFrame, key: DatasetKey, log: CommitLog, ds_path: str
    ) -> tuple | None:
        """The snapshot an optimistic append validates against: (batch
        with lossless up-casts to the contract, rv, `contract_at(rv)`),
        or None when the append must take the claimed schedule — a first
        write (no recorded contract), a legacy dataset (no pinned listing
        to compose a delta onto) or a batch that evolves the schema under
        `merge_schema` (the contract CHANGES, so it serializes).  rv is
        captured FIRST and the contract read AT it: the other order
        leaves a window where a commit lands between the two reads, sits
        inside rv and never reaches `_validate_concurrent`, yet the batch
        was resolved against a contract that postdates it."""
        from dl_datalake_spark.lake import schema as _sc

        rv = log.latest_version()
        head = log.contract_at(rv)
        if head[0] is None or resolve_live_files(self.fs, ds_path) is None:
            return None
        fp = _sc.fingerprint(df)
        for c in (*PARTITION_COLS, *head[4]):
            fp.pop(c, None)
        try:
            _resolved, upcasts = _sc.resolve_append(
                head[0], fp, False, f"write {key.symbol}"
            )
        except _sc.SchemaContractError:
            if self.merge_schema:
                return None
            raise
        return _sc.apply_upcasts(df, upcasts), rv, head

    # -- partition-disjoint optimistic concurrency (Delta's commit model) ----
    #
    # A claimed write holds the dataset's commit claim ACROSS its Spark
    # job — required for read-modify-write (upsert/overwrite), but it
    # caps one dataset at ~1/job-time commits/s no matter how many
    # appenders pile on (round-9 contention bench: flat ~1.15 commits/s,
    # PLANS.md).  The optimistic schedules — `_write`'s for blind
    # appends, `_cow_dml`'s for DML and compaction — run the job FIRST
    # and take the claim only to validate + land (Delta's
    # OptimisticTransaction): the claim window shrinks from the job to
    # milliseconds and disjoint writers scale.
    #
    # Mechanics that make such a write commutable:
    # - its files are staged in a private `_staging_<token>` dir like
    #   every data write's (`_staging`) and MOVED into the tree under the
    #   claim (`_land`); uncommitted files are invisible by construction
    #   (readers resolve the pinned listing, never the directory);
    # - the commit payload carries `files_add`/`files_remove` — a delta
    #   composes with whatever head it lands on, so there is nothing to
    #   rebase; the finalize expands it to a full checkpoint on schedule;
    # - validation under the claim replays every commit between the
    #   snapshot read (rv) and the claimed slot (`_validate_concurrent`,
    #   by what the write READ): other appends commute with a blind
    #   append, partition-scoped rewrites pass iff DISJOINT from the
    #   write's months, and anything that moved the schema contract or
    #   rewrote the tree conflicts loudly (ConcurrentWriteConflict) with
    #   the tree untouched — nothing half lands.

    _OPTIMISTIC_DISJOINT_OK = frozenset(
        {"upsert", "overwrite", "delete", "delete-dv", "update",
         "update-dv", "merge", "restore"}
    )

    def _validate_concurrent(
        self, log: CommitLog, rv: int, v: int, base_contract: tuple,
        touched: set, ds_path: str, read_set: str = "none",
    ) -> None:
        """Raise ConcurrentWriteConflict unless every commit that landed
        between our snapshot (rv) and our claimed slot `v` provably
        commutes with our optimistic write, given what our write READ
        (a rolled-aside claim in the window has no effects; a claimed
        schedule's window, rv = v - 1, is empty):

        - ``"none"`` (blind append): we read nothing — concurrent
          appends commute anywhere, file-scoped rewrites
          (``rewrite_partitions``: optimistic compaction, byte-identical
          rows under new file names) commute anywhere (our files
          are new, never in their remove set);
        - ``"files"`` (compaction): we read and REMOVE the snapshot's
          files of `touched` — appends commute (their files are new),
          but any rewrite of a touched month conflicts (both would
          retire the same files / we'd resurrect rows they changed);
        - ``"rows"`` (predicate DML — Delta's ConcurrentAppendException
          under serializable): our post-image depends on the ROWS of
          `touched`, so even an append into a touched month conflicts
          (rows our predicate never saw), as does a file-scoped
          compaction there (its replacement files would survive our
          files_remove and duplicate every row we rewrote).

        Schema-contract moves and tree rewrites conflict for every
        read set."""
        from dl_datalake_spark.lake.commitlog import ConcurrentWriteConflict

        from dl_datalake_spark.lake.spec import spec_of

        prev_schema, prev_cmap, prev_ret, _prev_pt, prev_spec = base_contract
        for version in range(rv + 1, v):
            entry = log.committed_entry(version)
            if entry is None:
                continue  # rolled-aside claim: no effects to conflict
            sch = entry.get("schema")
            if sch is not None and (
                dict(sch) != (prev_schema or {})
                or dict(entry.get("column_map") or {}) != prev_cmap
                or list(entry.get("retired_cols") or []) != list(prev_ret)
                # a partition-spec move conflicts too: this write's files
                # were STAGED under the snapshot's directory layout
                or spec_of(entry.get("partition_spec")) != tuple(prev_spec)
            ):
                raise ConcurrentWriteConflict(
                    f"commit {version} of {ds_path} moved the schema contract "
                    "after this write's snapshot read — retry from a fresh "
                    "snapshot (the batch was resolved against the old contract)"
                )
            mode_e = entry.get("mode")
            rew = entry.get("rewrite_partitions")
            parts = entry.get("partitions")
            if mode_e == "append" and rew is None and read_set in ("none", "files"):
                continue  # blind inserts commute with anything that read no rows
            if rew is not None and read_set == "none":
                continue  # file-scoped rewrite: our new files are untouchable
            eff = {(int(y), int(m)) for y, m in (parts or [])} | {
                (int(y), int(m)) for y, m in (rew or [])
            }
            commutable = (
                mode_e == "append"  # disjoint-only under read_set="rows"
                or mode_e in self._OPTIMISTIC_DISJOINT_OK
                or (rew is not None and mode_e == "compact")
            )
            if (
                commutable
                and (parts is not None or rew is not None)
                and not (eff & touched)
                # no commit records the null-ts month (`_dated`), so a
                # write that read its rows cannot tell whether this commit
                # added, rewrote or deleted some of them
                and (read_set == "none" or (None, None) not in touched)
            ):
                # disjoint partition-scoped effect, or a recorded no-op
                # (e.g. delete matching nothing); a legacy tree-swap compact
                # records partitions=[] WITHOUT rewrite_partitions and a
                # non-commutable mode, so it still conflicts below
                continue
            raise ConcurrentWriteConflict(
                f"commit {version} (mode={mode_e}, partitions={parts}, "
                f"rewrite_partitions={rew}) of {ds_path} overlaps this write's "
                f"months {_month_sorted(touched)} or rewrote the tree — the snapshot "
                "this write validated against is stale; retry from a fresh "
                "snapshot"
            )

    def _staging_heartbeat(self, path: str):
        """Daemon thread refreshing the mtime of a staging dir for as
        long as the write that owns it runs (`_staging` starts one for
        every staged write, claimed or not).  A staging dir is
        invisible to every reader, so the ONLY liveness signal
        `vacuum_tombstones` has for it is mtime age — without a
        heartbeat, a write whose Spark job legitimately outlives
        `staging_ttl_s` (plausible at 100 TB) gets its staging swept
        mid-job by a concurrent vacuum.  A path that doesn't exist yet
        is skipped (the data job creates it); a vanished one is left to
        the job's own failure surface.  Returns a stop callable."""
        import threading

        interval = max(min(self.staging_heartbeat_s, 60.0), 0.02)
        stop = threading.Event()

        def beat():
            while not stop.wait(interval):
                try:
                    self.fs.touch(path)
                except OSError:
                    pass  # not created yet / already removed: next tick

        t = threading.Thread(target=beat, name="staging-heartbeat", daemon=True)
        t.start()

        def stopper():
            stop.set()
            t.join(timeout=5.0)

        return stopper

    @contextmanager
    def _staging(self, root: str):
        """The one owner of a data write's staging: a private
        `<root>/_staging_<token>` dir for the data files and the change
        feed (`_Staging.cdf`), kept fresh for `vacuum_tombstones` by the
        heartbeat while the write runs.  On any exception — conflict,
        timeout, crash, no match, replay — the files already landed in
        the tree (`_Staging.landed`) are removed unless a finalized
        commit pins them: a multi-write's datasets finalize one by one,
        so one that committed before a later finalize failed owns its
        files, and readers are already served them.  The staging dir
        goes either way.  Every data write stages here, so no writer
        ever learns which files it wrote from a directory listing."""
        import uuid as _uuid

        st = _Staging(f"{root}/_staging_{_uuid.uuid4().hex}")
        stop_beat = self._staging_heartbeat(st.dir)
        try:
            yield st
        except BaseException:
            for ds_path, version, rels in st.landed:
                e = rels and CommitLog(ds_path, fs=self.fs).committed_entry(version)
                if e and rels[0] in {*(e.get("files") or ()), *(e.get("files_add") or ())}:
                    continue
                for rel in rels:
                    try:
                        self.fs.remove(f"{ds_path}/{rel}")
                    except OSError:
                        pass
            raise
        finally:
            stop_beat()
            self.fs.rmtree(st.dir)

    def land_rewrite(
        self, ds_path: str, meta: dict, write, column_map: dict
    ) -> _Staged:
        """A full rewrite's files through the one staging path, from
        inside a claim the caller holds (`maintenance.recluster`):
        `write(dir)` writes them under a private staging dir laid out
        like the dataset, their facts are read from them (`stats_cols`
        under the LOGICAL names `column_map` maps to the files'
        physical ones), and they land as the dataset's whole listing in
        the claim's `meta`."""
        with self._staging(ds_path) as st:
            write(st.dir)
            (staged,) = self._stage_facts([st.dir], "ts", column_map)
            self._land(st, staged, ds_path, meta, [])
        return staged

    def _stage_facts(
        self, roots: list[str], ts_col: str, column_map: dict
    ) -> list[_Staged]:
        """The one facts step: for each staged root, the files staged
        under it and what the commit records about them, read from
        those files.  Footer reads (`snapshot.added_file_stats`, no
        Spark job) give per-file [min_ts, max_ts] and `stats_cols`
        ranges for reader file skipping, plus row counts;
        `snapshot.footer_facts` turns them into the commit's rows, time
        range and per-month counts.  When a dated file's footer has no
        sound ts range, those facts come from one aggregate over the
        root's staged files instead (never the source, never a guess).
        `bucket_by` adds ONE bucket-set job for all roots; sizes are one
        stat per file.

        Column mapping: `stats_cols` and `bucket_by` are LOGICAL names;
        the files carry PHYSICAL ones (`column_map`, logical ->
        physical, including names assigned by this very commit), so the
        lookups translate and the recorded facts stay keyed by the
        logical names reader bounds use."""
        added = {root: list_data_files(self.fs, root) for root in roots}
        phys_cols = tuple(column_map.get(c, c) for c in self.stats_cols)
        f, c, n = added_file_stats(self.fs, added, ts_col, phys_cols, with_rows=True)
        fbuckets, bspec = self._added_file_buckets(added, column_map)
        back = {p: lg for lg, p in column_map.items()}
        out = []
        for root, rels in added.items():
            fstats = f.get(root, {})
            facts = footer_facts(rels, n.get(root, {}), fstats)
            if facts is None:
                facts = self._month_facts(
                    self.spark.read.option("basePath", root).parquet(
                        *[f"{root}/{rel}" for rel in rels]
                    ),
                    ts_col,
                )
            cstats = {back.get(k, k): v for k, v in (c.get(root) or {}).items()}
            out.append(_Staged(
                root, rels, fstats, cstats, *facts, fbuckets.get(root, {}),
                bspec if root in fbuckets else {}, file_sizes(self.fs, root, rels),
            ))
        return out

    def _land(
        self, st: _Staging, staged: _Staged, ds_path: str, meta: dict,
        base: list[str], drop=(), delta: bool = False, cdf: str | None = None,
    ) -> None:
        """The one land step, run under the held claim: move the staged
        files into the dataset at the same relative paths (Spark names
        every part file after its write job's UUID, so a staged path is
        already unique and final), move the change feed `cdf` to
        `_cdf/commit_version=<v>`, and record the listing and the
        per-file facts in the commit payload.  The listing is `base`
        minus its files in a `drop` month (an upsert or overwrite
        replaces those months) plus the staged files — as
        `files_add`/`files_remove` when `delta` (a rebasable optimistic
        commit), else in full.  Files enter the tree only here, under
        the claim: the feed's directory is named by the claimed version,
        a conflict found by validation leaves the tree untouched, an
        abort removes what moved (`_staging`), and a legacy dataset's
        bootstrap listing (`_base_listing`, taken under its own claim)
        can never pin another writer's uncommitted files."""
        moved: list[str] = []
        st.landed.append((ds_path, meta["version"], moved))
        for rel in staged.added:
            d = rel.rpartition("/")[0]
            if d:
                self.fs.makedirs(f"{ds_path}/{d}")
            self.fs.rename(f"{staged.root}/{rel}", f"{ds_path}/{rel}")
            moved.append(rel)
        if cdf is not None:
            self.fs.makedirs(f"{ds_path}/{self.CDF_DIR}")
            dst = f"{ds_path}/{self.CDF_DIR}/commit_version={meta['version']}"
            self.fs.rmtree(dst)  # orphan from an aborted claim
            self.fs.rename(cdf, dst)
            meta.update(cdf=True, cdf_bytes=self._dir_bytes(dst))
        removed = [f for f in base if partition_of(f) in drop]
        if delta:
            meta.update(files_add=staged.added, files_remove=removed)
        else:
            meta["files"] = sorted(set(base).difference(removed).union(staged.added))
        meta["file_bytes"] = staged.file_bytes
        for name, v in (
            ("file_stats", staged.file_stats), ("col_stats", staged.col_stats),
            ("file_buckets", staged.file_buckets), ("bucket_by", staged.bucket_spec),
        ):
            if v:
                meta[name] = v

    def _base_listing(self, ds_path: str) -> list[str]:
        """The listing a claimed write lands onto: the pinned one, or —
        a legacy dataset's bootstrap, the one directory listing any
        write still makes — the files on disk (no tombstones can exist
        before the first pinned commit, so the two agree)."""
        live = resolve_live_files(self.fs, ds_path)
        return list_data_files(self.fs, ds_path) if live is None else live

    @staticmethod
    def _landed_result(k: DatasetKey, ds_path: str, meta: dict) -> tuple:
        """(WriteResult, manifest row) of a commit that recorded its
        staged files' facts (`_Staged.commit_facts` + `_land`)."""
        res = WriteResult(
            path=ds_path,
            time_from=meta["time_from"],
            time_to=meta["time_to"],
            rows=meta["rows"],
            partitions=meta["partitions"],
            files=meta.get("files"),
            file_stats=meta.get("file_stats"),
            col_stats=meta.get("col_stats"),
            file_buckets=meta.get("file_buckets"),
            bucket_spec=meta.get("bucket_by"),
            file_bytes=meta.get("file_bytes"),
            cdf_bytes=meta.get("cdf_bytes"),
        )
        return res, LakeWriter._manifest_row(
            k, ds_path, res.time_from, res.time_to, res.rows
        )

    @staticmethod
    def _manifest_row(k: DatasetKey, path: str, t0, t1, rows: int) -> dict:
        """The catalog row of dataset `k` (`ManifestManager.add_entries`)."""
        return {
            "exchange": k.exchange, "market": k.market, "symbol": k.symbol,
            "path": path, "data_type": k.data_type,
            "time_from": t0, "time_to": t1,
            "metadata": {"timeframe": k.period, "rows": rows},
        }

    def _read_pinned_at(
        self, key: DatasetKey, log: CommitLog, rv: int, live: list[str],
        logical: bool = True,
    ) -> DataFrame | None:
        """`_read_existing` evaluated at a CAPTURED snapshot version:
        the pinned listing `live` (= files_at(rv)), that version's
        deletion vectors, and that version's contract (logical names,
        widened types, retired columns excluded).  This is what
        `_cow_dml`'s compute phase reads — on the optimistic schedule,
        resolving any of the three at head instead would let a commit
        that lands mid-job slip past `_validate_concurrent` (the same capture
        discipline `_optimistic_base` documents for rv/contract).
        Tombstone retention keeps the listed files on disk for the whole
        job (vacuum_tombstones' horizon), exactly as it does for any
        pinned reader.

        `logical=False` skips the physical->logical rename (and so
        serves PHYSICAL column names) — compaction's shape: rewritten
        files must keep their physical columns so the column_map stays
        valid for them."""
        from dl_datalake_spark.lake.spec import grouped_scan

        if not live:
            return None  # pinned-empty snapshot
        return grouped_scan(
            self.spark, self.base_path, self.dataset_path(key), live,
            log, self.fs, version=rv, logical=logical,
        )

    def _cow_dml(
        self,
        key: DatasetKey,
        mode: str,
        compute,
        commit_meta: dict | None = None,
        read_set: str = "rows",
        physical: bool = False,
        optimistic: bool = True,
    ) -> WriteResult:
        """The one COPY-ON-WRITE DML pipeline (delete/update/merge/
        compact): read a snapshot, stage the post-image and change feed
        (`_staging`, `_stage_facts`), move them in under the claim
        (`_land`) and commit add/remove actions (Delta's protocol).  The two
        schedules differ only in WHEN the claim is taken:

        - optimistic (`optimistic=True`): capture the snapshot (rv,
          contract AT rv, pinned listing AT rv) -> compute -> stage ->
          claim -> replay every commit in (rv, claimed v) through
          `_validate_concurrent(read_set=...)` (conflicts raise
          ConcurrentWriteConflict with the tree untouched) -> move in.
          Every Spark job runs OUTSIDE the claim, so appenders to other
          months never queue behind a long purge or compaction; the
          commit is a REBASABLE delta (files_add = staged, files_remove
          = the rv-live files of the read months).
        - claimed (`optimistic=False`): claim -> capture the snapshot at
          v - 1 -> compute -> stage -> move in.  Under a held claim no
          commit lands between snapshot and finalize, so there is
          nothing to validate; the commit hands the log the full
          `files` listing (`CommitLog._encode_files` delta-encodes it).
          A LEGACY dataset (no pinned listing) always takes this
          schedule: the on-disk listing is the base and data is read
          through `_read_existing`.

        `compute(existing, snap)` gets the snapshot frame (logical
        names, DVs applied; None when the snapshot is empty) plus
        `snap = {"rv", "live", "contract"}` (compaction plans from the
        listing, not the rows) and returns None for "no match, commit
        nothing", else a dict:
          out          post-image rows of every read month (None = all
                       rows deleted); LOGICAL names unless `physical`
          cdf          change-feed rows (written iff emit_cdf), or None
          read_months  [(y, m)] the rewrite consumed
          rows         row count for the commit record / WriteResult
          extra_meta   extra commit payload (e.g. merge_* counts,
                       rewrite_partitions), optional
          cdc_partitions  override for the commit's `partitions` key
                       (compaction records [] so CDC consumers skip a
                       byte-identical rewrite), optional
        Returns the WriteResult; a no-match commits nothing (any claim
        is released) and returns rows=0, partitions=[].
        """
        k = key.normalized()
        log = self.commit_log(k)
        ds_path = self.dataset_path(k)
        if optimistic:
            rv = log.latest_version()
            live = log.files_at(rv) if rv >= 0 else None
            # a legacy dataset has no pinned listing to rebase against
            optimistic = live is not None
        payload = {
            "mode": mode,
            **({"optimistic": True} if optimistic else {}),
            **(commit_meta or {}),
        }
        try:
            with self._staging(ds_path) as st, ExitStack() as claim:
                if not optimistic:
                    meta = claim.enter_context(
                        log.transaction(timeout=self.commit_timeout_s, payload=payload)
                    )
                    rv = meta["version"] - 1
                    live = log.files_at(rv) if rv >= 0 else None
                base_contract = log.contract_at(rv)
                base_cmap = base_contract[1]
                if live is None:
                    live = list_data_files(self.fs, ds_path)
                    existing = self._read_existing(k)
                else:
                    existing = self._read_pinned_at(k, log, rv, live)
                plan = compute(
                    existing, {"rv": rv, "live": live, "contract": base_contract}
                )
                if plan is None:
                    raise _NoMatch
                r_set = set(map(tuple, plan["read_months"]))
                out = plan.get("out")
                if out is not None:
                    # DML post-images take the writer's file layout (the
                    # bucket sets of the point-lookup index stay tight);
                    # compaction already chose its own file count
                    frame = (
                        out.sortWithinPartitions("ts")
                        if physical
                        else self._rename_frame(
                            self._cluster_output(
                                out, "ts", ["year", "month"], len(r_set)
                            ),
                            base_cmap,
                        )
                    )
                    base_spec = tuple(base_contract[4])
                    (
                        self._with_spec_cols(frame, base_spec)
                        .drop(*IDENTITY_COLS)
                        .write.partitionBy(*base_spec)
                        .option("compression", "snappy")
                        .mode("append")
                        .parquet(st.dir)
                    )
                cdf = plan.get("cdf") if self.emit_cdf else None
                if cdf is not None:
                    cdf.write.mode("overwrite").option(
                        "compression", "snappy"
                    ).parquet(st.cdf)
                # the post-image's time range, by the formula every
                # writer shares (`rows` is the plan's: a delete counts
                # the rows it removed, not the ones it kept)
                (staged,) = self._stage_facts([st.dir], "ts", base_cmap)
                write_months = _dated(r_set | set(staged.pcounts))

                if optimistic:
                    meta = claim.enter_context(
                        log.transaction(timeout=self.commit_timeout_s, payload=payload)
                    )
                self._validate_concurrent(
                    log, rv, meta["version"], base_contract, r_set, ds_path,
                    read_set=read_set,
                )
                self._land(
                    st, staged, ds_path, meta, live, drop=r_set,
                    delta=optimistic, cdf=st.cdf if cdf is not None else None,
                )
                cdc_parts = plan.get("cdc_partitions")
                for mk, mv in (plan.get("extra_meta") or {}).items():
                    meta.setdefault(mk, mv)  # commit_meta keys win
                meta.update(
                    rows=int(plan["rows"]),
                    partitions=write_months if cdc_parts is None else _dated(cdc_parts),
                )
        except _NoMatch:
            return WriteResult(
                path=ds_path, time_from=None, time_to=None, rows=0, partitions=[]
            )
        return WriteResult(
            path=ds_path,
            time_from=staged.facts["t0"],
            time_to=staged.facts["t1"],
            rows=int(plan["rows"]),
            partitions=write_months,
            files=None,
            file_stats=staged.file_stats or None,
            col_stats=staged.col_stats or None,
        )

    def compact_partitions(
        self,
        key: DatasetKey,
        months: list[tuple[int, int]] | None = None,
        target_files_per_partition: int = 1,
        min_files: int | None = None,
        commit_meta: dict | None = None,
    ) -> WriteResult:
        """OPTIMISTIC small-file compaction of one dataset's month
        partitions (Delta's ``OPTIMIZE ... WHERE``): each fragmented
        month's live files are rewritten into fresh ts-sorted
        files, staged and validated through the optimistic
        schedule of `_cow_dml` — the rewrite job never holds the commit
        claim, so concurrent APPENDS keep landing at full rate (their
        files are new and provably commute; `read_set="files"`), while
        a concurrent rewrite of the same months conflicts loudly.  The
        lake-level `maintenance.compact` remains the tree-swap shape
        (claims held across the job) — right for lake-wide exports,
        wrong for routine defragmentation of one hot dataset at 100 TB.

        The commit records ``partitions: []`` (rows are byte-identical,
        so CDC consumers skip it — the `maintenance.compact`
        convention) plus ``rewrite_partitions`` so optimistic
        validators see the file-scoped rewrite.  Deletion vectors on
        the compacted files are MATERIALIZED (the rewritten months
        carry no DV debt afterwards); files keep PHYSICAL column names
        so the column_map stays valid.  `months` bounds the candidate
        set; `min_files` (default `target_files_per_partition + 1`) is
        the fragmentation threshold a month must reach to be rewritten.
        Returns a WriteResult whose partitions are the compacted months
        (rows=0: no row changed); a dataset with nothing to compact
        returns rows=0, partitions=[] and commits nothing."""
        k = key.normalized()
        log = self.commit_log(k)
        threshold = (
            int(min_files)
            if min_files is not None
            else int(target_files_per_partition) + 1
        )
        wanted = (
            {(int(y), int(m)) for y, m in months} if months is not None else None
        )

        def compute(existing, snap):
            by_month: dict[tuple, list[str]] = {}
            for rel in snap["live"]:
                p = partition_of(rel)
                if p != (None, None):
                    by_month.setdefault(p, []).append(rel)
            targets = sorted(
                p
                for p, fl in by_month.items()
                if len(fl) >= threshold and (wanted is None or p in wanted)
            )
            if not targets:
                return None
            live_sel = sorted(
                rel for p in targets for rel in by_month[p]
            )
            df = self._read_pinned_at(
                k, log, snap["rv"], live_sel, logical=False
            )
            return {
                "out": df.repartition(
                    max(1, int(target_files_per_partition)), "year", "month"
                ),
                "cdf": None,
                "read_months": targets,
                "rows": 0,
                "extra_meta": {
                    "rewrite_partitions": [list(p) for p in targets]
                },
                "cdc_partitions": [],
            }

        return self._cow_dml(
            k, "compact", compute, commit_meta,
            read_set="files", physical=True,
        )

    def _stage_write(
        self, df: DataFrame, key: DatasetKey, mode: str, st: _Staging,
        column_map: dict, spec: tuple,
    ) -> _Staged:
        """The staging half of `_write`, the same for both schedules:
        the batch's rows (keep-last merged with the touched months for
        an upsert), laid out and written under `st` with their change
        feed, and the facts read back from the staged files."""
        ts_col = _require_ts(df, "ts")
        batch = self._partitioned(df, key, ts_col, spec)
        emit_cdf = self.emit_cdf

        if mode == "upsert":
            merged = self._merge_keep_last(batch, key, ts_col, tag_changes=emit_cdf)
        elif mode == "append":
            # append: every batch row is an insert
            merged = (
                batch.withColumn("_change_type", F.lit("insert")) if emit_cdf else batch
            )
        elif mode == "overwrite":
            # overwrite replaces the touched months wholesale: the feed
            # must carry a DELETE pre-image for every pre-state row the
            # replacement removes (Delta CDF semantics) — inserts alone
            # would make a non-idempotent row-level consumer silently
            # retain rows the overwrite dropped
            merged = (
                self._overwrite_tag_changes(batch, key, ts_col) if emit_cdf else batch
            )
        else:
            raise ValueError(f"unknown write mode: {mode}")

        # The commit's facts (rows, time range, touched months) come
        # AFTER the write, from the staged files' footers, so the merged
        # rows are normally evaluated exactly once — by the write.  The
        # pre-state files they read stay on disk under MVCC (the write
        # only adds files), so a single evaluation needs no cache.
        # persist() remains only where the same rows are evaluated twice
        # and both evaluations must see the same rows: the CDF write and
        # the data write (keep-last between same-ts batch rows is a tie
        # a re-evaluation may break differently, so the feed could
        # disagree with the data tree), and the layout aggregate that
        # sizes the output before the write (`_layout_needs_counts`).
        needs_counts = self._layout_needs_counts(mode == "append")
        cached = emit_cdf or needs_counts
        if cached:
            merged = merged.persist()
        # delete pre-images ride only the CDF, never the data tree or the
        # commit's row/time stats
        data_rows = (
            merged.where(
                F.col("_change_type").isNull() | (F.col("_change_type") != "delete")
            )
            if emit_cdf
            else merged
        )
        try:
            pcounts = self._month_facts(data_rows, ts_col)[1] if needs_counts else None
            if emit_cdf:
                # the changed subset rides the same persisted merge
                merged.where(F.col("_change_type").isNotNull()).write.mode(
                    "overwrite"
                ).option("compression", "snappy").parquet(st.cdf)
            out = (
                self._layout_append(data_rows, ts_col, pcounts)
                if mode == "append"
                else self._cluster_output(
                    data_rows, ts_col, ["year", "month"], len(pcounts or ())
                )
            )
            if emit_cdf:
                out = out.drop("_change_type")
            # MVCC write protocol (lake/snapshot.py): data files are
            # immutable, uniquely named, never replaced in place.  The
            # commit's pinned `files` list defines visibility: upsert/
            # overwrite "replace" a partition by dropping its old files
            # from the list, not from disk.  A concurrent reader pinned
            # to the previous commit keeps every file its plan
            # references; vacuum reclaims superseded files past a
            # retention horizon.  Dataset coordinates are encoded by the
            # directory itself, so only the spec's columns partition.
            (
                self._with_spec_cols(
                    self._rename_frame(out, column_map),  # logical -> physical
                    spec, ts_col,
                )
                .drop(*IDENTITY_COLS)
                .write.partitionBy(*spec)
                .option("compression", "snappy")
                .mode("append")
                .parquet(st.dir)
            )
        finally:
            if cached:
                merged.unpersist()
        (staged,) = self._stage_facts([st.dir], ts_col, column_map)
        return staged

    def _layout_needs_counts(self, append: bool) -> bool:
        """Whether the output layout needs the per-month row counts
        BEFORE the write: `optimize_write` sizes an append's files from
        them, and `bucket_by` / `cluster_by` scale their task count with
        the month count.  Every other write learns its months from the
        files it wrote (`_stage_facts`) and runs no pre-write job."""
        return bool(self.bucket_by or self.cluster_by or (append and self.optimize_write))

    @staticmethod
    def _month_facts(rows: DataFrame, ts_col: str) -> tuple[dict, dict]:
        """One grouped aggregate over `rows`: ({"t0", "t1", "n"} over
        ALL rows, {(year, month): rows} over the dated ones) in a single
        job.  A null-month group (null ts) counts toward n but touches
        no partition.  Two uses only: the pre-write counts a layout
        needs (`_layout_needs_counts`), and the fallback of
        `_stage_facts` over a commit's staged files when a footer has no
        sound ts range — commit facts otherwise come from the footers."""
        groups = (
            rows.groupBy("year", "month")
            .agg(
                F.min(ts_col).alias("t0"), F.max(ts_col).alias("t1"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        t0s = [r["t0"] for r in groups if r["t0"] is not None]
        t1s = [r["t1"] for r in groups if r["t1"] is not None]
        stats = {
            "t0": min(t0s) if t0s else None,
            "t1": max(t1s) if t1s else None,
            "n": sum(int(r["n"]) for r in groups),
        }
        pcounts = {
            (int(r["year"]), int(r["month"])): int(r["n"])
            for r in groups
            if r["year"] is not None
        }
        return stats, pcounts

    def _layout_append(
        self, rows: DataFrame, ts_col: str, pcounts: dict | None
    ) -> DataFrame:
        """Append layout: with `optimize_write` (and no explicit
        cluster/bucket layout), range-partition on (year, month, ts)
        into sum(ceil(rows_p / target_file_rows)) tasks — one file per
        touched partition for small batches, ts-split files for big
        ones, never one-file-per-upstream-task small-file spray.
        `pcounts` is None when the layout needs no counts
        (`_layout_needs_counts`)."""
        if self.optimize_write and not self.bucket_by and not self.cluster_by:
            n = sum(
                max(1, -(-c // self.target_file_rows)) for c in pcounts.values()
            )
            return rows.repartitionByRange(
                max(1, min(n, 4096)), "year", "month", ts_col
            ).sortWithinPartitions(ts_col)
        return self._cluster_output(
            rows, ts_col, ["year", "month"], len(pcounts or ())
        )

    def _cluster_output(
        self, rows: DataFrame, ts_col: str, prefix_cols: list[str], n_groups: int
    ) -> DataFrame:
        """Layout stage between merge and write (see `cluster_by`).
        Default: keep the merge's partitioning, sort within tasks by ts
        (the reference's sorted-file invariant, row-group pruning on
        ts).  With `cluster_by`: range-partition so each output file
        owns a tight slice of the clustered domain within its
        directory-partition group (`prefix_cols` lead the range key so
        files never straddle partition dirs).  `n_groups` = touched
        (prefix) partition count; output tasks = n_groups *
        cluster_files_per_month.  Columns absent from this batch's
        schema drop out (same per-commit rule as stats_cols)."""
        bcols = [c for c in self.bucket_by if c in rows.columns]
        if bcols:
            # hash-bucket layout (point-lookup index, see `bucket_by`):
            # partition by (month dirs, bucket ids) so each output file
            # holds FEW buckets and the commit's per-file bucket sets
            # stay tight; ts-sort within for row-group pruning
            n = max(1, n_groups) * max(self.bucket_by[c] for c in bcols)
            bexprs = [
                F.pmod(F.xxhash64(F.col(c)), F.lit(self.bucket_by[c]))
                for c in bcols
            ]
            # RANGE partition on the bucket ids: with n tasks for n
            # (month, bucket) groups the sampled boundaries fall between
            # the discrete ids, so each file carries ~1 bucket — a plain
            # hash repartition would collide ids into shared tasks and
            # fatten every file's bucket set
            return rows.repartitionByRange(
                min(n, 4096), *prefix_cols, *bexprs
            ).sortWithinPartitions(ts_col)
        cols = [c for c in self.cluster_by if c in rows.columns]
        if not cols:
            return rows.sortWithinPartitions(ts_col)
        n = max(1, n_groups) * self.cluster_files_per_month
        if len(cols) == 1:
            # one column: raw range partitioning beats any bucketing —
            # per-file [min, max] intervals are disjoint by construction
            return rows.repartitionByRange(
                n, *prefix_cols, cols[0]
            ).sortWithinPartitions(*prefix_cols, cols[0], ts_col)
        from dl_datalake_spark.lake.clustering import zorder_key

        keyed = zorder_key(rows, cols, self.cluster_bits)
        return (
            keyed.repartitionByRange(n, *prefix_cols, "zval")
            .sortWithinPartitions(*prefix_cols, "zval")
            .drop("zval")
        )

    def _enforce_expectations(self, df: DataFrame, key: DatasetKey):
        """Write-time CHECK constraints (Delta parity).  fail: raise
        BEFORE any claim, dataset untouched.  quarantine: return the
        passing split; violators land as parquet under
        `<dataset>/_quarantine/<uuid>/` (hidden from every data scan by
        the underscore rule) and the per-constraint counts ride the
        commit payload.  Returns (df_to_write, payload_extras)."""
        if not self.expectations:
            return df, {}
        from dl_datalake_spark.lake.expectations import check

        if self.enforce == "fail":
            check(df, self.expectations, enforce="fail")  # raises on violation
            return df, {}
        import uuid as _uuid

        good, bad, report = check(df, self.expectations, enforce="quarantine")
        counts = {
            r["name"]: int(r["violations"])
            for r in report.collect()
            if r["violations"] > 0
        }
        if not counts:
            return df, {}
        qdir = f"{self.dataset_path(key)}/_quarantine/{_uuid.uuid4().hex}"
        bad.withColumn("_violated", self._violated_col()).write.mode(
            "overwrite"
        ).option("compression", "snappy").parquet(qdir)
        return good, {"expectations": counts, "quarantine": qdir.rsplit("/", 1)[-1]}

    def requeue_quarantine(
        self,
        key: DatasetKey,
        versions: list[int] | None = None,
        transform=None,
        mode: str = "upsert",
    ) -> WriteResult | None:
        """Re-drive quarantined rows through the NORMAL write gate: read
        the dataset's unconsumed `_quarantine/<uuid>` splits (optionally
        only those of specific commit `versions`), apply `transform`
        (DataFrame -> DataFrame — the caller's correction), and write the
        result through `_write` — expectations are re-enforced, so rows
        still violating either raise (enforce='fail') or land in a NEW
        quarantine split (enforce='quarantine'), never silently enter
        the dataset.  Consumed splits are marked `_REQUEUED` (hidden
        marker file) AFTER the commit: `quarantine_table` reports them
        as requeued, and vacuum_tombstones ages the dirs out under the
        normal retention horizon.  Returns the write's result, or None
        when nothing was pending.  The requeue commit records
        `requeue_of: [versions]` so history ties correction to cause."""
        from dl_datalake_spark.lake.paths import dataset_marker_tag

        k = key.normalized()
        ds = self.dataset_path(k)
        log = self.commit_log(k)
        want = set(versions) if versions is not None else None
        pending: list[tuple[int, str]] = []
        markers: list[str] = []
        frames: list[DataFrame] = []
        for e in log.history():
            if want is not None and int(e["version"]) not in want:
                continue
            q = e.get("quarantine")
            if q:
                qdir = f"{ds}/_quarantine/{q}"
                if self.fs.exists(qdir) and not self.fs.exists(f"{qdir}/_REQUEUED"):
                    pending.append((int(e["version"]), qdir))
                    markers.append(f"{qdir}/_REQUEUED")
                continue
            # multi-write split: this dataset's share of the shared
            # <base>/_quarantine_multi/<txid> dir, consumed under a
            # per-dataset marker so sibling datasets requeue their own
            if e.get("multi") and e.get("expectations") and e.get("txid"):
                qdir = f"{self.base_path}/_quarantine_multi/{e['txid']}"
                marker = f"{qdir}/_REQUEUED.{dataset_marker_tag(k)}"
                if not self.fs.exists(qdir) or self.fs.exists(marker):
                    continue
                mdf = self.spark.read.option("mergeSchema", "true").parquet(qdir)
                for col, wantv in (
                    ("exchange", k.exchange), ("market", k.market),
                    ("symbol", k.symbol), ("data_type", k.data_type),
                    ("period", k.period),
                ):
                    if col in mdf.columns:
                        mdf = mdf.where(F.col(col) == wantv)
                pending.append((int(e["version"]), qdir))
                markers.append(marker)
                frames.append(mdf.drop("_violated"))
        if not pending:
            return None
        per_ds = [d for (_, d), m in zip(pending, markers) if "/_quarantine/" in d]
        df = None
        if per_ds:
            df = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*per_ds)
                .drop("_violated")
            )
        for f in frames:
            df = f if df is None else df.unionByName(f, allowMissingColumns=True)
        if transform is not None:
            df = transform(df)
        res = self._write(
            df, k, mode=mode, commit_meta={"requeue_of": [v for v, _ in pending]}
        )
        for marker in markers:
            # marked only after the commit finalized — a crash before
            # this line re-offers the split (upsert requeues are
            # idempotent; append requeues should pass txn= semantics
            # through a follow-up if needed)
            self.fs.write_bytes_atomic(marker, b"")
        return res

    def _violated_col(self) -> "F.Column":
        """Array of the row-level constraint NAMES a violator failed —
        the audit column `LakeReader.quarantine_table` serves.
        NULL-predicate rows count as violations, matching
        expectations.check's three-valued-logic rule."""
        from dl_datalake_spark.lake.expectations import Expectation

        return F.array_compact(
            F.array(
                *[
                    F.when(~F.coalesce(e.predicate, F.lit(False)), F.lit(e.name))
                    for e in self.expectations
                    if isinstance(e, Expectation)
                ]
            )
        )

    def _added_file_buckets(
        self, added: dict[str, list[str]], cmap: dict
    ) -> tuple[dict, dict]:
        """Per-added-file bucket-id sets for the point-lookup skip index
        (see `bucket_by`): ONE bucket-columns-only scan of just the
        files `added` ({root: [rel]}) names, however many roots,
        aggregating ``collect_set(pmod(xxhash64(col), n))`` per file.
        Returns ({root: {col: {rel: [ids]}}}, {col: [n_buckets, dtype]}),
        keyed by the LOGICAL names the reader's `point=` lookup uses
        (`cmap` maps them to the files' physical names)."""
        paths = {
            f"{root}/{rel}": (root, rel) for root, rels in added.items() for rel in rels
        }
        if not self.bucket_by or not paths:
            return {}, {}
        df = self.spark.read.parquet(*paths)
        phys = {c: cmap.get(c, c) for c in self.bucket_by}
        cols = [c for c in self.bucket_by if phys[c] in df.columns]
        if not cols:
            return {}, {}
        aggs = [
            F.collect_set(
                F.pmod(F.xxhash64(F.col(phys[c])), F.lit(self.bucket_by[c]))
            ).alias(f"b{i}")
            for i, c in enumerate(cols)
        ]
        rows = df.groupBy(F.col("_metadata.file_path").alias("fp")).agg(*aggs).collect()
        # `_metadata.file_path` is a qualified URI: match it by suffix,
        # among the files of the same name
        by_name: dict[str, list[str]] = {}
        for p in paths:
            by_name.setdefault(p.rpartition("/")[2], []).append(p)
        out: dict = {}
        for r in rows:
            p = next(
                (p for p in by_name.get(r["fp"].rpartition("/")[2], ())
                 if r["fp"].endswith(p)),
                None,
            )
            if p is None:
                continue
            root, rel = paths[p]
            for i, c in enumerate(cols):
                out.setdefault(root, {}).setdefault(c, {})[rel] = sorted(
                    int(x) for x in r[f"b{i}"] if x is not None
                )
        spec = {
            c: [int(self.bucket_by[c]), df.schema[phys[c]].dataType.simpleString()]
            for c in cols
        }
        return out, spec

    def _merge_keep_last(
        self, batch: DataFrame, key: DatasetKey, ts_col: str, tag_changes: bool = False
    ) -> DataFrame:
        """Union existing+new for the touched months, keep-last per ts
        (`_keep_last`).  Only the year/month partitions present in the
        incoming batch are read back — partition-pruned, so upsert cost
        is O(batch months), not O(dataset) even on a 100 TB lake.  A
        first write reads nothing back, but its batch is still
        keep-last per ts, as a repeat of the same upsert would be."""
        existing = self._read_existing(key)
        if existing is not None:
            # a null month (null-ts rows) matches no existing row
            months = [
                (r["year"], r["month"])
                for r in batch.select("year", "month").distinct().collect()
                if r["year"] is not None
            ]
            existing = existing.where(self._month_pred(months)) if months else None
        return self._keep_last(existing, batch, ts_col, tag_changes)

    @staticmethod
    def _keep_last(
        existing: DataFrame | None, batch: DataFrame, ts_col: str, tag_changes: bool
    ) -> DataFrame:
        """The keep-last merge both upserts share: per row key (symbol,
        data_type, period, ts) a batch row (_src=1) beats an existing
        row (_src=0), and one batch row wins among batch rows sharing a
        key (the reference's ``unique(subset=[ts], keep="last")``), by
        one window; with `existing` None (nothing to read back) only the
        batch rows are ranked.  A null ts is no key: it matches
        nothing — as in a SQL or Delta ``MERGE ... ON`` — so every
        null-ts batch row is kept (and tagged an insert).

        `tag_changes=True` (the CDF path) adds `_change_type`: a winning
        batch row whose ts already existed is an "update_postimage", a
        new ts an "insert", an unchanged existing row NULL.  The
        existence test is one extra aggregate over the SAME window
        partitioning the keep-last rank uses — no additional shuffle."""
        unioned = batch.withColumn("_src", F.lit(1))
        if existing is not None:
            unioned = existing.withColumn("_src", F.lit(0)).unionByName(
                unioned, allowMissingColumns=True
            )
        wf = Window.partitionBy("symbol", "data_type", "period", ts_col)
        ranked = unioned.withColumn(
            "_rn", F.row_number().over(wf.orderBy(F.desc("_src")))
        )
        if tag_changes:
            had_old = F.max(F.when(F.col("_src") == 0, 1).otherwise(0)).over(wf)
            ranked = ranked.withColumn(
                "_change_type",
                F.when(
                    (F.col("_src") == 1) & F.col(ts_col).isNotNull() & (had_old == 1),
                    F.lit("update_postimage"),
                ).when(F.col("_src") == 1, F.lit("insert")),
            )
        return ranked.where(
            (F.col("_rn") == 1) | F.col(ts_col).isNull()
        ).drop("_rn", "_src")

    def _overwrite_tag_changes(
        self, batch: DataFrame, key: DatasetKey, ts_col: str
    ) -> DataFrame:
        """CDF tagging for mode=overwrite: the dynamic partition
        replacement makes each touched month's final state == the batch,
        so the row-level diff vs the pre-state is — per row key
        (symbol, data_type, period, ts) — batch row with existing key →
        update_postimage, batch row with new key → insert, pre-state row
        whose key vanishes → a `delete` PRE-IMAGE row (its old values).
        Without the deletes a non-idempotent feed consumer would
        silently retain rows the overwrite removed (round-6 ADVICE;
        Delta's CDF emits delete pre-images for overwritten data).

        Same month-pruned union + single window shuffle as
        _merge_keep_last — O(touched months), not O(dataset). Returned
        rows: every batch row (tagged) plus the delete pre-images;
        _stage_write routes deletes to the feed only.
        """
        existing = self._read_existing(key)
        if existing is None:
            return batch.withColumn("_change_type", F.lit("insert"))
        months = [
            (r["year"], r["month"])
            for r in batch.select("year", "month").distinct().collect()
        ]
        if not months:
            return batch.withColumn("_change_type", F.lit("insert"))
        month_pred = F.lit(False)
        for y, m in months:
            month_pred = month_pred | ((F.col("year") == y) & (F.col("month") == m))
        old = existing.where(month_pred).withColumn("_src", F.lit(0))
        new = batch.withColumn("_src", F.lit(1))
        unioned = old.unionByName(new, allowMissingColumns=True)
        wf = Window.partitionBy("symbol", "data_type", "period", ts_col)
        tagged = unioned.withColumn(
            "_had_old", F.max(F.when(F.col("_src") == 0, 1).otherwise(0)).over(wf)
        ).withColumn(
            "_had_new", F.max(F.when(F.col("_src") == 1, 1).otherwise(0)).over(wf)
        )
        change = (
            F.when(
                (F.col("_src") == 1) & (F.col("_had_old") == 1),
                F.lit("update_postimage"),
            )
            .when(F.col("_src") == 1, F.lit("insert"))
            .when(F.col("_had_new") == 0, F.lit("delete"))
        )
        return (
            tagged.withColumn("_change_type", change)
            # superseded pre-images (_src=0 with a replacing batch row)
            # drop out here, matching the upsert path's postimage-only feed
            .where(F.col("_change_type").isNotNull())
            .drop("_src", "_had_old", "_had_new")
        )

    CDF_DIR = "_cdf"

    def cdf_path(self, key: DatasetKey) -> str:
        return f"{self.dataset_path(key.normalized())}/{self.CDF_DIR}"

    def _align_cdf_types(self, cdf: DataFrame, log: CommitLog) -> DataFrame:
        """Losslessly cast a change-feed frame's columns up to the
        table contract's types before writing it.  A DML's data-file
        frame often reaches the table type by UNION COERCION with kept
        rows (int assignment ∪ double column → double), but the feed
        frame is built from the changed rows alone and would otherwise
        serve narrower types than the data files of the same commit.
        Columns outside the contract (_change_type, partition identity)
        pass through; incompatible types were already rejected by
        _enforce_dml_contract on the written frame."""
        from dl_datalake_spark.lake import schema as _sc

        table = log.schema_at(None)
        if table is None:
            return cdf
        fp = _sc.fingerprint(cdf)
        ups = {
            c: table[c]
            for c, t in fp.items()
            if c in table and t != table[c] and _sc.can_upcast(t, table[c])
        }
        return _sc.apply_upcasts(cdf, ups)

    def _write_cdf(self, key: DatasetKey, version: int, rows: DataFrame) -> int:
        """One parquet dir per commit under the dataset's hidden `_cdf/`
        tree (underscore prefix: data scans never see it).  mode=
        overwrite so a version number re-claimed after an aborted
        transaction replaces the orphan's rows instead of appending.
        Returns the delta's BYTE SIZE — commits record it (`cdf_bytes`)
        so the lake_cdf stream's byte-based admission control can
        budget a catch-up without listing the feed tree per poll."""
        d = f"{self.cdf_path(key)}/commit_version={int(version)}"
        rows.write.mode("overwrite").option("compression", "snappy").parquet(d)
        return self._dir_bytes(d)

    def _dir_bytes(self, d: str) -> int:
        return sum(
            self.fs.getsize(f"{d}/{n}")
            for n in self.fs.listdir(d)
            if n.endswith(".parquet")
        )

    def _merge_keep_last_multi(
        self,
        batch: DataFrame,
        keys: list[DatasetKey],
        ts_col: str,
        triples: list[tuple],
        tag_changes: bool = False,
    ) -> DataFrame:
        """Multi-dataset keep-last merge: ONE read-back over every
        existing touched dataset subtree (still pruned to the batch's
        year/month partitions), one union, one window. The keep-last
        window partitions by symbol as well, so per-symbol precedence
        is identical to N separate _merge_keep_last calls.

        `tag_changes=True` (the CDF path) adds `_change_type` through the
        same `_keep_last` — the window already partitions by symbol, so
        the tags are per-dataset correct."""
        # per-dataset snapshot resolution: a pinned dataset contributes
        # exactly its live files (a raw subtree scan would merge in
        # tombstones and resurrect replaced/deleted rows) through its
        # deletion vectors (a DV-deleted row must not come back when its
        # month is rewritten — the anti-join `grouped_scan` applies);
        # legacy datasets contribute their directory.  Contracted
        # datasets scan through their recorded schema (lake/schema.py) —
        # a merge_schema-widened dataset holds mixed INT32/INT64 files
        # that a mergeSchema footer merge CANNOT read
        # (CANNOT_MERGE_SCHEMAS); grouped by DDL so same-contract
        # datasets still share one scan relation.  write_ohlc_multi
        # refuses column-mapped datasets up front, so physical names
        # ARE logical names here.
        from dl_datalake_spark.lake import dv as dvmod
        from dl_datalake_spark.lake.schema import contract_read

        # {ddl: (scan paths, DV file keys, DV dirs)}
        by_ddl: dict[str | None, tuple[list, list, list]] = {}
        for k in keys:
            p = self.dataset_path(k)
            live = resolve_live_files(self.fs, p)
            if live is None:
                if has_visible_children(self.fs, p):
                    by_ddl.setdefault(None, ([], [], []))[0].append(p)
            elif live:
                log = CommitLog(p, fs=self.fs)
                contract = contract_read(log, self.base_path, p, live[0])
                group = by_ddl.setdefault(
                    contract[0] if contract is not None else None, ([], [], [])
                )
                group[0].extend(f"{p}/{rel}" for rel in live)
                dv_map = log.dv_at(None)
                if dv_map:
                    dv_keys, dv_dirs = dvmod.plan_dv(p, self.base_path, live, dv_map)
                    group[1].extend(dv_keys)
                    group[2].extend(dv_dirs)
        # a null month (null-ts rows) matches no existing row
        triples = [t for t in triples if t[1] is not None]
        if not by_ddl or not triples:
            # nothing to merge against: keep-last within the batch only
            return self._keep_last(None, batch, ts_col, tag_changes)
        # Prune PER SYMBOL, not by the global month union: with a skewed
        # batch (one symbol touching many months, others one), a global
        # month predicate reads back and identically rewrites partitions
        # of symbols that never touched those months — pure write
        # amplification.  The (symbol, year, month) triples actually in
        # the batch are exactly the partitions the keep-last merge may
        # change; everything else stays untouched on disk (dynamic
        # partition overwrite only replaces partitions present in the
        # output).  Bounded driver state: symbols x months, the same
        # cardinality the dynamic-overwrite commit enumerates anyway.
        pred = F.lit(False)
        if len(triples) <= _MULTI_PRUNE_TRIPLES:
            for s, y, m in triples:
                pred = pred | (
                    (F.col("symbol") == s) & (F.col("year") == y) & (F.col("month") == m)
                )
        else:
            # Predicate-size fallback for very wide batches: static
            # per-month pruning (correct, coarser — bounded read
            # amplification instead of a 10k-term Catalyst expression).
            # It reads back, and so rewrites, whole months of symbols
            # the batch did not touch there; the commit drops the old
            # files of every month the staged files hold, so those rows
            # are replaced, never duplicated.
            pred = self._month_pred({(y, m) for _, y, m in triples})
        existing = None
        for ddl, (srcs, dv_keys, dv_dirs) in by_ddl.items():
            # without DVs this is the group's one plain scan relation
            part = dvmod.scan_with_dv(
                self.spark, self.base_path, srcs, dv_keys, dv_dirs, fs=self.fs,
                schema_ddl=ddl,
            )
            existing = (
                part
                if existing is None
                else existing.unionByName(part, allowMissingColumns=True)
            )
        return self._keep_last(existing.where(pred), batch, ts_col, tag_changes)

    def _read_existing(self, key: DatasetKey) -> DataFrame | None:
        """Scan ONLY this dataset's subtree: no whole-lake listing, no
        cross-dataset schema merging — upsert cost is bounded by the
        dataset, not the lake.  Reads the commit-pinned live file list
        when one exists (lake/snapshot.py) — a directory scan would
        merge in superseded tombstone files and resurrect deleted or
        replaced rows."""
        from dl_datalake_spark.lake.spec import grouped_scan

        path = self.dataset_path(key)
        live = resolve_live_files(self.fs, path)
        if live is not None:
            # grouped_scan (lake/spec.py): per-spec-epoch scan groups
            # under the contract read (logical names, widened types,
            # retired physical columns EXCLUDED so dropped bytes never
            # leak into CDF pre-images or fresh files) with deletion
            # vectors anti-joined per group — DV-removed rows must be
            # invisible to every rewrite that reads existing data, or
            # an upsert/overwrite/CoW-delete would RESURRECT them
            return grouped_scan(
                self.spark, self.base_path, path, live,
                CommitLog(path, fs=self.fs), self.fs,
            )
        if not has_visible_children(self.fs, path):
            return None  # first write for this dataset
        return (
            self.spark.read.option("mergeSchema", "true")
            .option("basePath", self.base_path)
            .parquet(path)
        )

    def dataset_path(self, key: DatasetKey) -> str:
        k = key.normalized()
        return (
            f"{self.base_path}/exchange={k.exchange}/market={k.market}/symbol={k.symbol}"
            f"/data_type={k.data_type}/period={k.period}"
        )
