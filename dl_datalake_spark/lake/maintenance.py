"""Integrity verification, gap detection, audit, compaction.

Reference parity:
- gap/overlap detection via lag-diff vs modal interval
  (`ingest/pipeline.py:120-216`);
- post-write verify: row count + ts monotonicity (`writer.py:108-132`);
- audit: orphan files / dead links via set difference
  (`tests/integration/test_09_audit.py:26-53`) → anti-joins here;
- compaction: the reference left `daily_offload_flow` an empty
  placeholder (`orchestration/flows.py:127-130`) — implemented here as
  a partition-preserving rewrite.

Scale: every check is a distributed plan — the lag window partitions by
dataset key so no global single-partition sort materializes at 100 TB.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dl_datalake_spark.lake.fs import Filesystem, get_fs, has_visible_children
from dl_datalake_spark.lake.manifest import ManifestManager
from dl_datalake_spark.lake.paths import IDENTITY_COLS, PARTITION_COLS
from dl_datalake_spark.lake.snapshot import (
    file_sizes,
    list_data_files,
    resolve_live_files,
)


@dataclass
class IntegrityReport:
    rows: int
    gap_count: int
    overlap_count: int
    modal_interval_ms: int | None
    monotonic: bool


_KEY = ["exchange", "market", "symbol", "data_type", "period"]


def with_ts_diff(df: DataFrame, ts_col: str = "ts", partition_cols=None) -> DataFrame:
    cols = [c for c in (partition_cols or _KEY) if c in df.columns]
    w = Window.partitionBy(*cols).orderBy(ts_col) if cols else Window.orderBy(ts_col)
    return df.withColumn("diff", F.col(ts_col) - F.lag(ts_col, 1).over(w))


def modal_interval(df: DataFrame, diff_col: str = "diff") -> int | None:
    """Most frequent ts delta — infers the candle interval
    (pipeline.py:186 used Polars mode())."""
    row = (
        df.where(F.col(diff_col).isNotNull())
        .groupBy(diff_col)
        .count()
        .orderBy(F.desc("count"), F.asc(diff_col))
        .first()
    )
    return None if row is None else row[diff_col]


def verify_integrity(df: DataFrame, ts_col: str = "ts") -> IntegrityReport:
    d = with_ts_diff(df, ts_col)
    mode = modal_interval(d)
    agg = d.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("diff") > (mode if mode is not None else 0), 1).otherwise(0)).alias("gaps")
        if mode is not None
        else F.lit(0).alias("gaps"),
        F.sum(F.when(F.col("diff") <= 0, 1).otherwise(0)).alias("overlaps"),
        F.sum(F.when(F.col("diff") < 0, 1).otherwise(0)).alias("nonmono"),
    ).collect()[0]
    return IntegrityReport(
        rows=agg["rows"],
        gap_count=int(agg["gaps"] or 0),
        overlap_count=int(agg["overlaps"] or 0),
        modal_interval_ms=mode,
        monotonic=int(agg["nonmono"] or 0) == 0,
    )


def find_gaps(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Rows that start after a gap (diff > modal interval)."""
    d = with_ts_diff(df, ts_col)
    mode = modal_interval(d)
    if mode is None:
        return d.limit(0)
    return d.where(F.col("diff") > mode)


def _dataset_prefix(leaf_dir: str) -> str:
    """Strip the year=/month= partition levels: audit compares at the
    dataset granularity the manifest catalogs (one row per dataset)."""
    parts = leaf_dir.split("/")
    kept = [p for p in parts if not (p.startswith("year=") or p.startswith("month="))]
    return "/".join(kept)


def _in_hidden_tree(root: str, base: str) -> bool:
    """True iff `root` sits under a hidden (`_`/`.`-prefixed) segment
    RELATIVE to the lake base.  Control trees holding parquet — the
    row-level change feed under `<dataset>/_cdf/commit_version=N` — are
    invisible to Spark's own scans but NOT to a raw file walk; without
    this guard audit/vacuum would flag every change feed as an orphan
    (and delete it), and compaction would rewrite it as a dataset."""
    rel = root[len(base):].lstrip("/") if root.startswith(base) else root
    return any(seg.startswith(("_", ".")) for seg in rel.split("/") if seg)


def audit(
    spark: SparkSession,
    base_path: str,
    manifest: ManifestManager,
    fs: Filesystem | None = None,
) -> dict[str, DataFrame]:
    """Orphans (on disk, not cataloged) and dead links (cataloged, gone)
    — the reference's set-difference fsck (test_09_audit.py:26-53) as
    anti-joins over metadata. Returns the anti-join DataFrames unrealized:
    a 100 TB lake can hold millions of dataset paths, so callers decide
    how much to materialize (see audit_lists for the bounded CLI path).
    """
    fs = fs if fs is not None else get_fs(base_path, spark)
    base = base_path.rstrip("/")
    disk = set()
    for root, f in fs.walk_files(base):
        if f.endswith(".parquet") and not _in_hidden_tree(root, base):
            disk.add(_dataset_prefix(root))
    disk_df = spark.createDataFrame([(p,) for p in sorted(disk)] or [("",)], ["path"]).where(
        F.col("path") != ""
    )
    man_df = manifest.load().select("path").distinct()
    return {
        "orphan_files": disk_df.join(man_df, "path", "left_anti"),
        "dead_links": man_df.join(disk_df, "path", "left_anti"),
    }


def audit_lists(
    spark: SparkSession,
    base_path: str,
    manifest: ManifestManager,
    limit: int | None = 10_000,
    fs: Filesystem | None = None,
) -> dict[str, list[str]]:
    """Driver-side view of audit() for the CLI/API: sorted path lists,
    capped at `limit` per category so a badly drifted lake can't blow
    driver memory (limit=None for the full set)."""
    frames = audit(spark, base_path, manifest, fs=fs)
    out = {}
    for name, df in frames.items():
        df = df.orderBy("path")
        if limit is not None:
            df = df.limit(limit)
        out[name] = [r["path"] for r in df.collect()]
    return out


def _copy_commit_log(
    fs: Filesystem, src_dataset: str, dst_dataset: str, committed_only: bool
) -> None:
    """Copy a dataset's `_commits/` directory (tiny JSON control files)
    into the compacted tree.  `committed_only=True` (the export path)
    skips in-flight claims and rolled-aside `.abandoned.*` markers so the
    exported tree never ships a claim that can't finalize there — a
    writer on the copy would otherwise block `stale_timeout_s` on a
    ghost.  The in-place path copies EVERYTHING: compaction's own claims
    must survive the swap (finalize lands in the swapped-in tree), and
    abandoned markers are the fencing audit trail."""
    import json as _json

    from dl_datalake_spark.lake.commitlog import LOG_DIR

    src_log = f"{src_dataset}/{LOG_DIR}"
    dst_log = f"{dst_dataset}/{LOG_DIR}"
    names = fs.listdir(src_log)
    if not names:
        return
    fs.makedirs(dst_log)
    for name in names:
        try:
            data = fs.read_bytes(f"{src_log}/{name}")
        except OSError:
            continue  # rolled aside / pruned mid-copy
        if committed_only:
            if ".abandoned." in name or ".fence." in name:
                continue
            try:
                if _json.loads(data).get("status") != "committed":
                    continue
            except ValueError:
                continue
        fs.write_bytes_atomic(f"{dst_log}/{name}", data)


def _copy_tree(fs: Filesystem, src: str, dst: str) -> None:
    """Byte-copy every file under `src` into the same relative layout
    under `dst`; no-op if `src` doesn't exist.  Driver-side, intended
    for small control trees (change-feed parquet, commit metadata)."""
    src = src.rstrip("/")
    if not fs.isdir(src):
        return
    for root, name in fs.walk_files(src):
        rel = root[len(src):].lstrip("/")
        target_dir = f"{dst}/{rel}".rstrip("/")
        try:
            data = fs.read_bytes(f"{root}/{name}")
        except OSError:
            continue
        fs.makedirs(target_dir)
        fs.write_bytes_atomic(f"{target_dir}/{name}", data)


def compact(
    spark: SparkSession,
    base_path: str,
    target_files_per_partition: int = 1,
    in_place: bool = False,
    fs: Filesystem | None = None,
    commit_timeout_s: float = 60.0,
    datasets: list[str] | None = None,
) -> str:
    """Partition-preserving small-file compaction (reference:
    unimplemented placeholder, flows.py:127-130). Rewrites every
    partition to `target_files_per_partition` ts-sorted files — the
    OPTIMIZE analogue that keeps monthly partitions from fragmenting
    under incremental upserts.

    in_place=True swaps the compacted tree over the original with two
    directory renames (readers in flight keep their already-opened
    files; new reads see the compacted layout). The manifest catalogs
    dataset DIRECTORIES, not files, so no catalog rewrite is needed.
    Returns the path now holding the compacted data.

    Durability contract (the round-5 CDC-stall bug, fixed here):

    - Every dataset's `_commits/` log is COPIED into the compacted tree
      before the swap, so version numbering, fencing history, and CDC
      cursors all survive — previously the swap silently reset
      `latest_version` to -1 and every `changes_since` consumer whose
      cursor predated compaction saw "no changes" forever.
    - Compaction runs inside a commit-log TRANSACTION on every touched
      dataset (claims held across rewrite + copy + swap), so a
      concurrent writer blocks until the swap lands (or times out with
      CommitTimeout) instead of committing into the doomed old tree.
    - Each dataset records a `mode="compact"` commit with
      `partitions: []` — data is byte-identical, so CDC consumers
      advance their cursor and rebuild nothing (reader.changes_since
      returns an empty slice for zero-partition commits).

    `datasets=` (dataset-relative paths, as `plan_maintenance` reports
    them) scopes the rewrite to just those datasets; with
    `in_place=True` a scoped compact swaps each dataset DIRECTORY
    individually (never the lake base), so one fragmented dataset never
    forces a lake-wide rename.  `in_place=True` is refused outright on
    object-store schemes whose rename is copy+delete (a failure
    mid-swap would leave the tree half-moved) — export with
    `in_place=False` and flip the manifest pointer there instead.
    """
    import uuid as _uuid
    from contextlib import ExitStack

    from dl_datalake_spark.lake.commitlog import LOG_DIR, CommitLog
    from dl_datalake_spark.lake.spec import (
        derive_spec_cols,
        ghost_cols,
        grouped_scan,
    )

    fs = fs if fs is not None else get_fs(base_path, spark)
    if in_place and not getattr(fs, "ATOMIC_RENAME", True):
        raise ValueError(
            "compact(in_place=True) needs atomic directory rename; "
            f"{base_path} resolves to an object-store filesystem whose "
            "rename is copy+delete — a mid-swap failure would leave the "
            "tree half-moved. Use in_place=False and re-point the "
            "manifest at the exported tree."
        )
    base = base_path.rstrip("/")
    # One rewrite PER DATASET directory: a single mergeSchema read of the
    # whole lake would rewrite every dataset with the UNION schema of all
    # of them (ticks gaining OHLC columns as nulls, etc.). mergeSchema
    # stays on *within* a dataset so its own schema evolution survives.
    # Datasets with a commit log but no parquet left (a delete emptied
    # them) still carry history that must survive the swap, so discovery
    # covers both.
    data_datasets = sorted(
        {
            _dataset_prefix(root)
            for root, f in fs.walk_files(base)
            if f.endswith(".parquet") and not _in_hidden_tree(root, base)
        }
    )
    logged_datasets = sorted(
        {
            root[: -len("/" + LOG_DIR)]
            for root, f in fs.walk_files(base)
            if root.endswith("/" + LOG_DIR)
        }
    )
    scoped = datasets is not None
    if scoped:
        wanted_abs = {f"{base}/{rel.strip('/')}" for rel in datasets}
        known = set(data_datasets) | set(logged_datasets)
        unknown = sorted(wanted_abs - known)
        if unknown:
            raise ValueError(
                f"compact: unknown dataset(s) under {base}: "
                + ", ".join(p[len(base) + 1 :] for p in unknown)
            )
        data_datasets = [d for d in data_datasets if d in wanted_abs]
        logged_datasets = [d for d in logged_datasets if d in wanted_abs]
        if not wanted_abs:
            return base
    datasets = sorted(set(data_datasets) | set(logged_datasets))
    out = base + "_compacted"
    fs.rmtree(out)
    with ExitStack() as stack:
        # Claim a commit slot on every dataset for the whole operation —
        # the same serialization every writer obeys, so no write can land
        # in the old tree after its files were rewritten.  Sorted order
        # matches the multi-dataset writer's claim order (no deadlock);
        # a held slot surfaces as CommitTimeout, never a silent race.
        metas = {
            ds: stack.enter_context(
                CommitLog(ds, fs=fs).transaction(
                    timeout=commit_timeout_s,
                    payload={"mode": "compact", "partitions": []},
                )
            )
            for ds in datasets
        }
        for ds in data_datasets:
            # scan the committed SNAPSHOT, not the raw subtree: a raw
            # mergeSchema read would fold tombstoned files (superseded
            # by upserts/deletes, awaiting vacuum) back in and the
            # compacted tree would resurrect dead rows
            live = resolve_live_files(fs, ds)
            if live is not None and not live:
                continue  # pinned-empty dataset: nothing to rewrite
            spec = ("year", "month")
            if live is None:
                # legacy dataset: directory scan (mixed layouts cannot
                # exist without a commit log to evolve the spec)
                df = (
                    spark.read.option("mergeSchema", "true")
                    .option("basePath", base)
                    .parquet(ds)
                )
            else:
                # grouped_scan (lake/spec.py): per-spec-epoch groups
                # under the contract read (widened types served,
                # retired physical columns excluded) with deletion
                # vectors materialized — physical column names in,
                # physical names out (logical=False), so the copied
                # commit log's column_map stays valid for the
                # rewritten tree
                log_ds = CommitLog(ds, fs=fs)
                df = grouped_scan(
                    spark, base, ds, live, log_ds, fs, logical=False
                )
                # the rewrite targets the HEAD spec: compaction is the
                # incremental migration tool after set_partition_spec
                spec = log_ds.partition_spec_at(None)
                df = derive_spec_cols(df, spec)
            part_cols = [
                c
                for c in (
                    *PARTITION_COLS,
                    *(c for c in spec if c not in PARTITION_COLS),
                )
                if c in df.columns
            ]
            # a finer DIRECTORY level the head spec does NOT want (a
            # daily->monthly downgrade) must not leak into the data
            # files as a ghost column (spec.ghost_cols: judged by Hive
            # signatures, so a contract DATA column named `day`
            # survives)
            ghost = ghost_cols(live, part_cols) if live is not None else []
            if ghost:
                df = df.drop(*ghost)
            (
                df.repartition(target_files_per_partition, *part_cols)
                .sortWithinPartitions("ts")
                .write.partitionBy(*part_cols)
                .mode("append")  # datasets occupy disjoint partition subtrees
                .option("compression", "snappy")
                .parquet(out)
            )
        for ds in datasets:
            rel = ds[len(base) + 1 :] if ds.startswith(base + "/") else None
            if rel is None:
                continue  # defensive: never copy outside the lake root
            _copy_commit_log(fs, ds, f"{out}/{rel}", committed_only=not in_place)
            # the hidden row-level change feed (_cdf/) is invisible to the
            # parquet rewrite above — carry it over or compaction would
            # truncate every CDF consumer's history (the same destruction
            # class as the commit-log bug this function fixes)
            _copy_tree(fs, f"{ds}/_cdf", f"{out}/{rel}/_cdf")
            # re-pin the snapshot to the COMPACTED file names: the copied
            # log's latest pinned list references the pre-compaction
            # files, which don't exist in the rewritten tree — a reader
            # resolving it would die on the first scan
            compacted_files = list_data_files(fs, f"{out}/{rel}")
            fbytes = file_sizes(fs, f"{out}/{rel}", compacted_files)
            # fresh data-skipping stats for the rewritten files: without
            # them every post-compaction bounded read would scan the
            # whole dataset again (compacted files are exactly the ones
            # a deployment reads most) — read from the rewrite's footers
            fstats, colstats = {}, {}
            if compacted_files and ds in data_datasets:
                from dl_datalake_spark.lake.snapshot import added_file_stats

                # carry the generalized column index through compaction:
                # whatever columns the dataset's retained commits indexed
                # (writer stats_cols / recluster) get re-recorded for the
                # rewritten files, so a compact never silently disables
                # column-bounded file skipping
                idx_cols = tuple(
                    sorted(
                        {
                            c
                            for e in CommitLog(ds, fs=fs).history()
                            for c in (e.get("col_stats") or {})
                        }
                    )
                )
                # a dataset without a ts column simply gets no ts entries
                got = added_file_stats(
                    fs, {f"{out}/{rel}": compacted_files}, extra_cols=idx_cols
                )
                fstats, cmap = got if idx_cols else (got, {})
                fstats = fstats.get(f"{out}/{rel}", {})
                colstats = cmap.get(f"{out}/{rel}", {})
            if in_place:
                # rides the held transaction: finalizes (after the swap)
                # as this dataset's compact commit in the swapped-in tree
                metas[ds]["files"] = compacted_files
                if fstats:
                    metas[ds]["file_stats"] = fstats
                if fbytes:
                    metas[ds]["file_bytes"] = fbytes
                if colstats:
                    metas[ds]["col_stats"] = colstats
            else:
                # exported tree: its copied log is live-claim-free
                # (committed_only), so pin via a fresh commit inside it
                payload = {
                    "mode": "compact",
                    "partitions": [],
                    "files": compacted_files,
                }
                if fstats:
                    payload["file_stats"] = fstats
                if colstats:
                    payload["col_stats"] = colstats
                if fbytes:
                    payload["file_bytes"] = fbytes
                with CommitLog(f"{out}/{rel}", fs=fs).transaction(
                    timeout=commit_timeout_s,
                    payload=payload,
                ):
                    pass
        if not in_place:
            # Export: finalizing (on `with` exit) records the compact
            # commit in the ORIGINAL tree — an audit row whose empty
            # partition set CDC consumers skip.
            return out
        if scoped:
            # Scoped in-place: swap each dataset DIRECTORY individually —
            # the unselected datasets never move, and each swap window is
            # two renames on one subtree.  The displaced original parks
            # under a hidden (`.`-prefixed) sibling so an in-flight scan
            # of the lake base never sees a conflicting partition value.
            for ds in datasets:
                rel = ds[len(base) + 1 :]
                parent, _, leaf = ds.rpartition("/")
                old = f"{parent}/.{leaf}.precompact.{_uuid.uuid4().hex}"
                fs.rename(ds, old)
                try:
                    fs.rename(f"{out}/{rel}", ds)
                except BaseException:
                    fs.rename(old, ds)
                    raise
                log_dir = f"{ds}/{LOG_DIR}"
                try:
                    for name in fs.listdir(log_dir):
                        if ".abandoned." in name:
                            continue
                        try:
                            fs.touch(f"{log_dir}/{name}")
                        except OSError:
                            pass
                except OSError:
                    pass
                fs.rmtree(old)
            fs.rmtree(out)  # only empty parent scaffolding remains
            return base
        # In-place swap: atomic renames on POSIX/HDFS; on S3A rename is
        # copy+delete, so there prefer in_place=False + a manifest pointer
        # flip to the compacted tree.  The held claims were copied into
        # `out`, so the finalize after the swap completes them in the
        # swapped-in tree — version history continues seamlessly.
        # CONSTRAINT (round-6 ADVICE): while neither tree is at `base`,
        # the per-dataset heartbeat threads' touch() raises and each
        # thread exits PERMANENTLY — the swap window must stay tiny (two
        # renames, as here). After the swap the held claims in the
        # swapped-in tree would otherwise age toward stale_timeout_s
        # with no heartbeat during a long rmtree/finalize, open to
        # usurpation — so re-touch every claim + fence before rmtree.
        old = base + f".precompact.{_uuid.uuid4().hex}"
        fs.rename(base, old)
        try:
            fs.rename(out, base)
        except BaseException:
            fs.rename(old, base)  # restore the original tree, then fail
            raise
        for ds in datasets:
            log_dir = f"{ds}/{LOG_DIR}"
            try:
                for name in fs.listdir(log_dir):
                    if ".abandoned." in name:
                        continue  # their age gates TTL pruning — leave it
                    try:
                        fs.touch(f"{log_dir}/{name}")
                    except OSError:
                        pass
            except OSError:
                pass
        fs.rmtree(old)
    return base


def vacuum(
    spark: SparkSession,
    base_path: str,
    manifest: ManifestManager,
    dry_run: bool = True,
    fs: Filesystem | None = None,
) -> dict[str, list[str]]:
    """Reclaim the audit's findings: delete orphan dataset directories
    (files on disk the catalog doesn't know) and drop dead links
    (catalog rows whose files are gone). The reference only *detects*
    both (test_09_audit.py); the Delta-lake analogue is VACUUM +
    FSCK REPAIR. dry_run=True (default) reports without touching
    anything — destructive maintenance should never be the default.
    """
    fs = fs if fs is not None else get_fs(base_path, spark)
    report = audit_lists(spark, base_path, manifest, limit=None, fs=fs)
    if dry_run:
        return report
    root = os.path.realpath(base_path) if "://" not in base_path else base_path.rstrip("/")
    for orphan in report["orphan_files"]:
        # audit paths are dataset prefixes under base_path; refuse
        # anything that escaped the lake root (os.sep suffix so a
        # sibling like `<base>_manifest` can't pass a prefix check)
        full = orphan if (os.path.isabs(orphan) or "://" in orphan) else os.path.join(base_path, orphan)
        rp = os.path.realpath(full) if "://" not in full else full
        if rp.startswith(root + os.sep):  # strict subdir: never the root itself
            fs.rmtree(full)
    for dead in report["dead_links"]:
        manifest.delete_entries(path=dead)
    return report


def recluster(
    spark: SparkSession,
    dataset_path: str,
    cols: list[str],
    files_per_month: int = 1,
    bits: int = 6,
    fs: Filesystem | None = None,
    commit_timeout_s: float = 60.0,
    base_path: str | None = None,
) -> dict:
    """Z-order recluster of ONE dataset as an MVCC commit — Delta's
    ``OPTIMIZE ZORDER BY`` (VERDICT r7 #2): read the pinned snapshot,
    rewrite each month partition as ~`files_per_month` files sorted by
    the Morton key of `cols` (lake/clustering.py), APPEND the new files
    (the old ones become tombstones under the usual vacuum retention),
    pin the new live list, and record per-added-file [min, max] stats
    for ts AND every clustered column in the commit payload
    (`col_stats`).  A later scan bounded on any clustered column then
    prunes files from the COMMIT INDEX before a single parquet footer
    RPC — at 1e5 files that is 1e5 saved metadata round-trips per
    query, on top of the row-group pruning the tight sort already buys.

    Runs inside the dataset's commit transaction (concurrent writers
    serialize behind it); records ``mode="recluster"`` with
    ``partitions: []`` so CDC/CDF consumers advance without replay —
    data is row-identical, only the layout changed.  Returns
    {"files_before": n, "files_after": m}."""
    from dl_datalake_spark.lake.clustering import zorder_key
    from dl_datalake_spark.lake.commitlog import CommitLog
    from dl_datalake_spark.lake.writer import LakeWriter

    fs = fs if fs is not None else get_fs(dataset_path, spark)
    ds = dataset_path.rstrip("/")
    log = CommitLog(ds, fs=fs)
    with log.transaction(
        timeout=commit_timeout_s, payload={"mode": "recluster"}
    ) as meta:
        live = resolve_live_files(fs, ds)
        if live is None:
            raise ValueError(
                f"recluster needs a pinned snapshot; {ds} has no commit-pinned "
                "file list (legacy dataset) — write through LakeWriter first"
            )
        if not live:
            meta.update(partitions=[], files=[])
            return {"files_before": 0, "files_after": 0}
        # the snapshot as defined (`spec.grouped_scan`): per-spec-epoch
        # groups under the recorded contract (widened types served,
        # retired columns excluded), logical names for the caller's
        # cluster columns and the recorded col_stats (reader bounds
        # look up logical keys), and the deletion vectors applied — the
        # rewrite materializes them and the fresh pin retires the refs
        # (carry-forward filters the map to the new files -> empty)
        from dl_datalake_spark.lake.paths import lake_base_of
        from dl_datalake_spark.lake.spec import (
            derive_spec_cols,
            ghost_cols,
            grouped_scan,
        )

        base = base_path.rstrip("/") if base_path is not None else lake_base_of(ds)
        spec = log.partition_spec_at(None)
        df = derive_spec_cols(grouped_scan(spark, base, ds, live, log, fs), spec)
        # a finer DIRECTORY level the HEAD spec does not want (daily->
        # monthly downgrade) must not ride into the rewritten files as a
        # ghost data column (spec.ghost_cols: judged by Hive signatures,
        # so a contract DATA column named `day` survives); the identity
        # levels are directories of the dataset itself
        df = df.drop(*ghost_cols(live, spec), *IDENTITY_COLS)
        to_physical = {lg: ph for lg, ph in log.column_map_at(None).items() if lg != ph}
        months = df.select(*spec).distinct().count()
        keyed = zorder_key(df, cols, bits)
        out_df = (
            keyed.repartitionByRange(
                max(1, files_per_month * months), *spec, "zval"
            )
            .sortWithinPartitions(*spec, "zval")
            .drop("zval")
        )
        if to_physical:
            out_df = out_df.withColumnsRenamed(to_physical)
        # the writer's one staging path: stage, stat under the PHYSICAL
        # names while recording the LOGICAL keys reader bounds look up,
        # and land under this claim
        staged = LakeWriter(spark, base, fs=fs, stats_cols=cols).land_rewrite(
            ds,
            meta,
            lambda d: out_df.write.partitionBy(*spec)
            .mode("append")
            .option("compression", "snappy")
            .parquet(d),
            to_physical,
        )
        meta["partitions"] = []
    return {"files_before": len(live), "files_after": len(staged.added)}


def vacuum_tombstones(
    spark: SparkSession,
    base_path: str,
    retention_s: float = 7 * 86400.0,
    dry_run: bool = True,
    fs: Filesystem | None = None,
    staging_ttl_s: float = 6 * 3600.0,
) -> dict[str, list[str]]:
    """Reclaim superseded data files left by the MVCC write protocol
    (lake/snapshot.py) — the Delta-VACUUM analogue.

    Writers never delete data files: an upsert/overwrite/delete_where
    drops the replaced files from the commit's pinned live list and
    leaves them on disk as TOMBSTONES so a concurrent reader pinned to
    an earlier commit keeps every file its plan references. This sweep
    removes, per dataset with a pinned list, every visible data file
    that is (a) absent from the CURRENT live list and (b) SUPERSEDED
    more than `retention_s` ago (default 7 days, Delta's default
    horizon) — the window inside which an in-flight query might still
    scan it. Supersession time is derived from the commit history (the
    `committed_at` of the entry whose `files_remove` / checkpoint diff
    dropped the file — Delta's remove-action deletionTimestamp), NOT
    from the file's mtime: a year-old file that an upsert tombstoned
    seconds ago is still inside the horizon, so a reader pinned to the
    previous commit (or `read_dataset_at` on a recent version) never
    loses files mid-scan. Files with no recorded removal commit
    (history pruned past their supersession, or written by an external
    tool) fall back to mtime age. Month/year partition dirs emptied by
    the sweep are pruned. Datasets without a pinned list (legacy) are
    untouched: their directory contents ARE their live state.

    dry_run=True (default) reports without deleting. Returns
    {"removed": [...], "retained": [...]} (retained = tombstones still
    inside the retention horizon).
    """
    import time as _time

    from dl_datalake_spark.lake.commitlog import LOG_DIR, CommitLog

    def _supersession_times(dataset: str) -> dict[str, float]:
        """rel path -> committed_at of the newest retained commit that
        dropped it from the live listing. Replays the delta-encoded
        chain oldest-first (checkpoint = set-diff vs the running set;
        delta = its explicit files_remove/files_add); a later re-add
        clears the removal. Entries with no listing info (untrusted
        barriers) contribute nothing — their casualties age by mtime."""
        out: dict[str, float] = {}
        cur: set[str] = set()
        for e in CommitLog(dataset, fs=fs).history():
            at = float(e.get("committed_at") or 0.0)
            if "files" in e:
                new = set(e["files"])
                for rel in cur - new:
                    out[rel] = at
                for rel in new:
                    out.pop(rel, None)
                cur = new
                continue
            for rel in e.get("files_remove") or []:
                out[rel] = at
                cur.discard(rel)
            for rel in e.get("files_add") or []:
                out.pop(rel, None)
                cur.add(rel)
        return out

    def _sweep_dirs(root: str, ttl: float, prefix=None) -> None:
        """Reclaim the child dirs of `root` (those whose name starts
        with `prefix`, or all) whose mtime age reaches `ttl`."""
        try:
            names = fs.listdir(root)
        except OSError:
            return
        for name in names:
            if prefix is not None and not name.startswith(prefix):
                continue
            d = f"{root}/{name}"
            try:
                age = now - fs.getmtime(d)
            except OSError:
                continue  # raced with another sweep
            if age < ttl:
                retained.append(d)
                continue
            if not dry_run:
                fs.rmtree(d)
            removed.append(d)

    fs = fs if fs is not None else get_fs(base_path, spark)
    base = base_path.rstrip("/")
    # Staging dirs have no commit-derived clock, and a LIVE writer may
    # wait on a contended claim with its finished staging sitting idle
    # (the heartbeat refreshes it, LakeWriter._staging_heartbeat) — so
    # their sweep age is floored at `staging_ttl_s` (default 6 h, far
    # above any commit_timeout_s) whatever `retention_s` is; lower it
    # explicitly only when no writers can be in flight.
    s_ttl = max(retention_s, staging_ttl_s)
    datasets = sorted(
        {
            root[: -len("/" + LOG_DIR)]
            for root, f in fs.walk_files(base)
            if root.endswith("/" + LOG_DIR)
        }
    )
    removed: list[str] = []
    retained: list[str] = []
    now = _time.time()
    for ds in datasets:
        live = resolve_live_files(fs, ds)
        if live is None:
            continue
        live_set = set(live)
        superseded_at = _supersession_times(ds)
        for rel in list_data_files(fs, ds):
            if rel in live_set:
                continue
            full = f"{ds}/{rel}"
            dropped = superseded_at.get(rel)
            if dropped is not None:
                age = now - dropped
            else:
                try:
                    age = now - fs.getmtime(full)
                except OSError:
                    continue  # raced with another sweep
            if age < retention_s:
                retained.append(full)
                continue
            if not dry_run:
                try:
                    fs.remove(full)
                except OSError:
                    continue
            removed.append(full)
        # deletion-vector sidecars (lake/dv.py, `_dv/<dir>`): the HEAD
        # dv map's sidecars are live state and always stay; every other
        # sidecar is a TOMBSTONE aging from its SUPERSESSION time — the
        # committed_at of the first commit after the newest one whose
        # map still referenced it (the same commit-history-derived
        # clock the data-file sweep uses; mtime only for orphans the
        # history never saw, e.g. aborted transactions' leftovers).
        # Past the horizon they reclaim even if an old retained commit
        # references them — `read_dataset_at` then raises loudly, the
        # identical contract as reclaimed data files.
        dv_root = f"{ds}/_dv"
        try:
            dv_names = fs.listdir(dv_root)
        except OSError:
            dv_names = []
        if dv_names:
            head_refs = set(CommitLog(ds, fs=fs).dv_at(None).values())
            last_ref: dict[str, float] = {}  # dir -> newest referencing commit time
            next_after: dict[str, float] = {}  # dir -> first commit time AFTER that
            for e in CommitLog(ds, fs=fs).history():
                at = float(e.get("committed_at") or 0.0)
                for d in set(last_ref) - {
                    dd for dd in (e.get("dv") or {}).values()
                }:
                    if d not in next_after and last_ref[d] < at:
                        next_after[d] = at
                for d in (e.get("dv") or {}).values():
                    last_ref[d] = at
                    next_after.pop(d, None)  # re-referenced: not superseded
            for name in dv_names:
                rel_dv = f"_dv/{name}"
                if rel_dv in head_refs:
                    continue  # live state
                dvdir = f"{dv_root}/{name}"
                dropped = next_after.get(rel_dv)
                if dropped is not None:
                    age = now - dropped
                else:
                    try:
                        age = now - fs.getmtime(dvdir)
                    except OSError:
                        continue
                if age < retention_s:
                    retained.append(dvdir)
                    continue
                if not dry_run:
                    fs.rmtree(dvdir)
                removed.append(dvdir)
        # crashed writers' staging (`_staging_<token>` under the
        # dataset; `_cdf/_staging_<token>` from earlier versions): a
        # writer that died before its files landed leaves only these
        # hidden dirs — invisible to every scan, but disk they hold
        # forever without a sweep.
        for sroot in (ds, f"{ds}/_cdf"):
            _sweep_dirs(sroot, s_ttl, "_staging_")
        # quarantine retention rides the same horizon: violator splits
        # (writer expectations, `_quarantine/<uuid>` dirs) are kept for
        # inspection for `retention_s`, then reclaimed — without this
        # they accumulate forever on a constraint-violating feed
        _sweep_dirs(f"{ds}/_quarantine", retention_s)
        if dry_run:
            continue
        # prune partition dirs the sweep emptied (visible-children test:
        # a dir still holding live files or in-retention tombstones is
        # kept; leftover hidden .crc shadows die with the dir)
        try:
            for yname in fs.listdir(ds):
                if not yname.startswith("year="):
                    continue
                ydir = f"{ds}/{yname}"
                for mname in fs.listdir(ydir):
                    mdir = f"{ydir}/{mname}"
                    if (
                        mname.startswith("month=")
                        and fs.isdir(mdir)
                        and not has_visible_children(fs, mdir)
                    ):
                        fs.rmtree(mdir)
                if not has_visible_children(fs, ydir):
                    fs.rmtree(ydir)
        except OSError:
            pass
    if base not in datasets:
        # lake-level multi-write staging (`_staging_<token>`; earlier
        # versions named it `_staging_multi_<txid>` and
        # `_cdf_staging_<txid>`)
        _sweep_dirs(base, s_ttl, ("_staging_", "_cdf_staging_"))
    # lake-level multi-write quarantine (_quarantine_multi/<txid>) ages
    # under the same horizon
    _sweep_dirs(f"{base}/_quarantine_multi", retention_s)
    return {"removed": removed, "retained": retained}


def fold_change_feed(
    spark: SparkSession,
    dataset_path: str,
    keep_last_unfolded: int = 0,
    fs: Filesystem | None = None,
) -> dict:
    """CDF window compaction: fold the per-commit `_cdf/commit_version=N`
    dirs — one tiny parquet dir PER COMMIT, thousands per dataset per
    day at a commits-per-minute ingest cadence — into ONE ranged segment
    `_cdf/commit_range=<lo>-<hi>-<token>/` with `commit_version`
    preserved as a real COLUMN. `read_change_feed` and the `lake_cdf`
    streaming source serve ranged + unranged segments transparently
    (feed contents identical, loud-gap contract intact); only the file
    count drops. Earlier ranged segments are merged in, and rows whose
    commit was pruned out of the retained log history are dropped (the
    dead head the truncation guard already refuses to serve).

    `keep_last_unfolded` leaves the newest K per-commit dirs unfolded —
    the hot tail stays cheap for writers to append beside.

    Crash safety: the merged segment lands under a dot-tmp name and is
    RENAMED in before any old dir is deleted. A crash in between leaves
    versions present in both an old and the new segment; readers
    resolve overlap deterministically (newest range wins), and the next
    fold sweeps the shadowed leftovers. Single-maintenance-actor
    assumption, same as compact().

    Returns {"folded": n_versions, "segment": name | None,
    "files_before": int, "files_after": int}.
    """
    import json as _json
    import uuid as _uuid

    from dl_datalake_spark.lake.commitlog import CommitLog

    fs = fs if fs is not None else get_fs(dataset_path, spark)
    root = f"{dataset_path.rstrip('/')}/_cdf"

    def _count_files() -> int:
        return sum(1 for _r, f in fs.walk_files(root) if not f.startswith(("_", ".")))

    if not fs.exists(root):
        return {"folded": 0, "segment": None, "files_before": 0, "files_after": 0}
    log = CommitLog(dataset_path, fs=fs)
    hist = log.history()  # one log walk serves every lookup below
    committed = {c["version"] for c in hist}
    oldest = min(committed, default=None)
    files_before = _count_files()

    unranged: dict[int, str] = {}
    old_ranges: list[str] = []
    for name in fs.listdir(root):
        if name.startswith("commit_version="):
            try:
                v = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if v in committed:  # never fold an aborted claim's orphan dir
                unranged[v] = name
        elif name.startswith("commit_range="):
            old_ranges.append(name)
    cand = sorted(unranged)
    if keep_last_unfolded and len(cand) > keep_last_unfolded:
        cand = cand[:-keep_last_unfolded]
    elif keep_last_unfolded:
        cand = []
    if not cand and len(old_ranges) <= 1:
        return {
            "folded": 0, "segment": None,
            "files_before": files_before, "files_after": files_before,
        }

    # CONTRACT NORMALIZATION (lake/schema.py): CDF deltas carry their
    # own epoch's logical names and possibly narrower types — a plain
    # mergeSchema union crashes on widened (mixed INT32/INT64) feeds
    # and, across a rename, unions old+new names into half-null
    # columns.  With a recorded contract, deltas are grouped BY EPOCH
    # (identical recorded schema + column map — one multi-path read per
    # group, so an unevolved feed still plans one relation, not
    # thousands), each group's columns are resolved to HEAD logical
    # names by PHYSICAL identity through its own epoch's column map,
    # columns whose logical no longer exists at head are DROPPED (a
    # re-added name has a fresh physical — merging the retired bytes
    # under it would corrupt the feed), and everything is cast to the
    # contract types — the folded segment serves exactly the head
    # surface (un-tripping the lake_cdf stream's stale-name guard).
    # Pre-contract datasets keep the old mergeSchema behavior.
    sch, cmap, _ret, _pt, _spec = log.contract_at(None)
    inv_head = {ph: lg for lg, ph in cmap.items()}
    head_phys = {lg: cmap.get(lg, lg) for lg in (sch or {})}
    entries_by_v = {c["version"]: c for c in hist}
    # logical name -> every physical it was EVER bound to across the
    # retained log (resolves ranged segments, whose epoch is fold time
    # and unknowable; an ambiguous binding refuses loudly)
    name_phys_hist: dict[str, set] = {}
    for _e in hist:
        _ec = _e.get("column_map") or {}
        for _lg in _e.get("schema") or {}:
            name_phys_hist.setdefault(_lg, set()).add(_ec.get(_lg, _lg))

    def _head_name(n, e_cmap, e_schema, known_epoch, ctx):
        """Head logical name for delta column `n`, or None to DROP it
        (its logical no longer exists at head).  Physical identity is
        the join key: a head logical claims `n` only when its head
        physical IS `n`'s physical — a re-added column's fresh physical
        never matches the retired one, so dropped bytes cannot merge
        into the re-added column."""
        if known_epoch:
            if n not in e_schema:
                return n  # extra: _change_type / partition identity
            ph = e_cmap.get(n, n)
        else:
            phs = name_phys_hist.get(n)
            if phs is None:
                return n  # never a contract column: extra
            if len(phs) > 1:
                raise ValueError(
                    f"fold_change_feed: column {n!r} in {ctx} was bound "
                    f"to multiple physical columns across retained "
                    f"history ({sorted(phs)}) — its epoch cannot be "
                    "resolved; prune after folding, not before"
                )
            ph = next(iter(phs))
        if ph in inv_head:
            return inv_head[ph]
        if ph in (sch or {}) and head_phys.get(ph) == ph:
            return ph
        return None  # contract column at its epoch, dead at head

    def _norm(df_, e_cmap, e_schema, known_epoch, ctx):
        if sch is None:
            return df_
        renames, drops = {}, []
        for n in df_.columns:
            hl = _head_name(n, e_cmap, e_schema, known_epoch, ctx)
            if hl is None:
                drops.append(n)
            elif hl != n:
                renames[n] = hl
        if drops:
            df_ = df_.drop(*drops)
        if renames:
            df_ = df_.withColumnsRenamed(renames)
        dt = dict(df_.dtypes)
        casts = {
            c: F.col(c).cast(t)
            for c, t in sch.items()
            if c in dt and dt[c] != t
        }
        if casts:
            df_ = df_.withColumns(casts)
        return df_

    parts = []
    if cand:
        if sch is None:
            # basePath trick: commit_version arrives as a column from the
            # per-commit dir names, exactly how the batch reader serves it
            parts.append(
                spark.read.option("mergeSchema", "true")
                .option("basePath", root)
                .parquet(*[f"{root}/{unranged[v]}" for v in cand])
            )
        else:
            groups: dict[str, list[int]] = {}
            for v in cand:
                entry = entries_by_v.get(v)
                if entry is None and cmap:
                    raise ValueError(
                        f"fold_change_feed: commit {v}'s log entry was "
                        "pruned and the dataset carries a column mapping — "
                        "its delta's epoch names cannot be resolved; fold "
                        "before pruning or drop the delta explicitly"
                    )
                key = _json.dumps(
                    [
                        (entry or {}).get("schema"),
                        (entry or {}).get("column_map"),
                    ],
                    sort_keys=True,
                )
                groups.setdefault(key, []).append(v)
            for key, vs in groups.items():
                entry = entries_by_v.get(vs[0])
                parts.append(
                    _norm(
                        spark.read.option("mergeSchema", "true")
                        .option("basePath", root)
                        .parquet(*[f"{root}/{unranged[v]}" for v in vs]),
                        dict((entry or {}).get("column_map") or {}),
                        dict((entry or {}).get("schema") or {}),
                        entry is not None,
                        f"commits {vs[0]}..{vs[-1]}",
                    )
                )
    bounds = list(cand)
    for name in old_ranges:
        lo_hi = name.split("=", 1)[1].split("-")
        bounds.extend([int(lo_hi[0]), int(lo_hi[1])])
        # a ranged segment was written by ONE previous fold with the
        # names current AT FOLD TIME (epoch unknowable): resolve each
        # column through the retained logical->physical history
        parts.append(
            _norm(
                spark.read.option("mergeSchema", "true").parquet(f"{root}/{name}"),
                {},
                {},
                False,
                f"segment {name}",
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    if oldest is not None:
        df = df.where(F.col("commit_version") >= oldest)  # dead head out
    lo, hi = min(bounds), max(bounds)
    segment = f"commit_range={lo}-{hi}-{_uuid.uuid4().hex[:8]}"
    tmp = f"{root}/.fold.tmp.{_uuid.uuid4().hex[:8]}"
    # a handful of files regardless of how many commits fold in
    df.coalesce(4).write.mode("overwrite").option("compression", "snappy").parquet(tmp)
    fs.rename(tmp, f"{root}/{segment}")
    for name in old_ranges:
        fs.rmtree(f"{root}/{name}")
    for v in cand:
        fs.rmtree(f"{root}/{unranged[v]}")
    return {
        "folded": len(cand), "segment": segment,
        "files_before": files_before, "files_after": _count_files(),
    }


def prune_commit_logs(
    spark: SparkSession,
    base_path: str,
    keep_last: int = 100,
    abandoned_ttl_s: float | None = None,
    fs: Filesystem | None = None,
) -> dict[str, int]:
    """Prune every dataset commit log under the lake to its newest
    `keep_last` finalized entries, sweeping rolled-aside `.abandoned.*`
    markers older than `abandoned_ttl_s` (see CommitLog.prune; default
    24 h so a fresh usurpation's audit trail survives one maintenance
    pass). Returns {dataset_path: files_removed} for datasets that had
    anything to drop."""
    from dl_datalake_spark.lake.commitlog import LOG_DIR, CommitLog

    fs = fs if fs is not None else get_fs(base_path, spark)
    datasets = {
        root[: -len("/" + LOG_DIR)]
        for root, f in fs.walk_files(base_path)
        if root.endswith("/" + LOG_DIR)
    }
    out: dict[str, int] = {}
    for ds in sorted(datasets):
        log = CommitLog(ds, fs=fs)
        n = log.prune(keep_last=keep_last, abandoned_ttl_s=abandoned_ttl_s)
        # change-feed retention rides the same policy: a _cdf dir whose
        # commit file was just pruned is unreadable through the feed
        # anyway (the truncation guard raises for cursors behind the
        # retained history), so its parquet is pure dead weight
        history = log.history()
        oldest = min((c["version"] for c in history), default=None)
        cdf_dir = f"{ds}/_cdf"
        # no committed history -> nothing provably dead (a first write
        # may be in flight with its CDF already staged): delete nothing
        if oldest is not None:
            for name in fs.listdir(cdf_dir):
                if name.startswith("commit_version="):
                    try:
                        v = int(name.split("=", 1)[1])
                    except ValueError:
                        continue
                    if v < oldest:
                        fs.rmtree(f"{cdf_dir}/{name}")
                        n += 1
                elif name.startswith("commit_range="):
                    # a folded segment (fold_change_feed) dies only when
                    # its WHOLE range predates the retained history;
                    # partially-dead ranges are trimmed by the next fold
                    try:
                        hi = int(name.split("=", 1)[1].split("-")[1])
                    except (ValueError, IndexError):
                        continue
                    if hi < oldest:
                        fs.rmtree(f"{cdf_dir}/{name}")
                        n += 1
        if n:
            out[ds] = n
    # the lake-level multi-commit intent log rides the same cadence: a
    # committed/aborted record only matters while a reader might still
    # straddle it (minutes), so anything past the TTL is dead weight
    from dl_datalake_spark.lake.multilog import MultiCommitLog

    n_multi = MultiCommitLog(base_path, fs=fs).prune(keep_last=keep_last)
    if n_multi:
        out[f"{base_path.rstrip('/')}/_multilog"] = n_multi
    return out


def plan_maintenance(
    spark: SparkSession,
    base_path: str,
    fs: Filesystem | None = None,
    max_files_per_partition: int = 4,
    min_file_bytes: int = 32 << 20,
    tombstone_frac: float = 0.10,
    dv_frac: float = 0.10,
    keep_last: int = 100,
    fold_live_threshold: int = 64,
    index_paths: list[str] | None = None,
) -> dict:
    """Advisor for the maintenance cadence (the OPTIMIZE-scheduling
    question every lakehouse deployment asks): inspect each dataset's
    COMMIT METADATA and directory shape — never the data — and
    recommend which of the existing actions to run.  Driver-side only;
    cost is one walk of listings + per-file `getsize`, the same order
    as `vacuum_tombstones`'s own sweep, so running the planner is
    always cheaper than running every action blindly.

    Signals → actions:
    - a partition holding > `max_files_per_partition` live files, or a
      median live file under `min_file_bytes` → **compact** (small
      files tax every scan's task scheduling and footer reads);
    - superseded on-disk bytes > `tombstone_frac` of live bytes →
      **vacuum-tombstones** (storage reclaim past retention);
    - > `dv_frac` of live files carrying deletion vectors →
      **compact** (materialize the merge-on-read deletes and retire
      the read-side anti-join tax — lake/dv.py);
    - > `keep_last` retained commit entries → **prune-commits**;
    - > `fold_live_threshold` live multilog intent files →
      **fold-multilog** (lake level).

    Returns {"datasets": {rel: {signals..., "actions": [...]}},
    "lake": {...}} — `cli maintain plan` prints it as JSON."""
    from dl_datalake_spark.lake.commitlog import LOG_DIR, CommitLog
    from dl_datalake_spark.lake.snapshot import partition_of

    fs = fs if fs is not None else get_fs(base_path, spark)
    base = base_path.rstrip("/")
    datasets = sorted(
        {
            root[: -len("/" + LOG_DIR)]
            for root, f in fs.walk_files(base)
            if root.endswith("/" + LOG_DIR)
        }
    )
    report: dict = {"datasets": {}, "lake": {}}
    for ds in datasets:
        live = resolve_live_files(fs, ds)
        if live is None:
            continue  # legacy: directory IS the state, nothing to plan on
        log = CommitLog(ds, fs=fs)
        on_disk = list_data_files(fs, ds)
        live_set = set(live)

        def _size(rel):
            try:
                return fs.getsize(f"{ds}/{rel}")
            except OSError:
                return 0

        live_sizes = sorted(_size(rel) for rel in live)
        live_bytes = sum(live_sizes)
        tomb_bytes = sum(_size(rel) for rel in on_disk if rel not in live_set)
        per_part: dict = {}
        for rel in live:
            per_part[partition_of(rel)] = per_part.get(partition_of(rel), 0) + 1
        worst_part = max(per_part.values()) if per_part else 0
        median_bytes = live_sizes[len(live_sizes) // 2] if live_sizes else 0
        dv_files = len(log.dv_at(None))
        n_entries = len(log.history())

        actions = []
        if live and (
            worst_part > max_files_per_partition or median_bytes < min_file_bytes
        ):
            actions.append("compact")
        if dv_files and dv_files / max(1, len(live)) > dv_frac:
            if "compact" not in actions:
                actions.append("compact")
            actions.append("materialize-dv")
        if live_bytes and tomb_bytes / live_bytes > tombstone_frac:
            actions.append("vacuum-tombstones")
        if n_entries > keep_last:
            actions.append("prune-commits")
        report["datasets"][ds[len(base) + 1 :]] = {
            "live_files": len(live),
            "live_bytes": live_bytes,
            "tombstone_bytes": tomb_bytes,
            "worst_partition_files": worst_part,
            "median_file_bytes": median_bytes,
            "dv_files": dv_files,
            "commit_entries": n_entries,
            "actions": actions,
        }
    # lake level: multilog fold pressure
    try:
        ml_live = [
            n
            for n in fs.listdir(f"{base}/_multilog")
            if n.endswith(".json") and not n.startswith("segment-")
        ]
    except OSError:
        ml_live = []
    lake_actions = []
    if len(ml_live) > fold_live_threshold:
        lake_actions.append("fold-multilog")
    report["lake"] = {"multilog_live_records": len(ml_live), "actions": lake_actions}
    if index_paths:
        # ANN/LSH index health (one O(index) aggregate per path — only
        # over explicitly passed paths, the rest of the plan stays
        # metadata-only); actions here are RECOMMEND-ONLY
        report["indexes"] = plan_index_maintenance(spark, index_paths)
    return report


def plan_index_maintenance(
    spark: SparkSession,
    index_paths: list[str],
    skew_threshold: float = 3.0,
    min_mean_sim: float = 0.35,
    stale_applies: int = 50,
    lsh_hot_share: float = 0.05,
) -> dict:
    """Health advisor for the persisted ANN/LSH indexes (VERDICT r9 #5)
    — the signals `plan_maintenance`'s dataset walk cannot see because
    indexes degrade by DISTRIBUTION, not by file shape:

    - **IVF** (`operators/ivf_index.py`): incremental upserts/CDF
      applies assign new vectors against FROZEN centroids, so a
      shifting distribution shows up as cell imbalance
      (`max_over_mean` from `ivf_drift_report` — hot cells stop
      pruning searches) and falling `mean_centroid_sim` (candidate
      quality).  Either past threshold → recommend **retrain-ivf**
      (`train_ivf` + `write_ivf_index`).
    - **LSH** (`operators/lsh_index.py`): the band table's hottest
      (band, bucket) vs the mean — a hot bucket makes
      `lsh_index_pairs`' self-join quadratic in that bucket —
      and staleness (cdf_apply commits since the last full build;
      the stop-shingle cap was calibrated at build time, so a corpus
      that grew 50 applies past it deserves a rebuild).  Either →
      recommend **rebuild-lsh**.

    Unlike `plan_maintenance` this reads index DATA (one O(index)
    aggregate per index), so it only runs over the paths you pass.
    Recommendations are never auto-executed — `run_maintenance`
    surfaces them under ``recommend_only`` for an operator to act on
    (a retrain is a modeling decision, not a sweep)."""
    report: dict = {}
    for p in index_paths:
        p = p.rstrip("/")
        fs = get_fs(p, spark)
        info: dict = {"actions": []}
        try:
            if fs.isdir(f"{p}/centroids") and fs.isdir(f"{p}/vectors"):
                from dl_datalake_spark.operators.ivf_index import (
                    _index_log,
                    ivf_drift_report,
                )

                rows = ivf_drift_report(spark, p).collect()
                worst = max((float(r["load_vs_mean"]) for r in rows), default=0.0)
                n_vec = sum(int(r["n_vectors"]) for r in rows)
                mean_sim = (
                    sum(float(r["mean_centroid_sim"]) * int(r["n_vectors"]) for r in rows)
                    / n_vec
                    if n_vec
                    else 0.0
                )
                hist = _index_log(p, spark).history()
                applies = 0
                for e in reversed(hist):
                    if e.get("op") == "rebuild":
                        break
                    applies += 1
                info.update(
                    kind="ivf", cells=len(rows), vectors=n_vec,
                    max_over_mean=round(worst, 3),
                    mean_centroid_sim=round(mean_sim, 6),
                    applies_since_build=applies,
                )
                reasons = []
                if worst > skew_threshold:
                    reasons.append(f"cell imbalance {worst:.2f}x > {skew_threshold}x")
                if n_vec and mean_sim < min_mean_sim:
                    reasons.append(
                        f"mean centroid sim {mean_sim:.3f} < {min_mean_sim}"
                    )
                if applies > stale_applies:
                    reasons.append(
                        f"{applies} incremental commits since last rebuild"
                    )
                if reasons:
                    info["actions"].append("retrain-ivf")
                    info["reasons"] = reasons
            elif fs.isdir(f"{p}/bands"):
                from dl_datalake_spark.operators.lsh_index import (
                    _index_log,
                    read_lsh_index,
                )

                # the pair join groups on the SIGNATURE key (band, sig)
                # — a group holding share s of the corpus generates
                # (s*N)^2 candidate pairs, so the HOT GROUP'S SHARE OF
                # DOCS is the quadratic-blowup signal (a mean-relative
                # ratio deflates exactly when duplicates collapse many
                # docs into few groups; the `bucket` column is only the
                # doc-id storage shard, uniform by construction)
                bands_df = read_lsh_index(spark, p)
                per = (
                    bands_df.groupBy("band", "sig")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .agg(F.max("n").alias("mx"), F.sum("n").alias("rows"))
                    .first()
                )
                n_docs = bands_df.select("doc_id").distinct().count()
                hist = _index_log(p, spark).history()
                applies = 0
                for e in reversed(hist):
                    if e.get("op") == "build":
                        break
                    applies += 1
                rows_n = int(per["rows"] or 0) if per else 0
                hot_share = float(per["mx"]) / n_docs if n_docs else 0.0
                info.update(
                    kind="lsh", band_rows=rows_n, docs=n_docs,
                    hot_group_share=round(hot_share, 4),
                    applies_since_build=applies,
                )
                reasons = []
                if hot_share > lsh_hot_share:
                    reasons.append(
                        f"one signature group holds {hot_share:.0%} of the "
                        f"corpus > {lsh_hot_share:.0%} (its pair join is "
                        "quadratic in that group — dedup-resolve or rebuild)"
                    )
                if applies > stale_applies:
                    reasons.append(
                        f"{applies} incremental commits since last build "
                        "(stop-shingle cap calibrated then)"
                    )
                if reasons:
                    info["actions"].append("rebuild-lsh")
                    info["reasons"] = reasons
            else:
                info.update(kind="unknown", error="not an IVF or LSH index dir")
        except Exception as exc:  # unreadable index: report, never crash the plan
            info.update(error=str(exc))
        report[p] = info
    return report


def run_maintenance(
    spark: SparkSession,
    base_path: str,
    manifest: ManifestManager | None = None,
    fs: Filesystem | None = None,
    apply: bool = False,
    retention_s: float = 7 * 86400.0,
    keep_last: int = 100,
    **plan_kwargs,
) -> dict:
    """Execute what `plan_maintenance` recommends — the auto-OPTIMIZE
    loop a deployment crons: plan (metadata-only), then run exactly the
    actions the signals justify, nothing else.

    - any dataset flagged **compact** (small files or DV load) → one
      `compact(in_place=True, datasets=[...])` pass scoped to exactly
      the flagged datasets (each swapped individually — never a
      lake-base rename), materializing their deletion vectors as a
      side effect; on object-store schemes without atomic rename the
      action is REFUSED and reported under ``skipped`` instead of
      risking a half-moved tree (export with in_place=False there);
    - any **vacuum-tombstones** flag → one sweep at `retention_s`;
    - any **prune-commits** flag → `prune_commit_logs(keep_last)`;
    - a lake-level **fold-multilog** flag → `MultiCommitLog.fold`.

    `apply=False` (default) returns the plan plus the action list
    WITHOUT executing — the dry-run an operator reads before running
    with apply=True.  Returns {"plan": ..., "executed": [...],
    "results": {...}}."""
    fs = fs if fs is not None else get_fs(base_path, spark)
    plan = plan_maintenance(spark, base_path, fs=fs, keep_last=keep_last, **plan_kwargs)
    wanted: list[str] = []
    skipped: dict[str, str] = {}
    compact_rels = sorted(
        rel for rel, d in plan["datasets"].items() if "compact" in d["actions"]
    )
    if compact_rels:
        if not getattr(fs, "ATOMIC_RENAME", True):
            skipped["compact"] = (
                "in-place compact needs atomic directory rename; this "
                "store's rename is copy+delete — run "
                "compact(in_place=False) and re-point the manifest"
            )
        else:
            wanted.append("compact")
    ds_actions = [a for d in plan["datasets"].values() for a in d["actions"]]
    if "vacuum-tombstones" in ds_actions:
        wanted.append("vacuum-tombstones")
    if "prune-commits" in ds_actions:
        wanted.append("prune-commits")
    if "fold-multilog" in plan["lake"]["actions"]:
        wanted.append("fold-multilog")
    out: dict = {"plan": plan, "executed": [], "results": {}, "skipped": skipped}
    # index actions are NEVER auto-executed (a retrain is a modeling
    # decision): surface them for the operator instead
    recommend = {
        p: {"actions": d["actions"], "reasons": d.get("reasons", [])}
        for p, d in plan.get("indexes", {}).items()
        if d.get("actions")
    }
    if recommend:
        out["recommend_only"] = recommend
    if not apply:
        out["would_execute"] = wanted
        return out
    # order matters: compact first (rewrites retire DVs and supersede
    # small files), then the sweeps that reclaim what it superseded,
    # then the log prunes
    for action in wanted:
        if action == "compact":
            out["results"]["compact"] = {
                "path": compact(
                    spark, base_path, in_place=True, fs=fs, datasets=compact_rels
                ),
                "datasets": compact_rels,
            }
        elif action == "vacuum-tombstones":
            rep = vacuum_tombstones(
                spark, base_path, retention_s=retention_s, dry_run=False, fs=fs
            )
            out["results"]["vacuum-tombstones"] = {
                "removed": len(rep["removed"]), "retained": len(rep["retained"])
            }
        elif action == "prune-commits":
            rep = prune_commit_logs(spark, base_path, keep_last=keep_last)
            out["results"]["prune-commits"] = {"files_removed": sum(rep.values())}
        elif action == "fold-multilog":
            from dl_datalake_spark.lake.multilog import MultiCommitLog

            out["results"]["fold-multilog"] = MultiCommitLog(
                base_path, fs=fs
            ).fold(keep_last=keep_last)
        out["executed"].append(action)
    return out
