"""Partition-spec evolution (Iceberg's spec-epoch mechanic on the
commit log).

The reference hard-codes one directory layout per dataset
(`dl-datalake/src/dl_datalake/storage/writer.py:21-46` builds
<symbol>/<year>/<month> paths by hand); changing granularity there
means rewriting the dataset.  Here the time-granularity levels BELOW
the dataset-identity dirs (exchange/market/symbol/data_type/period)
are a recorded, evolvable fact:

- every commit carries the dataset's head ``partition_spec`` (the
  ``_carry_schema`` mechanic, so prune can never orphan it);
- ``LakeWriter.set_partition_spec`` changes the head spec WITHOUT
  rewriting a byte — files written under the old spec stay in their
  old directories and remain live;
- each data file's rel path is self-describing (``year=/month=`` vs
  ``year=/month=/day=``), so a mixed tree needs no per-file spec
  bookkeeping: scans GROUP the pinned live list by Hive signature,
  read each group under its own layout (Spark's partition discovery
  refuses mixed directory depths under one basePath), and union;
- spec columns a group's layout lacks are DERIVED from ts with the
  writer's own derivation (`writer._partitioned`), so a ``day``
  filter is exact on pre-evolution files too — it just prunes at
  month granularity there until compaction migrates them;
- rewrites (upsert/DML/compaction) emit the HEAD spec, so compaction
  doubles as the incremental spec-migration tool.

Concurrency stays month-granular: ``snapshot.partition_of`` ignores
unknown segments, so a daily file still maps to its (year, month) for
commit ``partitions`` records, CDC re-reads, and optimistic
validation — a spec change itself conflicts with in-flight optimistic
writers because it moves the contract tuple they validated against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Head-spec names accepted by LakeWriter.set_partition_spec: the
# time-granularity dirs below the dataset identity, coarse -> fine.
SPEC_MONTHLY: tuple[str, ...] = ("year", "month")
SPEC_DAILY: tuple[str, ...] = ("year", "month", "day")
SPECS: dict[str, tuple[str, ...]] = {
    "monthly": SPEC_MONTHLY,
    "daily": SPEC_DAILY,
}

# Every column any spec can derive — reserved on spec-evolved datasets
# (set_partition_spec refuses a dataset whose contract already has a
# data column by these names).
DERIVED_SPEC_COLS: tuple[str, ...] = ("year", "month", "day")


def spec_of(entry_value) -> tuple[str, ...]:
    """A commit entry's recorded ``partition_spec`` (a list of column
    names) as a tuple; the pre-recording default is monthly."""
    if not entry_value:
        return SPEC_MONTHLY
    return tuple(entry_value)


def sig_of(rel_path: str) -> tuple[str, ...]:
    """The Hive signature of a data file's rel path: the ordered tuple
    of ``name=`` keys in its directory levels.  Files written under
    different specs have different signatures and cannot share one
    partition-discovering scan."""
    return tuple(
        seg.partition("=")[0]
        for seg in rel_path.split("/")[:-1]
        if "=" in seg
    )


def spec_groups(live: list[str]) -> list[list[str]]:
    """Group a pinned live file list by Hive signature, deterministic
    (signature-sorted) order.  One group per spec epoch actually
    present — a never-evolved dataset costs one tuple build per file
    and comes back as the single group it always was."""
    groups: dict[tuple[str, ...], list[str]] = {}
    for rel in live:
        groups.setdefault(sig_of(rel), []).append(rel)
    return [groups[k] for k in sorted(groups)]


def ghost_cols(live: list[str], spec) -> list[str]:
    """Derived spec columns a rewrite must DROP: present in some
    epoch's DIRECTORY signature (day= after a daily->monthly
    downgrade) but absent from the head `spec`.  Judged by signatures,
    never by frame columns — a contract DATA column that happens to be
    named ``day`` has no day= path segment and must survive every
    rewrite (compact and recluster share this rule)."""
    sigs = {sig_of(rel) for rel in live}
    return [
        c
        for c in DERIVED_SPEC_COLS
        if c not in spec and any(c in s for s in sigs)
    ]


def derive_spec_cols(
    df: DataFrame, cols: list[str] | tuple[str, ...], ts_col: str = "ts"
) -> DataFrame:
    """Derive the named spec columns from epoch-ms ``ts`` — the exact
    derivation `writer._partitioned` stamps at write time, so deriving
    on already-stamped rows is an identity and a derived ``day`` on a
    monthly-epoch file equals what the writer would have stamped."""
    fns = {"year": F.year, "month": F.month, "day": F.dayofmonth}
    missing = [c for c in cols if c in fns and c not in df.columns]
    if not missing or ts_col not in df.columns:
        return df
    t = F.timestamp_millis(F.col(ts_col).cast("long"))
    return df.withColumns({c: fns[c](t) for c in missing})


def grouped_scan(
    spark,
    base_path: str,
    path: str,
    live: list[str],
    log,
    fs,
    version: int | None = None,
    logical: bool = True,
    *,
    dv_probe: bool = False,
    dv_map: dict | None = None,
) -> DataFrame | None:
    """Mixed-spec-safe snapshot scan — the ONE way a pinned live list
    becomes a DataFrame.  Callers: the reader's scans
    (`LakeReader._scan_paths`, `read_dataset_at`, `read_datasets`), the
    writer's rewrites and DV probes (`_read_existing`, `_read_pinned_at`,
    `_delete_dv_into`, `_update_where_dv`), restore's row count and
    change-feed diff (`_restore_into`, `_restore_tag_changes`), and
    `maintenance.compact` / `recluster`.  Group `live` by Hive
    signature (Spark's partition discovery refuses mixed directory
    depths under one basePath), read each group under its own layout +
    the dataset's contract-at-`version` (widened types, logical names,
    retired columns excluded), anti-join each group's deletion vectors
    at `version`, DERIVE the spec columns a coarser-epoch group lacks
    (a ``day`` filter is exact on monthly-epoch files too), and union by
    name.  A never-evolved dataset takes the identical single-group
    path it always did — same plan, zero extra jobs.  `base_path` is
    the lake base: DV keys and the identity partition columns are
    relative to it.

    `logical=False` serves PHYSICAL column names (compaction's shape:
    rewritten files must keep their physical columns so the
    column_map stays valid for them).  `dv_probe` is the DV delete and
    update probe's shape: every row carries its scan position
    (`_dv_file`, `_dv_pos` — the new sidecar's content), so each group
    is ONE relation with the current deletion vectors anti-joined out
    (not `dv.scan_with_dv`'s split scan).  `dv_map` is the DV map at
    `version` when the caller already resolved it (the probe's sidecar
    merge needs the same map), saving the log reads."""
    from dl_datalake_spark.lake import dv as dvmod
    from dl_datalake_spark.lake.schema import contract_read

    if not live:
        return None
    groups = spec_groups(live)
    derivable = [
        c for c in DERIVED_SPEC_COLS if any(c in sig_of(g[0]) for g in groups)
    ]
    if dv_map is None:
        dv_map = log.dv_at(version)
    frames = []
    for rels in groups:
        contract = contract_read(log, base_path, path, rels[0], version=version)
        ddl = contract[0] if contract else None
        srcs = [f"{path}/{rel}" for rel in rels]
        dv_keys, dv_dirs = (
            dvmod.plan_dv(path, base_path, rels, dv_map) if dv_map else ([], [])
        )
        if dv_probe:
            out = dvmod.apply_dv(
                spark, dvmod.read_files(spark, base_path, srcs, ddl), base_path,
                dv_keys, dv_dirs, fs, keep_keys=True,
            )
        else:
            out = dvmod.scan_with_dv(
                spark, base_path, srcs, dv_keys, dv_dirs, fs=fs, schema_ddl=ddl
            )
        if contract and logical and contract[1]:
            out = out.withColumnsRenamed(contract[1])
        frames.append(derive_spec_cols(out, derivable))
    res = frames[0]
    for f in frames[1:]:
        res = res.unionByName(f, allowMissingColumns=True)
    return res
