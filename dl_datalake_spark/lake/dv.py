"""Deletion vectors: merge-on-read row-level DELETE.

`LakeWriter.delete_where(strategy="rewrite")` is copy-on-write — it
rewrites every touched month partition even when the predicate matches
0.001 % of the rows.  At 100 TB that turns a GDPR purge of a few
thousand rows into terabytes of rewrite.  Deletion vectors are the
merge-on-read alternative (Delta's deletion-vector / Iceberg's
position-delete mechanic, re-expressed on plain parquet + the commit
log):

- the delete commit writes a tiny DV sidecar parquet of
  ``(file string, pos long)`` rows — `file` is the matched data file's
  path RELATIVE TO THE LAKE BASE, `pos` the parquet row index inside
  it (Spark's ``_metadata.row_index``) — under the dataset's hidden
  ``_dv/`` tree.  Data files are untouched;
- the commit entry records ``dv: {rel data file: rel DV dir}`` — the
  FULL map for the snapshot, like `files` pins the full listing.  Every
  later commit carries the map forward filtered to its own live file
  set (`CommitLog._carry_dv`), so refs for rewritten/vanished files
  drop automatically and prune can never orphan the DV state;
- readers resolve the map with the listing and anti-join the scan
  against the broadcast DV rows on ``(file key, row index)`` — one
  broadcast hash join, no shuffle of the data side, filters still
  pushed to parquet;
- every path that REWRITES existing data (upsert merge, copy-on-write
  delete, compact, recluster, restore diffs) reads through the same
  filter, so deleted rows never resurrect, and the rewrite's fresh
  listing drops the refs via carry-forward;
- `vacuum_tombstones` reclaims DV dirs referenced by no retained
  commit once past the retention horizon (aborted transactions'
  orphans and superseded DV chains age out like data tombstones).

The reference has no row-level delete at all (datasets are dropped
whole, dl-datalake `metadata/manifest.py` delete path); this is
lake-layer surface the 100 TB story needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DV_DIR = "_dv"

# Above this total sidecar size the DV side stops being broadcast-hinted
# and falls back to a regular (AQE-planned) anti-join: a delete matching
# hundreds of millions of rows must not be forced through every
# executor's memory.
BROADCAST_MAX_BYTES = 64 << 20


def base_marker(base_path: str) -> str:
    """The substring that splits an absolute scan ``_metadata.file_path``
    (scheme-prefixed: ``file:/...``, ``s3a://bucket/...``) into the
    lake-relative file key: everything after the last occurrence of
    ``<base sans leading slashes>/``."""
    return base_path.rstrip("/").lstrip("/") + "/"


def with_scan_key(df: DataFrame, base_path: str) -> DataFrame:
    """Materialize the DV join key from the scan's metadata pseudo-column
    (it must be captured BEFORE any join — `_metadata` belongs to the
    scan relation, not to join outputs)."""
    return df.withColumn(
        "_dv_file",
        F.substring_index(
            F.col("_metadata.file_path"), base_marker(base_path), -1
        ),
    ).withColumn("_dv_pos", F.col("_metadata.row_index"))


def read_dv_rows(
    spark: SparkSession, dv_dirs: list[str], keys: list[str]
) -> DataFrame:
    """The deleted (file key, pos) pairs of `dv_dirs`, restricted to
    `keys` — a sidecar may carry rows for files a later rewrite replaced
    (their refs were dropped from the map, the parquet is immutable), so
    the restriction is what keeps the anti-join exact."""
    return (
        spark.read.parquet(*sorted(set(dv_dirs)))
        .where(F.col("file").isin(list(keys)))
        .select(F.col("file").alias("_dvr_file"), F.col("pos").alias("_dvr_pos"))
    )


def anti_join_dv(
    df_keyed: DataFrame, dv_rows: DataFrame, broadcast: bool = True,
    keep_keys: bool = False,
) -> DataFrame:
    """Drop rows whose (file key, row index) appears in the DV frame.
    `df_keyed` must already carry the `with_scan_key` columns; they are
    consumed (dropped) here unless `keep_keys` (the DV-delete probe
    reuses them as the new sidecar's content)."""
    right = F.broadcast(dv_rows) if broadcast else dv_rows
    out = df_keyed.join(
        right,
        (F.col("_dv_file") == F.col("_dvr_file"))
        & (F.col("_dv_pos") == F.col("_dvr_pos")),
        "left_anti",
    )
    return out if keep_keys else out.drop("_dv_file", "_dv_pos")


def dv_total_bytes(fs, dv_dirs: list[str]) -> int:
    """On-disk size of the DV sidecars (drives the broadcast decision).
    Unknowable sizes count as huge — never force-broadcast blind."""
    total = 0
    for d in sorted(set(dv_dirs)):
        try:
            for dirpath, fname in fs.walk_files(d):
                if fname.startswith((".", "_")):
                    continue
                try:
                    total += fs.getsize(f"{dirpath}/{fname}")
                except OSError:
                    return BROADCAST_MAX_BYTES + 1
        except OSError:
            return BROADCAST_MAX_BYTES + 1
    return total


def read_files(
    spark: SparkSession, base_path: str, srcs: list[str], schema_ddl: str | None
) -> DataFrame:
    """One parquet scan relation over `srcs`, partition columns
    discovered below `base_path`.  `schema_ddl` pins the read to a
    recorded write-time contract (lake/schema.py) instead of mergeSchema
    inference — required to read widened columns."""
    r = (
        spark.read.schema(schema_ddl)
        if schema_ddl is not None
        else spark.read.option("mergeSchema", "true")
    )
    return r.option("basePath", base_path).parquet(*srcs)


def apply_dv(
    spark: SparkSession,
    df: DataFrame,
    base_path: str,
    keys: list[str],
    dv_dirs: list[str],
    fs,
    keep_keys: bool = False,
) -> DataFrame:
    """Filter a freshly-built parquet scan through its deletion vectors:
    `keys` = lake-relative file keys of the planned files that have a DV,
    `dv_dirs` = absolute sidecar dirs holding their position rows.  The
    scan relation itself is untouched (filters/pruning still push down);
    the DV side is broadcast when small, AQE-planned otherwise.
    `keep_keys` serves the scan-key columns on every surviving row, also
    when no planned file has a DV (the DV-delete probe's shape)."""
    if not keys:
        return with_scan_key(df, base_path) if keep_keys else df
    bcast = dv_total_bytes(fs, dv_dirs) <= BROADCAST_MAX_BYTES
    return anti_join_dv(
        with_scan_key(df, base_path),
        read_dv_rows(spark, dv_dirs, keys),
        bcast,
        keep_keys,
    )


def scan_with_dv(
    spark: SparkSession,
    base_path: str,
    srcs: list[str],
    dv_keys: list[str],
    dv_dirs: list[str],
    fs,
    schema_ddl: str | None = None,
) -> DataFrame:
    """Build the scan so that ONLY the files carrying a deletion vector
    pay the anti-join: clean files (the overwhelming majority after a
    surgical purge on a 100 TB dataset) scan through the untouched
    fast path, and the two halves union by name.  A plan that wrapped
    the whole scan in the join would tax every row for deletes that
    touch a handful of files.  Without `dv_keys` this is the plain
    `read_files` relation."""
    keyset = set(dv_keys)
    marker = base_marker(base_path)
    dv_srcs = [p for p in srcs if p.rpartition(marker)[2] in keyset]
    if not dv_srcs:
        return read_files(spark, base_path, srcs, schema_ddl)
    dirty = apply_dv(
        spark, read_files(spark, base_path, dv_srcs, schema_ddl), base_path,
        dv_keys, dv_dirs, fs,
    )
    clean_srcs = [p for p in srcs if p.rpartition(marker)[2] not in keyset]
    if not clean_srcs:
        return dirty
    return read_files(spark, base_path, clean_srcs, schema_ddl).unionByName(
        dirty, allowMissingColumns=True
    )


def plan_dv(
    dataset_path: str, base_path: str, live: list[str], dv_map: dict[str, str]
) -> tuple[list[str], list[str]]:
    """(keys, dv_dirs) for the files of `live` that carry a DV ref —
    the inputs `apply_dv` wants.  `dv_map` is the commit-resolved
    {rel data file: rel DV dir} for this dataset."""
    base = base_path.rstrip("/")
    ds = dataset_path.rstrip("/")
    if ds == base:
        ds_rel = ""
    elif ds.startswith(base + "/"):
        ds_rel = ds[len(base) + 1 :]
    else:
        ds_rel = ds.lstrip("/")
    pre = f"{ds_rel}/" if ds_rel else ""
    keys = [f"{pre}{rel}" for rel in live if rel in dv_map]
    dirs = [f"{ds}/{dv_map[rel]}" for rel in live if rel in dv_map]
    return keys, dirs
