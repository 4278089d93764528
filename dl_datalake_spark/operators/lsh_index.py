"""Persisted MinHash-LSH band index, incrementally maintained.

The batch near-dup operator (`operators/dedup.minhash_lsh_pairs`)
recomputes every signature per run — right for one-shot audits, wrong
for a growing corpus where each ingest batch should cost O(batch), not
O(corpus).  This module persists the BAND TABLE (doc_id, band, sig) —
the LSH state candidate generation joins on — and keeps it following
the lake's row-level change feed exactly-once, the dedup twin of the
CDF→IVF pipeline (`operators/ivf_index.apply_cdf_to_ivf`):

- layout: ``<path>/bands/bucket=B/`` parquet, hash-bucketed by
  ``pmod(xxhash64(doc_id), n_buckets)`` so one batch rewrites only the
  buckets holding changed docs (O(batch/n_buckets share of the table),
  the IVF touched-cells mechanic with hash buckets instead of
  centroid cells);
- a commit log at ``<path>/_commits`` records every build/apply with
  the signature parameters (shingle_n, num_bands, n_buckets) and
  Delta-style txnAppId/txnVersion tags, so a replayed micro-batch is
  skipped (exactly-once within one checkpoint lineage — same scope as
  stream_append_ingest);
- signatures are per-document-deterministic (salted-md5 min-hash over
  word shingles, NO corpus-global stop-shingle state), so the streamed
  index is bit-identical to a from-scratch `write_lsh_index` rebuild —
  the oracle contract `docs_stream_cdf_lsh` pins.

Candidate pairs read as one self-equi-join on (band, sig) over the
persisted table (`lsh_index_pairs`) — no signature recomputation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.fs import get_fs
from dl_datalake_spark.operators.dedup import minhash_signatures, word_shingles
from dl_datalake_spark.session import dynamic_partition_overwrite

BANDS_DIR = "bands"


class _ReplayedLshTxn(Exception):
    pass


def _index_log(path: str, spark: SparkSession | None = None) -> CommitLog:
    return CommitLog(path.rstrip("/"), fs=get_fs(path, spark))


def _params(log: CommitLog) -> dict:
    """The signature parameters recorded by the newest committed
    build/apply — every apply re-records them, so one entry read
    resolves (same invariant as CommitLog.dv_at)."""
    for v in reversed(log._entries()):
        e = log._read_entry(v)
        if e.get("status") == "committed" and "lsh" in e:
            return dict(e["lsh"])
    raise ValueError(
        f"{log.dataset_path} has no committed LSH build — run write_lsh_index first"
    )


def band_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_bands: int = 8,
    n_buckets: int = 64,
) -> DataFrame:
    """(doc_id, band, sig, bucket) for a batch of documents — the same
    shingle → salted-md5 min-hash → r=1 banding as
    `minhash_lsh_pairs`, WITHOUT the corpus-global stop-shingle filter
    (an incremental index must not depend on whole-corpus document
    frequencies, or every batch would invalidate old signatures)."""
    sh = word_shingles(docs, id_col, text_col, shingle_n, distinct=False)
    # hex sigs: the on-disk index format (and its stream-replay oracle)
    # stores the 8-hex-char chunk strings
    sig = minhash_signatures(sh, id_col, num_bands, as_long=False)
    melted = sig.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"mh{b}").alias("sig"))
                    for b in range(num_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    return melted.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets))
    )


def write_lsh_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_bands: int = 8,
    n_buckets: int = 64,
) -> dict:
    """From-scratch build: band table written bucket-partitioned, the
    parameters pinned in the index commit log.  O(corpus) — the one-time
    cost `apply_cdf_to_lsh` amortizes away afterwards."""
    log = _index_log(path, spark)
    params = {
        "shingle_n": int(shingle_n),
        "num_bands": int(num_bands),
        "n_buckets": int(n_buckets),
    }
    rows = band_rows(docs, id_col, text_col, shingle_n, num_bands, n_buckets)
    bdir = os.path.join(path.rstrip("/"), BANDS_DIR)
    with log.transaction(payload={"op": "build", "lsh": params}) as meta:
        rows = rows.persist()
        try:
            n = rows.count()
            if n:
                (
                    rows.repartition("bucket")
                    .write.mode("overwrite")
                    .partitionBy("bucket")
                    .option("compression", "snappy")
                    .parquet(bdir)
                )
        finally:
            rows.unpersist()
        meta.update(rows=n, partitions=[])
    return {"rows": n, **params}


_BANDS_SCHEMA = "doc_id long, band int, sig string, bucket int"


def read_lsh_index(spark: SparkSession, path: str) -> DataFrame:
    """The persisted band table (doc_id, band, sig, bucket); an index
    built empty (or deleted empty) reads as an empty frame.  Only the
    genuinely-empty case maps to empty — a transient store error or a
    corrupt footer must fail loudly, never masquerade as 'no
    duplicates'."""
    _params(_index_log(path, spark))  # raises loudly if never built
    bdir = os.path.join(path.rstrip("/"), BANDS_DIR)
    fs = get_fs(bdir, spark)
    has_data = fs.exists(bdir) and any(
        not f.startswith((".", "_")) for _, f in fs.walk_files(bdir)
    )
    if not has_data:
        return spark.createDataFrame([], _BANDS_SCHEMA)
    return spark.read.parquet(bdir)


def lsh_index_pairs(spark: SparkSession, path: str) -> DataFrame:
    """Candidate near-dup pairs from the PERSISTED index — the
    (band, sig) self-equi-join of `minhash_lsh_pairs`, minus the
    signature recomputation it exists to avoid."""
    melted = read_lsh_index(spark, path)
    a, b = melted.alias("a"), melted.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def apply_cdf_to_lsh(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    txn: tuple[str, int] | None = None,
) -> dict:
    """Apply ONE batch of row-level CDF changes (`_change_type` in
    insert / update_postimage / delete + `commit_version`) to the
    persisted band table as ONE index commit.  Final state per doc is
    resolved first (newest lake commit wins across a drained batch),
    then: surviving inserts/updates get fresh signatures, and every
    changed doc's old band rows drop — only the hash buckets holding
    changed docs are rewritten.  `txn=(app_id, batch_id)` replays are
    detected in the index's own commit log and skipped (exactly-once
    within one checkpoint lineage)."""
    log = _index_log(path, spark)
    if txn is not None and log.last_txn_version(txn[0]) >= int(txn[1]):
        return {"rows": 0, "removed": 0, "skipped": True}
    params = _params(log)
    payload: dict = {"op": "cdf_apply", "lsh": params}
    if txn is not None:
        payload["txn"] = {"app": txn[0], "version": int(txn[1])}
    ch = changes.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.col("_change_type").alias("_ct"),
        (
            F.col("commit_version")
            if "commit_version" in changes.columns
            else F.lit(0)
        ).cast("long").alias("_cv"),
    )
    # ts-moving update_where emits a delete pre-image AND an
    # update_postimage for the SAME doc at the SAME commit_version —
    # break the tie deterministically (live image beats tombstone) or a
    # live doc can silently drop from the index.
    ct_rank = (
        F.when(F.col("_ct").isin("insert", "update_postimage"), F.lit(1))
        .otherwise(F.lit(0))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_cv"), ct_rank.desc())
    final = (
        ch.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).persist()
    )
    bdir = os.path.join(path.rstrip("/"), BANDS_DIR)
    try:
        with log.transaction(payload=payload) as meta:
            if txn is not None and log.last_txn_version(txn[0]) >= int(txn[1]):
                raise _ReplayedLshTxn()
            ups = final.where(F.col("_ct").isin("insert", "update_postimage")).select(
                F.col("doc_id").alias(id_col), F.col("text").alias(text_col)
            )
            fresh = band_rows(
                ups,
                id_col,
                text_col,
                params["shingle_n"],
                params["num_bands"],
                params["n_buckets"],
            )
            changed = final.select(
                "doc_id",
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(params["n_buckets"])).alias(
                    "bucket"
                ),
            )
            # touched buckets: bounded by n_buckets, driver-side tiny
            touched = sorted(
                int(r["bucket"]) for r in changed.select("bucket").distinct().collect()
            )
            fs_b = get_fs(bdir, spark)
            has_data = fs_b.exists(bdir) and any(
                not f.startswith((".", "_")) for _, f in fs_b.walk_files(bdir)
            )
            if has_data:
                existing = spark.read.parquet(bdir).where(
                    F.col("bucket").isin(touched)
                )
            else:
                existing = None  # first apply onto an empty build
            changed_ids = changed.select("doc_id").distinct()
            keep = fresh
            removed = 0
            if existing is not None:
                removed = existing.join(changed_ids, "doc_id").select(
                    "doc_id"
                ).distinct().count()
                keep = existing.join(changed_ids, "doc_id", "left_anti").unionByName(
                    fresh
                )
            keep = keep.persist()
            try:
                n = keep.count()
                keep_buckets = {
                    int(r["bucket"])
                    for r in keep.select("bucket").distinct().collect()
                }
                with dynamic_partition_overwrite(spark):
                    if n:
                        (
                            keep.repartition("bucket")
                            .write.mode("overwrite")
                            .partitionBy("bucket")
                            .option("compression", "snappy")
                            .parquet(bdir)
                        )
                fs = get_fs(bdir, spark)
                for bk in set(touched) - keep_buckets:
                    fs.rmtree(os.path.join(bdir, f"bucket={bk}"))
            finally:
                keep.unpersist()
            meta.update(rows=n, removed=removed, buckets=len(touched), partitions=[])
            return {"rows": n, "removed": removed, "skipped": False}
    except _ReplayedLshTxn:
        return {"rows": 0, "removed": 0, "skipped": True}
    finally:
        final.unpersist()
