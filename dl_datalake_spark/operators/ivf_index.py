"""Persistent IVF (inverted-file) ANN index: train → write → serve.

The in-query `ivf_topk` rebuilds its coarse quantizer per call; a 100 TB
corpus trains ONCE and serves many queries, so the index here is a
durable artifact with the layout doing the heavy lifting:

- `train_ivf`: Lloyd iterations expressed relationally (assign = argmax
  cosine vs broadcast centroids; update = posexplode + per-dim avg) —
  no UDF, no driver collect, deterministic init (xxhash64-ranked seed
  vectors) so retraining reproduces the same index bit-for-bit.
- `write_ivf_index`: vectors land in parquet PARTITIONED BY CELL.
  That single decision is the query-time win: probing `nprobe` of
  `num_cells` cells scans only those partition directories — Spark's
  partition pruning turns ANN's "touch 1/64th of the data" promise
  into actual file-level I/O skipping, verified by inputFiles() in the
  tests.
- `search_ivf_index`: queries pick cells against the broadcast
  centroid table; the candidate cell set (≤ num_cells values) becomes
  an IN-list partition filter; exact cosine rerank within the pruned
  scan.

(The reference has no vector surface at all; this is LLM-extension
territory on the same lake layout discipline as lake/writer.py's
Hive partitioning.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.fs import get_fs
from dl_datalake_spark.operators.similarity import _with_norm, cosine, cosine_scored
from dl_datalake_spark.session import dynamic_partition_overwrite

CENTROIDS_DIR = "centroids"
VECTORS_DIR = "vectors"


def _index_log(path: str, spark: SparkSession | None = None) -> CommitLog:
    """The index's commit log. It lives in a SIBLING dir (`<path>_commits`)
    because write_ivf_index replaces the index dir wholesale by rename —
    an in-tree log would be destroyed by every rebuild.  Serializes
    rebuilds, upserts, and repairs across processes/hosts, the same
    discipline as LakeWriter (lake/commitlog.py)."""
    p = path.rstrip("/")
    return CommitLog(p, fs=get_fs(p, spark), log_dir=p + "_commits")


def _vectors_with_seq(
    spark: SparkSession, vdir: str, empty_like: DataFrame | None = None
) -> DataFrame:
    """Vectors with their ingest sequence; indexes written before the
    _ingest_seq column existed read as seq 0 (mergeSchema + coalesce).

    `empty_like`: a frame whose (vec_id, embedding, cell, _ingest_seq)
    schema stands in when the vectors dir holds no parquet files — the
    state a delete that emptied the index leaves behind.  Maintenance
    paths pass it so the next batch repopulates instead of dying on
    UNABLE_TO_INFER_SCHEMA; read paths omit it (an empty index should
    fail their scan loudly)."""
    from pyspark.errors import AnalysisException

    try:
        v = spark.read.option("mergeSchema", "true").parquet(vdir)
    except AnalysisException:
        if empty_like is None:
            raise
        return empty_like.select(
            "vec_id", "embedding", "cell", "_ingest_seq"
        ).limit(0)
    if "_ingest_seq" not in v.columns:
        v = v.withColumn("_ingest_seq", F.lit(0).cast("long"))
    return v.withColumn("_ingest_seq", F.coalesce(F.col("_ingest_seq"), F.lit(0)).cast("long"))


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid cell per vector (ties → smallest cell id).

    argmax as min(struct(-sim, cell)) — a hash agg with map-side
    partial merge, so the num_cells× exploded scoring rows collapse
    BEFORE the shuffle. A row_number window here would sort-shuffle
    the full exploded set; the agg form shuffles one row per vector.
    first(embedding) is safe: every scored row of a vec_id carries the
    identical vector.
    """
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cell",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6).alias("sim"),
    )
    return scored.groupBy("vec_id").agg(
        F.first("embedding").alias("embedding"),
        F.min(F.struct((-F.col("sim")).alias("neg"), F.col("cell").alias("cell")))[
            "cell"
        ].alias("cell"),
    )


def _means(assigned: DataFrame) -> DataFrame:
    """Per-cell centroid: posexplode + per-dim avg (order-independent
    enough for convergence; determinism of the FINAL index comes from
    the rounded assignment step, not the raw means)."""
    exploded = assigned.select(
        "cell", F.posexplode("embedding").alias("i", "v_raw")
    ).select("cell", "i", F.col("v_raw").cast("double").alias("v"))
    dims = exploded.groupBy("cell", "i").agg(F.avg("v").alias("mean_v"))
    return dims.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mean_v"))), lambda s: s.mean_v
        ).alias("cv")
    )


def _seed_centroids(vecs: DataFrame, num_cells: int) -> DataFrame:
    """Deterministic seeds: top-k by hash via orderBy().limit(), which
    compiles to TakeOrderedAndProject (per-partition heaps + driver
    merge of k rows) — NOT a global row_number window, which would
    sort the whole corpus on one partition (plan-pinned in tests).
    The k survivors then rank locally."""
    seeds = (
        vecs.select("vec_id", "embedding", F.xxhash64("vec_id").alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(num_cells)
    )
    seed_w = Window.orderBy("_h", "vec_id")  # num_cells rows — trivial
    return seeds.withColumn("rn", F.row_number().over(seed_w)).select(
        (F.col("rn") - 1).cast("int").alias("cell"), F.col("embedding").alias("cv")
    )


def train_ivf(
    df: DataFrame,
    num_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K-means coarse quantizer, returns (cell int, cv array<double>).

    Seeds are the `num_cells` vectors ranking first by xxhash64(id) —
    a deterministic pseudo-random spread with no driver round-trip.
    Empty cells keep their previous centroid (left-join coalesce), so
    the cell count never silently shrinks.
    """
    vecs = df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("embedding"),
    )
    # localCheckpoint pins the seed ranking so iterations don't replay it
    cents = _seed_centroids(vecs, num_cells).localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = _assign(vecs, cents)
        new = _means(assigned)
        cents = (
            cents.select("cell", F.col("cv").alias("old_cv"))
            .join(new, "cell", "left")
            .select("cell", F.coalesce(F.col("cv"), F.col("old_cv")).alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents


def write_ivf_index(
    df: DataFrame,
    cents: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the index: centroids (tiny) + vectors partitioned by
    cell — the partition layout IS the inverted file.  Runs as a commit
    transaction so a rebuild and a concurrent upsert/repair serialize
    instead of interleaving."""
    import uuid

    vecs = df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("embedding"),
    )
    assigned = _assign(vecs, cents).withColumn("_ingest_seq", F.lit(0).cast("long"))
    spark = df.sparkSession
    fs = get_fs(path.rstrip("/"), spark)
    with _index_log(path, spark).transaction(payload={"op": "rebuild"}) as meta:
        # build the whole index in a staging dir NEXT TO the destination
        # (same parent => same filesystem), then swap with an atomic
        # rename — a rebuild never leaves a reader facing half-written
        # cells. Staging in /tmp would make the final move a recursive
        # copy when the index lives on a different mount, voiding the
        # atomicity.
        tmp = path.rstrip("/") + f".staging.{uuid.uuid4().hex}"
        cents.write.mode("overwrite").parquet(os.path.join(tmp, CENTROIDS_DIR))
        (
            assigned.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(tmp, VECTORS_DIR))
        )
        old_dir = path.rstrip("/") + f".old.{uuid.uuid4().hex}"
        if fs.exists(path):
            fs.rename(path, old_dir)
        fs.rename(tmp, path)
        fs.rmtree(old_dir)
        meta["cells"] = cents.count()


def read_ivf_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    cents = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
    return cents, _vectors_with_seq(spark, os.path.join(path, VECTORS_DIR))


def search_ivf_index(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors from the persisted index, touching only
    the probed cells' files. Returns (q_id, c_id, cos_sim, rank)."""
    cents = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
    vectors = _vectors_with_seq(spark, os.path.join(path, VECTORS_DIR))
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    aw = Window.partitionBy("q_id").orderBy(F.desc("cent_sim"), F.asc("cell"))
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("cent_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
        .withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "qv", "cell")
    )
    # the probed-cell set is ≤ num_cells scalars — an IN-list literal
    # is what lets the file source prune partition directories
    cells = [r["cell"] for r in probed.select("cell").distinct().collect()]
    cand = vectors.where(F.col("cell").isin(cells)).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv2"),
        "cell",
        "_ingest_seq",
    )
    # Keep-latest per candidate id: if an upserted vector changed cell,
    # its stale copy may still sit in another probed cell — the newest
    # _ingest_seq wins, so search never returns the superseded vector
    # when both copies are in view (fsck_ivf_index finds the stale set;
    # repair_ivf_index removes it).  Cost: one extra shuffle over the
    # PROBED candidates only, not the index.
    dw = Window.partitionBy("c_id").orderBy(F.desc("_ingest_seq"), F.desc("cell"))
    cand = (
        cand.withColumn("_rn", F.row_number().over(dw))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_ingest_seq")
    )
    scored = (
        _with_norm(probed, "qv", "q_nrm")
        .join(
            _with_norm(cand, "cv2", "c_nrm"),
            "cell",
        )
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(
                cosine_scored(F.col("qv"), F.col("cv2"), "q_nrm", "c_nrm"), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def upsert_ivf_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally absorb a batch of vectors into a persisted index —
    the 100 TB maintenance path: a daily embedding batch must NOT cost
    a full retrain + rewrite.

    Mechanics mirror the lake writer's upsert: new vectors are assigned
    to cells against the EXISTING (frozen) centroids, only the touched
    cell partitions are read back, keep-last per vec_id resolves
    re-inserts, and dynamic partition overwrite rewrites just those
    cells. Cost is O(batch + touched cells), never O(index).

    Contract: embeddings are immutable per vec_id. A re-insert of an
    existing id with the SAME vector replaces it in place (dedup). A
    CHANGED vector re-assigns to a new cell; if the old copy's cell is
    not touched by this batch, it stays on disk as a STALE copy — but
    the contract is now enforced rather than merely documented: every
    upserted row carries a monotone `_ingest_seq` (the commit-log
    version), search keeps only the newest copy per vec_id among its
    candidates, `fsck_ivf_index` lists every vec_id with a superseded
    copy, and `repair_ivf_index` rewrites exactly the cells holding
    stale copies. Full retrain remains the answer to centroid drift.

    The read-merge-overwrite cycle runs inside a commit-log transaction
    (same discipline as LakeWriter): two concurrent upserts into an
    overlapping cell can no longer lose one batch's vectors, and a
    rebuild/repair cannot interleave with an upsert.

    Returns the number of rows now present in the touched cells.
    """
    vecs = df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("embedding"),
    )
    log = _index_log(path, spark)
    with log.transaction(payload={"op": "upsert"}) as meta:
        cents = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
        new_seq = log.latest_version() + 1  # monotone across commits
        assigned = _assign(vecs, cents).withColumn(
            "_ingest_seq", F.lit(new_seq).cast("long")
        )
        cells = [r["cell"] for r in assigned.select("cell").distinct().collect()]
        if not cells:
            meta["rows"] = 0
            return 0
        vdir = os.path.join(path, VECTORS_DIR)
        existing = _vectors_with_seq(spark, vdir, empty_like=assigned).where(
            F.col("cell").isin(cells)
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("_ingest_seq"))
        merged = (
            existing.unionByName(assigned)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .persist()
        )
        try:
            n = merged.count()  # pin rows before the overwrite drops inputs
            with dynamic_partition_overwrite(spark):
                (
                    merged.repartition("cell")
                    .write.mode("overwrite")
                    .partitionBy("cell")
                    .parquet(vdir)
                )
        finally:
            merged.unpersist()
        meta["rows"] = n
        meta["cells"] = len(cells)
    return n


def delete_from_ivf_index(
    spark: SparkSession,
    ids,
    path: str,
) -> int:
    """Remove vectors by id — the index-side mirror of the lake's
    row-level `delete_where`, so a GDPR purge of documents also purges
    their vectors from search (the round-5 gap: deleted documents'
    embeddings stayed searchable forever).

    `ids` is a Python sequence of vec_ids or a single-column DataFrame
    (any column name).  Mechanics are the same O(touched cells) cycle as
    `upsert_ivf_index`: one metadata probe finds the cells holding the
    ids (the join is key-only — embedding payloads never shuffle), a
    broadcast anti-join drops the rows, dynamic partition overwrite
    rewrites ONLY those cells, and a cell emptied by the delete has its
    directory dropped explicitly (dynamic overwrite cannot delete a
    partition absent from the output).  Stale superseded copies of a
    deleted id in OTHER cells are in the touched set too (the probe sees
    every copy), so a delete never leaves a resurrectable ghost for
    fsck/repair to trip over.

    Purge lists are broadcast: a compliance batch is small relative to
    the index (≤ millions of keys); route a larger-than-memory delete
    through repeated batches.  Runs inside the index commit transaction,
    serialized against upsert/repair/rebuild.  Returns rows removed.
    """
    vdir = os.path.join(path, VECTORS_DIR)
    log = _index_log(path, spark)
    with log.transaction(payload={"op": "delete"}) as meta:
        v = _vectors_with_seq(spark, vdir)
        id_type = v.schema["vec_id"].dataType
        if isinstance(ids, DataFrame):
            del_df = ids.select(F.col(ids.columns[0]).cast(id_type).alias("vec_id"))
        else:
            del_df = spark.createDataFrame(
                [(i,) for i in ids], ["vec_id"]
            ).select(F.col("vec_id").cast(id_type))
        del_df = del_df.distinct()
        touched = (
            v.join(F.broadcast(del_df), "vec_id")
            .select("cell")
            .distinct()
        )
        cells = [r["cell"] for r in touched.collect()]
        if not cells:
            meta["removed"] = 0
            meta["cells"] = 0
            return 0
        sub = v.where(F.col("cell").isin(cells))
        keep = sub.join(F.broadcast(del_df), "vec_id", "left_anti").persist()
        try:
            before = sub.count()
            after = keep.count()
            keep_cells = {r["cell"] for r in keep.select("cell").distinct().collect()}
            with dynamic_partition_overwrite(spark):
                if after:
                    (
                        keep.repartition("cell")
                        .write.mode("overwrite")
                        .partitionBy("cell")
                        .parquet(vdir)
                    )
            fs = get_fs(vdir, spark)
            for c in set(cells) - keep_cells:
                fs.rmtree(os.path.join(vdir, f"cell={c}"))
        finally:
            keep.unpersist()
        meta["removed"] = before - after
        meta["cells"] = len(cells)
    return before - after


class _ReplayedIvfTxn(Exception):
    """Internal: idempotent-txn replay detected under the index commit
    claim — aborts the transaction cleanly (mirrors lake/writer.py)."""


def apply_cdf_to_ivf(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: tuple[str, int] | None = None,
) -> dict:
    """Apply ONE batch of row-level CDF changes (lake change feed:
    `_change_type` in insert / update_postimage / delete, plus
    `commit_version`) to a persisted IVF index as ONE index commit —
    the glue that lets the ANN index FOLLOW the lake
    (streaming/ingest.stream_cdf_into_ivf wires it into foreachBatch).

    A batch may span many lake commits (availableNow drains history),
    so the final state per id is resolved FIRST (newest commit_version
    wins), then inserts/update-postimages upsert against the frozen
    centroids and deletes purge every copy — the same O(batch + touched
    cells) cycle as upsert_ivf_index/delete_from_ivf_index, in one
    transaction so a crash can't apply half a batch.

    `txn=(app_id, version)` makes the application IDEMPOTENT (the
    index commit log records Delta-style txnAppId/txnVersion,
    `CommitLog.last_txn_version`): a replayed micro-batch is skipped,
    giving the stream exactly-once semantics within one checkpoint
    lineage (same scope caveat as stream_append_ingest — a wiped
    checkpoint with UNPROCESSED lake commits must use a new app_id or
    rebuild).  Returns {"rows": upserted-cell rows, "removed": n,
    "skipped": bool}."""
    log = _index_log(path, spark)
    if txn is not None and log.last_txn_version(txn[0]) >= int(txn[1]):
        return {"rows": 0, "removed": 0, "skipped": True}
    payload: dict = {"op": "cdf_apply"}
    if txn is not None:
        payload["txn"] = {"app": txn[0], "version": int(txn[1])}
    ch = changes.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("embedding"),
        F.col("_change_type").alias("_ct"),
        (
            F.col("commit_version")
            if "commit_version" in changes.columns
            else F.lit(0)
        ).cast("long").alias("_cv"),
    )
    # final state per id across the batch's lake commits — persisted:
    # ups/dels/probe_ids/removed all derive from it across several
    # actions, and re-running the batch window per action would
    # multiply the catch-up batch's scan cost
    # ts-moving update_where emits a delete pre-image AND an
    # update_postimage for the SAME vec at the SAME commit_version —
    # break the tie deterministically (live image beats tombstone).
    ct_rank = (
        F.when(F.col("_ct").isin("insert", "update_postimage"), F.lit(1))
        .otherwise(F.lit(0))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cv"), ct_rank.desc())
    final = (
        ch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .persist()
    )
    ups = final.where(F.col("_ct").isin("insert", "update_postimage")).select(
        "vec_id", "embedding"
    )
    dels = final.where(F.col("_ct") == "delete").select("vec_id")
    vdir = os.path.join(path, VECTORS_DIR)
    try:
        with log.transaction(payload=payload) as meta:
            if txn is not None and log.last_txn_version(txn[0]) >= int(txn[1]):
                raise _ReplayedIvfTxn()
            cents = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
            new_seq = log.latest_version() + 1
            assigned = _assign(ups, cents).withColumn(
                "_ingest_seq", F.lit(new_seq).cast("long")
            )
            # empty_like: a prior batch may have deleted the index empty
            v = _vectors_with_seq(spark, vdir, empty_like=assigned)
            del_df = dels.distinct()
            up_cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
            # probe EVERY changed id's existing cells (key-only broadcast
            # join, embeddings never shuffle): deleted ids so every copy
            # is purged, AND updated ids so a cell-CHANGING update's old
            # copy lands in the touched set and is dropped by the
            # keep-last merge — stronger than upsert_ivf_index's
            # documented stale-copy exposure, because the feed tells us
            # exactly which ids changed
            probe_ids = final.select("vec_id").distinct()
            probe_cells = {
                r["cell"]
                for r in v.join(F.broadcast(probe_ids), "vec_id")
                .select("cell")
                .distinct()
                .collect()
            }
            cells = sorted(up_cells | probe_cells)
            if not cells:
                meta.update(rows=0, removed=0, cells=0)
                return {"rows": 0, "removed": 0, "skipped": False}
            sub = v.where(F.col("cell").isin(cells))
            removed = sub.join(F.broadcast(del_df), "vec_id").count()
            wk = Window.partitionBy("vec_id").orderBy(F.desc("_ingest_seq"))
            keep = (
                sub.unionByName(assigned)
                .withColumn("_rn", F.row_number().over(wk))
                .where(F.col("_rn") == 1)
                .drop("_rn")
                .join(F.broadcast(del_df), "vec_id", "left_anti")
                .persist()
            )
            try:
                n = keep.count()
                keep_cells = {
                    r["cell"] for r in keep.select("cell").distinct().collect()
                }
                with dynamic_partition_overwrite(spark):
                    if n:
                        (
                            keep.repartition("cell")
                            .write.mode("overwrite")
                            .partitionBy("cell")
                            .parquet(vdir)
                        )
                fs = get_fs(vdir, spark)
                for c in set(cells) - keep_cells:
                    fs.rmtree(os.path.join(vdir, f"cell={c}"))
            finally:
                keep.unpersist()
            meta.update(rows=n, removed=removed, cells=len(cells))
            return {"rows": n, "removed": removed, "skipped": False}
    except _ReplayedIvfTxn:
        return {"rows": 0, "removed": 0, "skipped": True}
    finally:
        final.unpersist()


def fsck_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """Index consistency check: vec_ids present in MORE THAN ONE cell —
    the stale-copy state a cell-changing upsert can leave behind.

    One O(index keys) hash aggregation over (vec_id, cell, seq); the
    embedding payloads are never shuffled.  Returns
    (vec_id, n_copies, cells array, live_seq, live_cell) per violation —
    empty means the documented immutability contract holds.
    """
    v = _vectors_with_seq(spark, os.path.join(path, VECTORS_DIR))
    per_copy = v.select("vec_id", "cell", "_ingest_seq")
    return (
        per_copy.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.array_sort(F.collect_set("cell")).alias("cells"),
            F.max("_ingest_seq").alias("live_seq"),
            F.max_by("cell", F.struct("_ingest_seq", "cell")).alias("live_cell"),
        )
        .where(F.col("n_copies") > 1)
    )


def ivf_drift_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell index health — the RETRAIN trigger.  Upserts assign new
    vectors against FROZEN centroids (upsert_ivf_index contract), so a
    shifting data distribution degrades silently in two measurable
    ways: cells grow imbalanced (hot cells stop pruning reads) and
    members drift away from their centroid (candidate quality drops).
    Returns one row per cell:

      (cell, n_vectors, share, mean_centroid_sim, max_over_mean)

    mean_centroid_sim is the exact-ratio mean of per-member
    ROUND(cos, 6) (micros — engine-stable); max_over_mean > ~3 or a
    falling mean_centroid_sim says retrain (train_ivf + write_ivf_index
    rebuild, serialized by the index commit log).  One broadcast join +
    one hash agg over (cell): O(index) scan, no shuffle of embeddings.
    """
    from dl_datalake_spark.functions.exact import ratio_round

    cents, vectors = read_ivf_index(spark, path)
    sim_u = F.round(
        F.round(cosine(F.col("embedding"), F.col("cv")), 6) * 1_000_000
    ).cast("long")
    per_cell = (
        vectors.join(F.broadcast(cents), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(sim_u).alias("_sim_u"),
        )
    )
    tot = per_cell.agg(
        F.sum("n_vectors").alias("_tot"),
        (F.sum("n_vectors") / F.count(F.lit(1))).alias("_mean_n"),
    )
    return (
        per_cell.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vectors",
            ratio_round(F.col("n_vectors"), F.col("_tot")).alias("share"),
            ratio_round(F.col("_sim_u"), F.col("n_vectors") * 1_000_000).alias(
                "mean_centroid_sim"
            ),
            F.round(F.col("n_vectors") / F.col("_mean_n"), 4).alias("load_vs_mean"),
        )
        .orderBy("cell")
    )


def repair_ivf_index(spark: SparkSession, path: str) -> int:
    """Remove superseded copies found by fsck: rewrite ONLY the cells
    holding a stale copy, keeping the max-_ingest_seq row per vec_id.
    O(stale cells), never O(index).  Returns the number of stale rows
    removed.  Runs as a commit transaction (serialized vs upserts)."""
    log = _index_log(path, spark)
    with log.transaction(payload={"op": "repair"}) as meta:
        vdir = os.path.join(path, VECTORS_DIR)
        bad = fsck_ivf_index(spark, path)
        # cells containing a NON-live copy are the ones to rewrite
        stale_cells_df = (
            _vectors_with_seq(spark, vdir)
            .join(bad.select("vec_id", "live_seq", "live_cell"), "vec_id")
            .where(
                (F.col("_ingest_seq") != F.col("live_seq"))
                | (F.col("cell") != F.col("live_cell"))
            )
            .select("cell")
            .distinct()
        )
        cells = [r["cell"] for r in stale_cells_df.collect()]
        if not cells:
            meta["removed"] = 0
            return 0
        sub = _vectors_with_seq(spark, vdir).where(F.col("cell").isin(cells))
        w = Window.partitionBy("vec_id").orderBy(F.desc("_ingest_seq"), F.desc("cell"))
        keep = (
            sub.join(bad.select("vec_id", "live_cell"), "vec_id", "left")
            # a row survives iff it is not a superseded copy: either its
            # vec_id is clean, or this row IS the live copy
            .where(F.col("live_cell").isNull() | (F.col("cell") == F.col("live_cell")))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "live_cell")
            .persist()
        )
        try:
            before = sub.count()
            after = keep.count()
            keep_cells = {r["cell"] for r in keep.select("cell").distinct().collect()}
            with dynamic_partition_overwrite(spark):
                (
                    keep.repartition("cell")
                    .write.mode("overwrite")
                    .partitionBy("cell")
                    .parquet(vdir)
                )
            # dynamic overwrite only replaces partitions PRESENT in the
            # output — a cell whose every row was stale produces nothing,
            # so its directory must be dropped explicitly
            fs = get_fs(vdir, spark)
            for c in set(cells) - keep_cells:
                fs.rmtree(os.path.join(vdir, f"cell={c}"))
        finally:
            keep.unpersist()
        meta["removed"] = before - after
    return before - after
