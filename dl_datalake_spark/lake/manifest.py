"""Manifest catalog: one row per dataset write, path-keyed upsert.

Reference: SQLite via SQLAlchemy (`metadata/manifest.py:22-173`) — one
row per physical file with time_from/time_to for watermark resume, kept
on the driver.

Here the catalog is a small Parquet table (`<path>/part-*.parquet`,
MANIFEST_SCHEMA) with a path-keyed keep-last upsert. It is tiny,
driver-local metadata — NOT the data plane — so every commit and lookup
(`add_entries`, `delete_entries`, `watermark`, `get_latest_version`)
reads and writes it on the driver with PyArrow through the manifest's
own Filesystem (LocalFS, HadoopFS, object stores) and starts zero Spark
jobs. `load()`, `list_entries()` and `load_at()` still return Spark
DataFrames over the same files for callers that filter or join in Spark.

The on-disk layout is unchanged: a mutation writes the whole new state
into a staging directory next to the manifest and swaps it in with two
renames (atomic on POSIX/HDFS; a failed swap restores the previous
state), then adds one `<path>_history/snapshot_ts=N` copy for time
travel. The reader takes every `*.parquet` in the directory and skips
`_`/`.` names, so a catalog written by Spark (several part files,
`_SUCCESS`, `.crc`) loads and upserts as is. On a shared deployment this
would be a Delta table with MERGE; the API here is storage-agnostic.

Fixes the reference's semver bug (`manifest.py:111` int-casts version →
crashes on "1.0.0", observed in test_11): get_latest_version sorts by
numeric components.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import datetime, timezone
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dl_datalake_spark.lake.commitlog import CommitLog
from dl_datalake_spark.lake.fs import Filesystem, get_fs
from dl_datalake_spark.lake.paths import sanitize_symbol

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("exchange", T.StringType()),
        T.StructField("market", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("time_from", T.LongType()),
        T.StructField("time_to", T.LongType()),
        T.StructField("version", T.StringType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("script_git_hash", T.StringType()),
        T.StructField("metadata_json", T.StringType()),
    ]
)

# The same columns as Arrow types; `created_at` is a UTC instant, which
# Spark reads back as TimestampType with the same value.
_ARROW_TYPES = {
    T.LongType(): pa.int64(),
    T.StringType(): pa.string(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}
ARROW_SCHEMA = pa.schema([(f.name, _ARROW_TYPES[f.dataType]) for f in MANIFEST_SCHEMA.fields])


_GIT_HASH_CACHE: dict[str, str | None] = {}


def current_git_hash() -> str | None:
    """PRODUCING-SCRIPT git hash for provenance stamping (the reference
    records the ingest script's hash per manifest row, manifest.py:38).
    Resolution order: `DL_DATALAKE_GIT_HASH` env var, then the caller's
    CWD's repo — never this package's own checkout, which is a framework
    detail (and meaningless when installed as a wheel). None outside a
    repo. Cached per cwd."""
    env = os.environ.get("DL_DATALAKE_GIT_HASH")
    if env:
        return env
    cwd = os.getcwd()
    if cwd not in _GIT_HASH_CACHE:
        import subprocess

        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=cwd,
                capture_output=True,
                text=True,
                timeout=5,
            )
            _GIT_HASH_CACHE[cwd] = out.stdout.strip() if out.returncode == 0 else None
        except Exception:
            _GIT_HASH_CACHE[cwd] = None
    return _GIT_HASH_CACHE[cwd]


def _version_sort_key(v: str) -> tuple:
    parts = []
    for p in str(v).replace("-", ".").split("."):
        parts.append((0, int(p)) if p.isdigit() else (1, p))
    return tuple(parts)


def _json_text(doc: str | None, key: str) -> str | None:
    """`get_json_object(doc, '$.key')` on the driver: the value's text,
    strings unquoted; None when the key is absent or the JSON is bad."""
    try:
        v = json.loads(doc)[key] if doc else None
    except (ValueError, KeyError, TypeError):
        return None
    return v if v is None or isinstance(v, str) else json.dumps(v, separators=(",", ":"))


def _where(
    table: pa.Table,
    symbol: str | None = None,
    data_type: str | None = None,
    exchange: str | None = None,
    market: str | None = None,
    timeframe: str | None = None,
    path: str | None = None,
    id: int | None = None,
) -> pa.Table:
    """The `list_entries` filters as Arrow kernels. The JSON timeframe
    predicate runs last, so it parses only the rows the others kept."""
    for col, value in (
        ("path", path),
        ("id", id),
        # filters accept raw symbols ("BTC/USDT"); entries store the
        # sanitized key ("BTC_USDT"), same as the path layout
        ("symbol", None if symbol is None else sanitize_symbol(symbol)),
        ("data_type", data_type),
        ("exchange", None if exchange is None else exchange.upper()),
        ("market", None if market is None else market.upper()),
    ):
        if value is not None:
            table = table.filter(pc.equal(table[col], value))
    if timeframe is not None:
        docs = table["metadata_json"].to_pylist()
        table = table.filter(pa.array([_json_text(d, "timeframe") == timeframe for d in docs]))
    return table


# columns whose values repeat across datasets; the rest are near-unique,
# where a dictionary page only adds bytes
_DICT_COLUMNS = ["exchange", "market", "symbol", "data_type", "version", "script_git_hash"]


def _encode(table: pa.Table) -> bytes:
    """Snappy Parquet without the Arrow schema blob or column statistics
    (the catalog is read whole, and its rows are in no order a min/max
    could skip on); an empty catalog is a file with no row group, as
    Spark writes one."""
    sink = pa.BufferOutputStream()
    with pq.ParquetWriter(
        sink, ARROW_SCHEMA, compression="snappy", store_schema=False,
        use_dictionary=_DICT_COLUMNS, write_statistics=False,
    ) as w:
        if table.num_rows:
            w.write_table(table)
    return sink.getvalue().to_pybytes()


class ManifestManager:
    def __init__(
        self,
        spark: SparkSession,
        manifest_path: str,
        keep_history: bool = True,
        fs: Filesystem | None = None,
    ):
        self.spark = spark
        self.path = manifest_path.rstrip("/")
        self.keep_history = keep_history
        self.fs = fs if fs is not None else get_fs(self.path, spark)
        # Catalog mutations are read-modify-write; the commit log
        # serializes them across processes AND hosts (the reference
        # serializes the same section behind SQLite's single-host file
        # lock, manifest.py:52-55).  The log dir is a SIBLING of the
        # manifest dir because _store replaces the manifest dir wholesale.
        self._log = CommitLog(self.path, fs=self.fs, log_dir=self.path + "_commits")

    def _txn(self):
        return self._log.transaction(timeout=60.0)

    # -- storage ------------------------------------------------------------

    def _exists(self) -> bool:
        return any(f.endswith(".parquet") for f in self.fs.listdir(self.path))

    def load(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def _read(self) -> pa.Table:
        """The catalog on the driver: every `*.parquet` in the manifest
        dir (`_`/`.` names skipped), conformed to ARROW_SCHEMA. A file
        swapped away between the listing and its read (a commit racing
        a lookup) restarts the read, up to three times."""
        attempts = 3
        for attempt in range(attempts):
            try:
                parts = [
                    pq.read_table(pa.BufferReader(self.fs.read_bytes(f"{self.path}/{name}")))
                    .select(ARROW_SCHEMA.names)
                    .cast(ARROW_SCHEMA)
                    for name in sorted(self.fs.listdir(self.path))
                    if name.endswith(".parquet") and not name.startswith(("_", "."))
                ]
            except OSError:
                if attempt == attempts - 1:
                    raise
                continue
            return pa.concat_tables(parts) if parts else ARROW_SCHEMA.empty_table()

    def _entries(self, **filters) -> list[dict]:
        """Catalog rows matching the `list_entries` filters (plus `id`),
        ordered by id, as dicts shaped like `list_entries().collect()`
        rows: `created_at` is a naive local datetime."""
        rows = _where(self._read(), **filters).sort_by("id").to_pylist()
        for r in rows:
            if r["created_at"] is not None:
                r["created_at"] = r["created_at"].astimezone().replace(tzinfo=None)
        return rows

    def _write_dir(self, path: str, data: bytes) -> None:
        self.fs.makedirs(path)
        self.fs.write_bytes_atomic(f"{path}/part-00000-{uuid.uuid4().hex}.parquet", data)

    def _store(self, table: pa.Table) -> None:
        """Atomic replace: write to a staging dir NEXT TO the manifest
        (same filesystem, so both swap steps are atomic renames — a
        tempdir stage would degrade to a cross-mount copy), then swap.
        A failed swap puts the previous catalog back."""
        data = _encode(table)
        tmp = self.path + f".staging.{uuid.uuid4().hex}"
        self._write_dir(tmp, data)
        old = self.path + f".old.{uuid.uuid4().hex}"
        moved = False
        try:
            if self.fs.exists(self.path):
                self.fs.rename(self.path, old)
                moved = True
            self.fs.rename(tmp, self.path)
        except BaseException:
            if moved:
                self.fs.rename(old, self.path)
            self.fs.rmtree(tmp)
            raise
        if moved:
            self.fs.rmtree(old)
        if self.keep_history:
            self._append_snapshot(data)

    # -- time travel (Iceberg/Delta-style snapshot log) ---------------------
    #
    # Every committed catalog state is ALSO appended to `<path>_history`
    # stamped with a monotone snapshot_ts (epoch µs), giving the catalog
    # the snapshot lineage the reference's SQLite manifest lacks: any
    # past state is reconstructable (`load_at`), and an ingest rollback
    # is a diff of two snapshots. The log grows by one catalog copy per
    # commit — catalogs are kilobytes-per-thousand-datasets, so even at
    # 100 TB data scale the log stays driver-trivial; prune_history
    # bounds it when commits are very frequent.

    @property
    def history_path(self) -> str:
        return self.path + "_history"

    def _append_snapshot(self, data: bytes) -> None:
        """Add the committed state's Parquet bytes as the next snapshot.
        It is staged in a hidden dir and renamed in, so `load_at` never
        sees a snapshot dir without its file."""
        snap = int(time.time() * 1_000_000)
        last = self._last_snapshot_ts()
        if last is not None and snap <= last:
            snap = last + 1  # clock went backwards / same-µs commit
        stage = f"{self.history_path}/.staging.{uuid.uuid4().hex}"
        self._write_dir(stage, data)
        self.fs.rename(stage, f"{self.history_path}/snapshot_ts={snap}")

    def _last_snapshot_ts(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def snapshots(self) -> list[int]:
        """Committed snapshot timestamps (epoch µs), ascending — read
        from the partition directory names, no data scan."""
        out = []
        for d in self.fs.listdir(self.history_path):
            if d.startswith("snapshot_ts="):
                try:
                    out.append(int(d.split("=", 1)[1]))
                except ValueError:
                    continue
        return sorted(out)

    def load_at(self, ts_us: int) -> DataFrame:
        """The catalog exactly as of epoch-µs `ts_us`: the newest
        snapshot committed at or before that instant. Empty DataFrame
        before the first commit."""
        eligible = [s for s in self.snapshots() if s <= ts_us]
        if not eligible:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        hp = os.path.join(self.history_path, f"snapshot_ts={eligible[-1]}")
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(hp)

    def prune_history(self, keep_last: int = 100) -> int:
        """Drop all but the newest `keep_last` snapshots; returns the
        number removed. Partition-directory deletes — no rewrite."""
        snaps = self.snapshots()
        drop = snaps[:-keep_last] if keep_last > 0 else snaps
        for s in drop:
            self.fs.rmtree(os.path.join(self.history_path, f"snapshot_ts={s}"))
        return len(drop)

    # -- API (reference manifest.py:42-173 parity) --------------------------

    def add_entry(
        self,
        exchange: str,
        market: str,
        symbol: str,
        path: str,
        data_type: str = "raw",
        time_from: int | None = None,
        time_to: int | None = None,
        version: str = "1.0.0",
        checksum: str | None = None,
        script_git_hash: str | None = None,
        metadata: dict[str, Any] | None = None,
    ) -> None:
        self.add_entries(
            [
                {
                    "exchange": exchange,
                    "market": market,
                    "symbol": symbol,
                    "path": path,
                    "data_type": data_type,
                    "time_from": time_from,
                    "time_to": time_to,
                    "version": version,
                    "checksum": checksum,
                    "script_git_hash": script_git_hash,
                    "metadata": metadata,
                }
            ]
        )

    def add_entries(self, rows: list[dict[str, Any]]) -> None:
        """Batched path-keyed upsert: N dataset rows in ONE catalog
        lock + read + merge + store cycle — the MERGE-style union a
        multi-dataset write (writer.write_ohlc_multi) needs, instead of
        N sequential lock/read/store round-trips. Each dict takes the
        add_entry keyword names; `path` must be unique within a batch
        (last write wins is undefined inside one MERGE)."""
        if not rows:
            return
        paths = [r["path"] for r in rows]
        if len(set(paths)) != len(paths):
            raise ValueError("add_entries: duplicate path within one batch")
        with self._txn():
            current = self._read()
            max_id = pc.max(current["id"]).as_py() or 0
            hit = pc.is_in(current["path"], value_set=pa.array(paths, pa.string()))
            # a path-keyed upsert REPLACES the row, so each range must
            # widen monotonically across writes — otherwise a second
            # write's narrower touched-partition range would shadow
            # earlier data and break time-range pruning
            # (plans/manifest_pruning.py) and the resume watermark
            prior = current.filter(hit).group_by("path").aggregate(
                [("time_from", "min"), ("time_to", "max")]
            )
            existing = dict(
                zip(
                    prior["path"].to_pylist(),
                    zip(prior["time_from_min"].to_pylist(), prior["time_to_max"].to_pylist()),
                )
            )
            now = datetime.now(timezone.utc)
            data = []
            for i, r in enumerate(rows):
                tf, tt = r.get("time_from"), r.get("time_to")
                old = existing.get(r["path"])
                if old is not None:
                    if tf is not None and old[0] is not None:
                        tf = min(tf, old[0])
                    if tt is not None and old[1] is not None:
                        tt = max(tt, old[1])
                data.append(
                    {
                        "id": max_id + 1 + i,
                        "exchange": r["exchange"].upper(),
                        "market": r["market"].upper(),
                        "symbol": r["symbol"].upper(),
                        "path": r["path"],
                        "data_type": r.get("data_type", "raw"),
                        "time_from": tf,
                        "time_to": tt,
                        "version": r.get("version", "1.0.0"),
                        "checksum": r.get("checksum"),
                        "created_at": now,
                        "script_git_hash": r.get("script_git_hash") or current_git_hash(),
                        "metadata_json": json.dumps(r.get("metadata") or {}),
                    }
                )
            # path-keyed upsert: new row wins (manifest.py:63-99 semantics)
            new = pa.Table.from_pylist(data, schema=ARROW_SCHEMA)
            self._store(pa.concat_tables([current.filter(pc.invert(hit)), new]))

    def list_entries(
        self,
        symbol: str | None = None,
        data_type: str | None = None,
        exchange: str | None = None,
        market: str | None = None,
        timeframe: str | None = None,
        path: str | None = None,
    ) -> DataFrame:
        df = self.load()
        if path is not None:
            df = df.where(F.col("path") == path)
        if timeframe is not None:
            # JSON-metadata predicate (pipeline.py:147-163 filters the
            # same field row-at-a-time in Python; here it's an engine
            # expression, pushable and parallel)
            df = df.where(
                F.get_json_object(F.col("metadata_json"), "$.timeframe") == timeframe
            )
        if symbol is not None:
            # filters accept raw symbols ("BTC/USDT"); entries store the
            # sanitized key ("BTC_USDT"), same as the path layout
            df = df.where(F.col("symbol") == sanitize_symbol(symbol))
        if data_type is not None:
            df = df.where(F.col("data_type") == data_type)
        if exchange is not None:
            df = df.where(F.col("exchange") == exchange.upper())
        if market is not None:
            df = df.where(F.col("market") == market.upper())
        return df.orderBy("id")

    def delete_entries(self, **filters) -> int:
        with self._txn():
            current = self._read()
            drop = _where(current, **filters)
            if drop.num_rows:
                gone = pc.is_in(current["path"], value_set=drop["path"].combine_chunks())
                self._store(current.filter(pc.invert(gone)))
            return drop.num_rows

    def get_latest_version(self, symbol: str, data_type: str) -> str | None:
        versions = _where(self._read(), symbol=symbol, data_type=data_type)["version"]
        versions = pc.unique(versions).to_pylist()
        if not versions:
            return None
        return max(versions, key=_version_sort_key)

    def watermark(self, exchange: str, symbol: str, data_type: str = "raw") -> int | None:
        """Resume cursor = max(time_to) (exchange_connector.py:89-105)."""
        entries = _where(self._read(), symbol=symbol, data_type=data_type, exchange=exchange)
        return pc.max(entries["time_to"]).as_py()
