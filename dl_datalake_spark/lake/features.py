"""Feature store: versioned opaque feature files + manifest rows.

Reference: `features/manager.py:28-82` — copy the source file to
`data/features/{set}/{version}/{filename}`, sha256 it, register in the
manifest with `type=<set name>`. Feature content is never parsed by the
lake (opaque bytes); Parquet feature sets can be read back as
DataFrames by the caller.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from dl_datalake_spark.lake.fs import Filesystem, get_fs
from dl_datalake_spark.lake.manifest import ManifestManager


def _sha256_file(path: str, block: int = 4096) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while chunk := f.read(block):
            h.update(chunk)
    return h.hexdigest()


class FeatureStore:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        manifest: ManifestManager,
        fs: Filesystem | None = None,
    ):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.manifest = manifest
        self.fs = fs if fs is not None else get_fs(self.base_path, spark)

    def upload_feature(
        self,
        src_path: str,
        exchange: str,
        market: str,
        symbol: str,
        feature_set: str,
        version: str = "1.0.0",
    ) -> str:
        if not os.path.isfile(src_path):
            raise FileNotFoundError(f"feature source not found: {src_path}")
        # src is by definition a LOCAL file (an upload); dest goes
        # through the lake's Filesystem so an object-store base works
        dest_dir = os.path.join(self.base_path, "features", feature_set, version)
        self.fs.makedirs(dest_dir)
        dest = os.path.join(dest_dir, os.path.basename(src_path))
        with open(src_path, "rb") as fh:
            self.fs.write_bytes_atomic(dest, fh.read())
        self.manifest.add_entry(
            exchange=exchange,
            market=market,
            symbol=symbol,
            path=dest,
            data_type=feature_set,
            version=version,
            checksum=_sha256_file(src_path),
            metadata={"feature_set": feature_set},
        )
        return dest

    def list_feature_sets(self) -> dict[str, list[str]]:
        """Feature-set name → sorted version list (A6 group-collect)."""
        from pyspark.sql import functions as F

        rows = (
            self.manifest.load()
            .where(F.get_json_object("metadata_json", "$.feature_set").isNotNull())
            .groupBy("data_type")
            .agg(F.collect_set("version").alias("versions"))
            .collect()
        )
        from dl_datalake_spark.lake.manifest import _version_sort_key

        return {
            r["data_type"]: sorted(r["versions"], key=_version_sort_key, reverse=True)
            for r in rows
        }

    def latest_version(self, symbol: str, feature_set: str) -> str | None:
        return self.manifest.get_latest_version(symbol, feature_set)

    def get_feature_entry(self, feature_id: int) -> dict | None:
        """Manifest row for one feature file by catalog id (reference UI
        `routers/features.py` GET /{feature_id})."""
        rows = self.manifest._entries(id=int(feature_id))
        return rows[0] if rows else None

    def feature_file_path(self, feature_id: int) -> str | None:
        """On-disk path for a feature file by catalog id, or None if the
        id is unknown or the file is gone (reference UI
        `routers/features.py:225-250` GET /{feature_id}/download)."""
        entry = self.get_feature_entry(feature_id)
        if entry is None:
            return None
        path = entry["path"]
        return path if (self.fs.exists(path) and not self.fs.isdir(path)) else None

    def read_feature_parquet(self, feature_set: str, version: str) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.base_path, "features", feature_set, version)
        )
