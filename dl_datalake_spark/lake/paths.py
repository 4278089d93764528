"""Dataset addressing: (exchange, market, symbol, type, period) → lake layout.

The reference builds paths by hand
(`dl-datalake/src/dl_datalake/storage/writer.py:21-46`) and prunes by
constructing a glob (`storage/reader.py:41-48`). Here the same tuple
becomes Hive-style partition columns, so Catalyst prunes every level —
including year/month, which the reference's `**` glob cannot prune.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_SANITIZE = re.compile(r"[/: ]")

# Hive partition columns, in directory order. `type` from the reference
# (raw/ticks/agg/alt/feature-set) is stored as `data_type` to avoid the
# SQL keyword.
PARTITION_COLS = ("exchange", "market", "symbol", "data_type", "period", "year", "month")
# The dataset-identity levels: directory-constant within one dataset.
IDENTITY_COLS = PARTITION_COLS[:5]


def sanitize_symbol(symbol: str) -> str:
    """BTC/USDT → BTC_USDT, upper-cased (writer.py:31-33 semantics)."""
    return _SANITIZE.sub("_", symbol.upper())


@dataclass(frozen=True)
class DatasetKey:
    exchange: str
    market: str
    symbol: str
    data_type: str = "raw"
    period: str = "1m"

    def normalized(self) -> "DatasetKey":
        return DatasetKey(
            exchange=self.exchange.upper(),
            market=self.market.upper(),
            symbol=sanitize_symbol(self.symbol),
            data_type=self.data_type,
            period=self.period,
        )


def key_from_rel_path(rel: str) -> DatasetKey:
    """Inverse of `dataset_rel_path`: parse a multilog record's dataset
    identity back into a DatasetKey (lake-level restore needs to act on
    datasets it only knows by their recorded rel paths)."""
    parts = dict(
        seg.split("=", 1) for seg in rel.strip("/").split("/") if "=" in seg
    )
    missing = set(IDENTITY_COLS) - set(parts)
    if missing:
        raise ValueError(f"not a dataset rel path (missing {sorted(missing)}): {rel!r}")
    return DatasetKey(
        exchange=parts["exchange"],
        market=parts["market"],
        symbol=parts["symbol"],
        data_type=parts["data_type"],
        period=parts["period"],
    )


def lake_base_of(dataset_path: str) -> str:
    """Inverse of `LakeWriter.dataset_path`: the lake base a dataset
    directory sits under (its path minus the `dataset_rel_path`
    levels).  Raises ValueError for a path not laid out that way."""
    parts = dataset_path.rstrip("/").split("/")
    levels = [seg.partition("=")[0] for seg in parts[-5:]]
    if len(parts) < 6 or levels != list(IDENTITY_COLS):
        raise ValueError(
            f"{dataset_path} is not a <lake base>/exchange=.../period=... "
            f"dataset directory — pass the lake base explicitly"
        )
    return "/".join(parts[:-5])


def dataset_marker_tag(key: DatasetKey) -> str:
    """Short filesystem-safe token naming a dataset inside a SHARED
    artifact dir (e.g. per-dataset `_REQUEUED.<tag>` markers in a
    multi-write quarantine split, which several datasets consume
    independently)."""
    import hashlib

    return hashlib.md5(dataset_rel_path(key).encode()).hexdigest()[:12]


def dataset_rel_path(key: DatasetKey) -> str:
    """The dataset's directory relative to the lake base — the identity
    used by the multi-dataset commit log (lake/multilog.py) and by
    `LakeWriter.dataset_path`/`LakeReader`, so writer intents and reader
    cuts name datasets identically."""
    k = key.normalized()
    return (
        f"exchange={k.exchange}/market={k.market}/symbol={k.symbol}"
        f"/data_type={k.data_type}/period={k.period}"
    )
