"""Seeded inputs of the lake benchmark.

Every candle is a closed-form function of (minute, symbol, seed, variant),
written once with NumPy (batches handed to the package as DataFrames) and
once as a Spark SQL expression (the scan lake, built without shipping
millions of rows through Python). Both forms use the same 64-bit integer
arithmetic, so the benchmark derives the exact expected rows, counts and
checksums of any window without reading the lake back.

Prices are whole cents and volumes whole units, so every sum a check
takes is exact in doubles and independent of summation order.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np

MINUTE_MS = 60_000
EPOCH_MS = 1_609_459_200_000  # 2021-01-01T00:00:00Z: minute 0
_MUL, _SYM, _SEED, _VAR, _MOD = 2654435761, 97531, 1000003, 7919, 2**31


def iso(ts_ms: int) -> str:
    """Epoch ms as the naive-UTC ISO string `LakeReader.read_range` takes."""
    return datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc).replace(tzinfo=None).isoformat()


def candles(minutes: np.ndarray, symbol: int, seed: int, variant: int = 0) -> dict:
    """Columns ts, open, high, low, close, volume for the given minutes."""
    m = np.asarray(minutes, dtype=np.int64)
    h = (m * _MUL + symbol * _SYM + seed * _SEED + variant * _VAR) % _MOD
    close = 100_000 + h % 50_000
    open_ = close - (h // 128) % 200 + 100
    high = np.maximum(open_, close) + (h // 1024) % 50
    low = np.minimum(open_, close) - (h // 65536) % 50
    return {
        "ts": EPOCH_MS + m * MINUTE_MS,
        "open": open_ / 100.0,
        "high": high / 100.0,
        "low": low / 100.0,
        "close": close / 100.0,
        "volume": (1 + (h // 4096) % 1000).astype(np.float64),
    }


def candles_sql(minute: str, symbol: str, seed: int) -> list[str]:
    """The same columns as `candles` (variant 0) as Spark SQL over a
    bigint minute column; `symbol` is a SQL expression for the index."""
    h = f"pmod({minute} * {_MUL} + {symbol} * {_SYM} + {seed * _SEED}, {_MOD})"
    close = f"(100000 + {h} % 50000)"
    open_ = f"({close} - ({h} div 128) % 200 + 100)"
    return [
        f"{EPOCH_MS} + {minute} * {MINUTE_MS} AS ts",
        f"{open_} / 100.0D AS open",
        f"(greatest({open_}, {close}) + ({h} div 1024) % 50) / 100.0D AS high",
        f"(least({open_}, {close}) - ({h} div 65536) % 50) / 100.0D AS low",
        f"{close} / 100.0D AS close",
        f"CAST(1 + ({h} div 4096) % 1000 AS DOUBLE) AS volume",
    ]


def trade_id(minutes: np.ndarray) -> np.ndarray:
    """A unique, unordered id per minute (odd multiplier mod 2^31 is a
    bijection), the point-lookup key of the bucketed dataset."""
    return (np.asarray(minutes, dtype=np.int64) * _MUL) % _MOD


def trade_id_sql(minute: str) -> str:
    return f"pmod({minute} * {_MUL}, {_MOD})"


def digest(cols: dict) -> tuple[int, int, int, int]:
    """(rows, sum ts, sum close in cents, sum volume): exact and
    order-independent."""
    ts = np.asarray(cols["ts"], dtype=np.int64)
    close = np.rint(np.asarray(cols["close"], dtype=np.float64) * 100).astype(np.int64)
    vol = np.rint(np.asarray(cols["volume"], dtype=np.float64)).astype(np.int64)
    return int(len(ts)), int(ts.sum()), int(close.sum()), int(vol.sum())


def rows_digest(rows) -> tuple[int, int, int, int]:
    """`digest` of collected Spark rows."""
    if not rows:
        return 0, 0, 0, 0
    return digest({c: [r[c] for r in rows] for c in ("ts", "close", "volume")})


def hourly(cols: dict) -> dict:
    """1m candles of whole hours -> 1h candles (first open, max high, min
    low, last close, summed volume), the reference for resample_ohlcv."""
    n = len(cols["ts"]) // 60 * 60
    r = {k: np.asarray(v)[:n].reshape(-1, 60) for k, v in cols.items()}
    return {
        "ts": r["ts"][:, 0],
        "open": r["open"][:, 0],
        "high": r["high"].max(axis=1),
        "low": r["low"].min(axis=1),
        "close": r["close"][:, -1],
        "volume": r["volume"].sum(axis=1),
    }
