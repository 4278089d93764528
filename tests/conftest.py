"""Shared fixtures: one session-scoped local SparkSession, a
deterministic OHLC generator mirroring the reference's integration
conftest (seed-42 random walk, 1-minute candles)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from dl_datalake_spark.session import get_spark

_SLOW_LIST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    """Mark the measured-slow tests (tests/slow_tests.txt, every test
    whose call time was >= 3 s on a quiet 4-core run) as `slow`, which
    pytest.ini deselects by default so the plain suite fits an external
    verify budget. `pytest tests/ -m ''` runs everything.

    A list entry that matches no test would silently stop marking
    anything, so collection fails on one: an entry whose file is gone,
    or whose file was collected whole without a test of that id."""
    try:
        with open(_SLOW_LIST) as f:
            slow = {ln.strip() for ln in f if ln.strip() and not ln.startswith("#")}
    except OSError:
        return
    collected = {item.nodeid for item in items}
    files = {nodeid.split("::")[0] for nodeid in collected}
    # files the run selected single tests from: their other tests are
    # legitimately absent
    picked = {
        os.path.relpath(os.path.abspath(a.split("::")[0]), config.rootpath)
        for a in config.args if "::" in a
    }
    stale = sorted(
        nodeid for nodeid in slow - collected
        if not os.path.exists(os.path.join(config.rootpath, nodeid.split("::")[0]))
        or (nodeid.split("::")[0] in files and nodeid.split("::")[0] not in picked)
    )
    if stale:
        raise pytest.UsageError(
            "tests/slow_tests.txt names tests that do not exist: " + ", ".join(stale)
        )
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)


def pytest_terminal_summary(terminalreporter):
    n = sum(
        1 for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    )
    if n:
        terminalreporter.write_line(
            f"{n} slow tests deselected (tests/slow_tests.txt); run them with: pytest tests/ -m ''"
        )


@pytest.fixture(scope="session")
def spark():
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
    s = get_spark("dl-datalake-spark-tests")
    yield s


def make_ohlc_rows(
    n: int = 100,
    start_ms: int = 1672574400000,  # 2023-01-01T12:00:00Z
    period_ms: int = 60_000,
    seed: int = 42,
) -> list[tuple]:
    rng = np.random.default_rng(seed)
    steps = rng.normal(0.0, 1.0, n)
    close = 1000.0 + np.cumsum(steps * 2.0)
    open_ = np.roll(close, 1).copy()
    open_[0] = 1000.0
    high = close + np.abs(rng.normal(0.0, 1.0, n))
    low = close - np.abs(rng.normal(0.0, 1.0, n))
    volume = np.abs(rng.normal(0.0, 1.0, n) * 100) + 10
    return [
        (
            int(start_ms + i * period_ms),
            float(open_[i]),
            float(high[i]),
            float(low[i]),
            float(close[i]),
            float(volume[i]),
        )
        for i in range(n)
    ]


OHLC_COLUMNS = ["ts", "open", "high", "low", "close", "volume"]


@pytest.fixture()
def ohlc_df(spark):
    return spark.createDataFrame(
        make_ohlc_rows(), schema="ts long, open double, high double, low double, close double, volume double"
    )
