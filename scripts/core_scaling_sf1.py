"""Core-count scaling at sf1 (VERDICT r12 #7): the driver's own scaling
block is structurally uninformative at sf0.1 — bench.py floors shuffle
partitions at 8 and the tables are single-file, so the 8-core and
32-core runs use the same shuffle parallelism and every ratio lands
near 1. This harness re-runs the full bench at the amplified sf1
(scripts/sf1_scaling._amplify output) with BOTH the core count AND the
shuffle-partition count set to the core count, so shuffle-heavy stages
actually see the parallelism difference.

    python scripts/core_scaling_sf1.py [out_json] [sf1_dir]

Each bench run is a fresh subprocess (same entry the driver uses).
Writes artifacts/CORE_SCALING_sf1_round13.json: per-query low-core/
high-core time ratios (ratio >> 1 on CPU-bound queries = the engine
uses the cores; ratio ~ 1 = fixed-overhead-bound at this scale).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS_HIGH = 32
CPUS_LOW = 8


def _run_bench(sf_dir: str, cpus: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(cpus),
        SPARK_GRAFT_BENCH_CONTROL="0",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=3600, cwd=REPO,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    out_json = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, "artifacts", "CORE_SCALING_sf1_round13.json")
    )
    sf1 = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        tempfile.gettempdir(), "spark_graft_sf1"
    )
    if not os.path.exists(f"{sf1}/lineitem.parquet"):
        from dl_datalake_spark.session import get_spark
        from scripts.sf1_scaling import _amplify

        spark = get_spark("core-scaling-amplify")
        t0 = time.time()
        _amplify(spark, sf1)
        print(f"# amplified sf0.1 x10 -> {sf1} in {time.time() - t0:.1f}s")
        spark.stop()

    hi = _run_bench(sf1, CPUS_HIGH)
    lo = _run_bench(sf1, CPUS_LOW)
    per_query = {}
    for name, t_hi in hi["queries"].items():
        t_lo = lo["queries"].get(name)
        if t_lo is None:
            continue
        per_query[name] = {
            f"c{CPUS_HIGH}_s": t_hi,
            f"c{CPUS_LOW}_s": t_lo,
            "low_over_high": round(t_lo / t_hi, 2) if t_hi else None,
        }
    result = {
        "sf1_dir": sf1,
        "cpus_high": CPUS_HIGH,
        "cpus_low": CPUS_LOW,
        "shuffle_partitions": "== cpus (explicit, so shuffles see the core delta)",
        f"suite_c{CPUS_HIGH}_s": hi["value"],
        f"suite_c{CPUS_LOW}_s": lo["value"],
        "suite_low_over_high": round(lo["value"] / hi["value"], 2),
        "queries": per_query,
    }
    os.makedirs(os.path.dirname(out_json), exist_ok=True)
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(f"# wrote {out_json}")
    print(f"suite: c{CPUS_HIGH}={hi['value']}s c{CPUS_LOW}={lo['value']}s "
          f"ratio={result['suite_low_over_high']}")
    # a query timed at 0 s on the high-core run has no ratio: list it last
    for name, row in sorted(
        per_query.items(),
        key=lambda kv: (kv[1]["low_over_high"] is None, -(kv[1]["low_over_high"] or 0)),
    ):
        ratio = row["low_over_high"]
        print(f"{name:32s} {row[f'c{CPUS_HIGH}_s']:7.3f} {row[f'c{CPUS_LOW}_s']:7.3f} "
              f"{'n/a' if ratio is None else f'{ratio:5.2f}':>5s}")


if __name__ == "__main__":
    main()
