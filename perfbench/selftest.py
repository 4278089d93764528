"""Self-test of the lake benchmark at tiny scale.

Runs every workload untraced and then traced, and fails unless each run
exits cleanly, passes its correctness checks, and prints every metric
that BENCHMARK.json and perfbench/README.md name, with its unit:

    python3 perfbench/selftest.py --sf-dir DIR

DIR holds the sf tables for `analytics` (the smallest scale will do).
Without --sf-dir, `analytics` is skipped. Takes about six minutes on
four cores.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COMMON = {"setup_s": "s", "op_s_p50": "s", "op_s_tail": "s", "ops_failed_ratio": "ratio",
          "peak_rss_mb": "MiB"}
END_TO_END = {
    "ingest": {**COMMON, "rows_per_s": "rows/s", "append_s_p50": "s", "upsert_s_p50": "s",
               "dml_s_p50": "s", "read_after_write_s_p50": "s", "space_bytes_per_row": "B/row"},
    "scan": {**COMMON, "rows_per_s": "rows/s", "range_narrow_s_p50": "s",
             "range_wide_s_p50": "s", "point_s_p50": "s", "space_bytes_per_row": "B/row"},
    "analytics": {**COMMON, "suite_s": "s"},
}
LAYER_EXTRA = {
    "ingest": ["lake.maintenance.compact_s", "sources.csv_source.s"],
    "scan": ["operators.resample_ohlcv.s"],
    "analytics": ["queries.build_s", "queries.exec_s", "queries.q1_pricing_summary.s"],
}


def run(workload: str, trace: int, sf_dir: str | None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if sf_dir:
        cmd += ["--sf-dir", sf_dir]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def check(workload: str, trace: int, report: dict, result: dict, spec: dict) -> None:
    where = f"{workload} trace={trace}"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] and result["failed"] == 0, f"{where}: {report['failures']}"
    assert result["attempted"] >= 1, where
    contract = spec["per_layer" if trace else "end_to_end"]
    if workload in {w["name"] for w in spec["workloads"]}:
        for m in contract:
            got = result["metrics"].get(m["name"])
            assert got is not None and got["unit"] == m["unit"], f"{where}: {m['name']}"
    for name, unit in END_TO_END[workload].items():
        got = report["end_to_end"].get(name)
        assert got is not None and got["unit"] == unit, f"{where}: {name}"
    assert report["end_to_end"]["ops_failed_ratio"]["value"] == 0, where
    for key in ("seed", "cpus", "defaultParallelism", "spark", "java", "python"):
        assert key in report["env"], f"{where}: env.{key}"
    assert report["sizes"], where
    if trace:
        names = [m["name"] for m in spec["per_layer"]] + LAYER_EXTRA[workload]
        missing = [n for n in names if n not in report["per_layer"]]
        assert not missing, f"{where}: missing layers {missing}"
        assert report["self_s"], where
        assert set(report["tracing_overhead"]) == set(report["end_to_end"]), where


def main() -> int:
    ap = argparse.ArgumentParser(description="tiny-scale self-test of the lake benchmark")
    ap.add_argument("--sf-dir", help="sf tables for the analytics workload")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = ["ingest", "scan"] + (["analytics"] if args.sf_dir else [])
    for workload in workloads:
        for trace in (0, 1):
            report, result = run(workload, trace, args.sf_dir)
            check(workload, trace, report, result, spec)
            print(f"ok  {workload} trace={trace}: {result['attempted']} ops", flush=True)
    if not args.sf_dir:
        print("analytics skipped: no --sf-dir")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
