"""Lake benchmark: one closed-loop client against the lake on local[ncpu].

    python3 perfbench/run.py --workload ingest|scan|analytics --seed N \
        --seconds S --trace 0|1 [--scale full|tiny] [--sf-dir DIR]

Run from the root of a checkout. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before it is the full report: every end-to-end and per-layer metric
of the workload with its unit, the environment, the data sizes, the
layer self times and, when an untraced run of the same workload and seed
is on record, the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "scan", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: a small lake, for the self-test")
    ap.add_argument("--sf-dir", help="analytics: the directory of the sf tables")
    return ap.parse_args(argv)


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workload(args, spark, tracer, work, fs):
    if args.workload == "ingest":
        from ingest import Ingest

        return Ingest(spark, tracer, work, args.seed, fs=fs)
    if args.workload == "scan":
        from scan import Scan

        size = {"symbols": 1, "years": 1, "trade_months": 1} if args.scale == "tiny" else {}
        return Scan(spark, tracer, work, args.seed, fs=fs, **size)
    from analytics import Analytics

    return Analytics(spark, tracer, work, args.seed, fs=fs, sf_dir=args.sf_dir)


def _metric_block(values: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items() if v is not None}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "dl_datalake_spark")):
        print("perfbench: no dl_datalake_spark package beside perfbench/", file=sys.stderr)
        return 2
    if args.workload == "analytics" and not (args.sf_dir and os.path.isdir(args.sf_dir)):
        print("perfbench: analytics needs --sf-dir with the sf tables", file=sys.stderr)
        return 2
    spec = _benchmark_spec()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from harness import Session, Tracer, counting_fs, instrument, layer_metrics, tail

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sess = Session(work, cpus)
    tracer = Tracer(bool(args.trace))
    try:
        t0 = time.perf_counter()
        tracer.spark = sess.start(tracer)
        fs = None
        if args.trace:
            instrument(tracer)
            fs = counting_fs(tracer)
        wl = _workload(args, tracer.spark, tracer, work, fs)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.measure(args.seconds)
        failures = wl.verify()
        ops = wl.measured()
        # a failed check anywhere in the run (set-up, ops, final state)
        # counts as a failed op
        setup_failed = sum(not o["ok"] for o in wl.ops if o["phase"] != "measure")
        failed = min(len(ops), sum(not o["ok"] for o in ops) + setup_failed + len(failures))
        op_s = [o["s"] for o in ops]
        tail_v, tail_pct = tail(op_s)
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (wl.median(op_s), "s"),
            "op_s_tail": (tail_v, "s"),
            "ops_failed_ratio": (failed / len(ops), "ratio"),
            "peak_rss_mb": (sess.peak_rss_mb(), "MiB"),
            **wl.e2e(),
        }
        env = {"seed": args.seed, "cpus": cpus, "master": f"local[{cpus}]",
               **sess.versions(), "workload": args.workload, "trace": args.trace,
               "scale": args.scale, "seconds": args.seconds}
        report = {"env": env, "sizes": wl.sizes(), "end_to_end": _metric_block(e2e),
                  "op_s_tail_percentile": tail_pct, "ops": len(op_s),
                  "setup_ops_failed": setup_failed, "failures": failures}
        if args.trace:
            layers, self_s = layer_metrics(tracer, wl.layer_extra())
            report["per_layer"] = layers
            report["self_s"] = {k: round(v, 6) for k, v in sorted(self_s.items())}
            untraced = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["end_to_end"]
                report["tracing_overhead"] = {
                    k: round(v["value"] - base[k]["value"], 6)
                    for k, v in report["end_to_end"].items() if k in base}
            tracer.write(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.json"))
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump({**report, "op_log": wl.ops}, f, indent=1, default=str)
    finally:
        sess.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = report["per_layer"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": values[n], "unit": units[n]} for n in names if n in values}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: report["end_to_end"][n] for n in names if n in report["end_to_end"]}
    correct = failed == 0
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
