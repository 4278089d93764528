"""Shared machinery of the lake benchmark.

- `Session`: starts the engine session through the package's own
  `session.get_spark`, reads peak memory, and stops the JVM at exit.
- `Tracer`: in a traced run, spans (name, start, end, parent, op id) kept
  in memory and written out at exit; in an untraced run every hook is a
  no-op, so end-to-end metrics carry no tracing cost.
- `instrument`: wraps the package's public lake calls from outside (the
  package itself is not edited) so their time lands in spans.
- `layer_metrics`: folds the spans of a traced run into the per-layer
  metrics named in `perfbench/README.md`.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

# ---------------------------------------------------------------- statistics


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 20 samples that percentile would fall under
    the median, so the median is reported with percentile 50."""
    if not values:
        return None, None
    s = sorted(values)
    k = len(s) - 10  # the k-th smallest has exactly ten samples above it
    if k < (len(s) + 1) // 2:
        return statistics.median(s), 50.0
    return s[k - 1], round(100.0 * k / len(s), 1)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------------- session


def _hwm_mb(pid: int) -> float:
    """Peak resident set of a process in MiB (VmHWM from /proc)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Session:
    """The Spark session of one benchmark run, confined to `work_dir`."""

    def __init__(self, work_dir: str, cpus: int):
        self.work_dir = work_dir
        local = os.path.join(work_dir, "spark-local")
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cpus)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
                # -UsePerfData: no hsperfdata file in the system's /tmp
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
                "pyspark-shell",
            ]
        )
        self.spark = None
        self._proc = None

    def start(self, tracer: "Tracer"):
        from dl_datalake_spark.session import get_spark

        with tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        self._proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def peak_rss_mb(self) -> float:
        """Driver Python plus JVM, each at its own peak."""
        jvm = _hwm_mb(self._proc.pid) if self._proc is not None else 0.0
        return _hwm_mb(os.getpid()) + jvm

    def versions(self) -> dict:
        import platform

        sc = self.spark.sparkContext
        jvm = sc._jvm.java.lang.System
        return {
            "spark": self.spark.version,
            "java": jvm.getProperty("java.version"),
            "python": platform.python_version(),
            "defaultParallelism": sc.defaultParallelism,
        }

    def stop(self) -> None:
        """Stop Spark and wait until the JVM has exited."""
        if self.spark is not None:
            self.spark.stop()
        if self._proc is not None:
            try:
                self._proc.stdin.close()
                self._proc.wait(timeout=60)
            except Exception:
                self._proc.kill()
                self._proc.wait(timeout=30)


# -------------------------------------------------------------------- tracer


class Tracer:
    """Spans of a traced run. Disabled, every method is a cheap no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self.phase = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _record(self, name: str, start: float, end: float, parent, attrs: dict) -> dict:
        with self._lock:
            self._next += 1
            sp = {
                "id": self._next,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "op": self.op_id,
                "phase": self.phase,
                **attrs,
            }
            self.spans.append(sp)
        return sp

    @contextmanager
    def _span(self, name: str, attrs: dict):
        stack = self._stack()
        parent = stack[-1]["id"] if stack else None
        sp = self._record(name, time.time(), None, parent, attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = time.time()

    def span(self, name: str, **attrs):
        if not self.enabled:
            return nullcontext({})
        return self._span(name, attrs)

    @contextmanager
    def op(self, kind: str):
        """One op of the closed loop: a commit, a read or a query. In a
        traced run its Spark jobs run under a job group named after it
        and become child spans with the status store's times."""
        if not self.enabled:
            yield {}
            return
        with self._lock:
            self.op_id = f"{self.phase}-{kind}-{self._next + 1}"
        sc = self.spark.sparkContext
        sc.setJobGroup(self.op_id, kind)
        try:
            with self._span("op", {"kind": kind}) as sp:
                yield sp
        finally:
            sc.setJobGroup("", "")
            self._add_jobs(sp)
            self.op_id = None

    def _add_jobs(self, op_span: dict) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(op_span["op"]):
            jd = store.job(jid)
            if jd.submissionTime().isEmpty() or jd.completionTime().isEmpty():
                continue
            m = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_read": 0,
                 "shuffle_write": 0, "spill": 0}
            it = jd.stageIds().iterator()
            while it.hasNext():
                sd = store.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                m["tasks"] += sd.numTasks()
                m["run_s"] += sd.executorRunTime() / 1e3
                m["cpu_s"] += sd.executorCpuTime() / 1e9
                m["shuffle_read"] += sd.shuffleReadBytes()
                m["shuffle_write"] += sd.shuffleWriteBytes()
                m["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            start = jd.submissionTime().get().getTime() / 1e3
            self._record("spark.job", start, jd.completionTime().get().getTime() / 1e3,
                         self._innermost(op_span, start), {"op": op_span["op"], "job": jid, **m})

    def _innermost(self, op_span: dict, t: float) -> int:
        """The id of the latest-started span of the op open at time t: the
        call that submitted a job, so self times exclude its job time."""
        best = op_span
        for s in reversed(self.spans):
            if s["id"] <= op_span["id"]:
                break
            if (s["op"] == op_span["op"] and s["name"] not in ("lake.fs", "spark.job")
                    and s["start"] <= t <= (s["end"] or t) and s["start"] >= best["start"]):
                best = s
        return best["id"]

    def catalyst(self, df) -> None:
        """Catalyst phase times of an executed DataFrame (analysis,
        optimization, planning), attached to the current op."""
        if not self.enabled or self.op_id is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                now = time.time()
                self._record(f"catalyst.{name}", now, now, None,
                             {"s": phases.apply(name).durationMs() / 1e3})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ----------------------------------------------------------- instrumentation

_FS_MUTATIONS = {
    "touch", "makedirs", "remove", "rmtree", "rename", "consume_rename",
    "write_bytes_atomic", "create_exclusive",
}


def counting_fs(tracer: Tracer):
    """A `Filesystem` that delegates to `LocalFS` and records one span
    per call, so filesystem ops and mutations are counted per op."""
    from dl_datalake_spark.lake.fs import Filesystem, LocalFS

    inner = LocalFS()

    class CountingFS(Filesystem):
        ATOMIC_RENAME = inner.ATOMIC_RENAME

    def delegate(name):
        fn = getattr(inner, name)

        @functools.wraps(fn)
        def call(self, *a, **kw):
            with tracer.span("lake.fs", fn=name, mutation=name in _FS_MUTATIONS):
                return fn(*a, **kw)

        return call

    for name in ("listdir", "isdir", "exists", "getmtime", "getsize", "read_bytes",
                 *_FS_MUTATIONS):
        setattr(CountingFS, name, delegate(name))
    # walk_files is a generator: materialize inside the span
    inner_walk = inner.walk_files

    def walk_files(self, path):
        with tracer.span("lake.fs", fn="walk_files", mutation=False):
            items = list(inner_walk(path))
        return iter(items)

    CountingFS.walk_files = walk_files
    return CountingFS()


def _wrap(cls, name: str, tracer: Tracer, span: str, **attrs) -> None:
    fn = getattr(cls, name)

    @functools.wraps(fn)
    def call(*a, **kw):
        with tracer.span(span, fn=name, **attrs):
            return fn(*a, **kw)

    setattr(cls, name, call)


def instrument(tracer: Tracer) -> None:
    """Time the public calls of the commit log, manifest and writer from
    outside. Only a traced run calls this."""
    from dl_datalake_spark.lake.commitlog import CommitLog
    from dl_datalake_spark.lake.manifest import ManifestManager
    from dl_datalake_spark.lake.writer import LakeWriter

    for name in ("latest_files", "files_at", "file_stats", "col_stats_many"):
        _wrap(CommitLog, name, tracer, "lake.commitlog.snapshot")
    for name in ("load", "add_entry", "add_entries", "list_entries",
                 "delete_entries", "get_latest_version", "watermark"):
        _wrap(ManifestManager, name, tracer, "lake.manifest")
    for name in ("write_ohlc", "write_ohlc_multi", "write_ticks", "delete_where",
                 "update_where", "merge_into", "compact_partitions"):
        _wrap(LakeWriter, name, tracer, "lake.writer")

    txn = CommitLog.transaction

    @contextmanager
    def transaction(self, *a, **kw):
        dataset_log = self.log_dir.endswith("/_commits")
        with tracer.span("lake.commitlog.transaction", dataset=dataset_log) as sp:
            with txn(self, *a, **kw) as meta:
                yield meta
            sp["claim_conflicts"] = int(meta.get("claim_conflicts", 0))

    CommitLog.transaction = transaction


def lake_files(base: str) -> dict[str, int]:
    """Live-or-not data parquet files under the lake base, with sizes,
    skipping every `_`- or `.`-prefixed directory (logs, CDF, DVs,
    staging, manifest)."""
    out = {}
    for root, dirs, files in os.walk(base):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def log_bytes(base: str) -> int:
    """Bytes in every dataset commit log (`_commits` dirs) under base."""
    total = 0
    for root, dirs, files in os.walk(base):
        if os.path.basename(root) == "_commits":
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def disk_bytes(base: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(base):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------------ layer metrics

COMMIT_KINDS = {"append", "append_optimistic", "upsert", "delete_rewrite",
                "delete_dv", "update", "merge", "csv_append", "compact", "build"}


def _self_time(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: duration minus the union of its children."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None or s["name"].startswith("catalyst."):
            continue
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        key = s["name"] if s["name"] != "op" else f"op.{s['kind']}"
        out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - union_s(kids)
    return out


def layer_metrics(tracer: Tracer, extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, plus the layer report (self
    time per span name). `extra` carries what the workload measured
    itself (files added, log bytes, files scanned)."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    measured = [s for s in spans if s["name"] == "op" and s["phase"] == "measure"]
    # ingest's read-after-write checks are ops of their own for job
    # grouping, but "per op" means per commit there
    ops = [s for s in measured if s["kind"] != "read_after_write"]
    commits = [s for s in ops if s["kind"] in COMMIT_KINDS]
    if not commits:  # scan: the writer's layout comes from the set-up build
        commits = [s for s in spans if s["name"] == "op" and s["kind"] in COMMIT_KINDS]
    by_op: dict[str, list] = {}
    for s in spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)

    def outer(sp_list, name):
        """Spans of `name` whose parent is not also a `name` span."""
        ids = {s["id"]: s["name"] for s in sp_list}
        return [s for s in sp_list if s["name"] == name and ids.get(s["parent"]) != name]

    def per(op_list, fn):
        vals = [fn(by_op.get(o["op"], []), o) for o in op_list]
        return statistics.fmean(vals) if vals else 0.0

    def jobs(sl):
        return [s for s in sl if s["name"] == "spark.job"]

    def job_union(sl):
        return union_s([(s["start"], s["end"]) for s in jobs(sl)])

    def dur(sl):
        return sum(s["end"] - s["start"] for s in sl)

    m: dict[str, float] = {}
    m["lake.writer.spark_jobs_per_commit"] = per(commits, lambda sl, o: len(jobs(sl)))
    m["lake.writer.spark_tasks_per_commit"] = per(
        commits, lambda sl, o: sum(s["tasks"] for s in jobs(sl)))
    m["lake.writer.job_s_per_commit"] = per(commits, lambda sl, o: job_union(sl))
    m["lake.writer.driver_s_per_commit"] = per(
        commits, lambda sl, o: (o["end"] - o["start"]) - job_union(sl))
    m["lake.writer.files_added_per_commit"] = extra["files_added_per_commit"]
    m["lake.writer.bytes_added_per_commit"] = extra["bytes_added_per_commit"]
    txns = [s for s in spans if s["name"] == "lake.commitlog.transaction" and s["dataset"]
            and s["op"] in {c["op"] for c in commits}]
    m["lake.commitlog.transaction_s"] = dur(txns) / max(1, len(commits))
    m["lake.commitlog.claim_conflicts"] = sum(s.get("claim_conflicts", 0) for s in txns)
    m["lake.commitlog.log_bytes_per_commit"] = extra["log_bytes_per_commit"]
    m["lake.commitlog.snapshot_calls_per_op"] = per(
        ops, lambda sl, o: len(outer(sl, "lake.commitlog.snapshot")))
    m["lake.commitlog.snapshot_s_per_op"] = per(
        ops, lambda sl, o: dur(outer(sl, "lake.commitlog.snapshot")))
    m["lake.manifest.calls_per_commit"] = per(
        commits, lambda sl, o: len(outer(sl, "lake.manifest")))
    m["lake.manifest.s_per_commit"] = per(commits, lambda sl, o: dur(outer(sl, "lake.manifest")))
    m["lake.fs.ops_per_op"] = per(ops, lambda sl, o: sum(s["name"] == "lake.fs" for s in sl))
    m["lake.fs.mutations_per_op"] = per(
        ops, lambda sl, o: sum(s["name"] == "lake.fs" and s["mutation"] for s in sl))
    m["lake.fs.s_per_op"] = per(ops, lambda sl, o: dur([s for s in sl if s["name"] == "lake.fs"]))
    plans = [s for s in spans if s["name"] == "lake.reader.plan" and s["phase"] == "measure"]
    execs = [s for s in spans if s["name"] == "lake.reader.exec" and s["phase"] == "measure"]
    m["lake.reader.plan_s"] = dur(plans) / max(1, len(plans))
    m["lake.reader.exec_s"] = dur(execs) / max(1, len(execs))
    m["lake.reader.files_scanned_ratio"] = extra["files_scanned_ratio"]
    measured_ops = {o["op"] for o in measured}
    # per read that reported Catalyst phases (the writer's own plans are
    # internal to the package and not seen from outside)
    for ph in ("analysis", "optimization", "planning"):
        vals = [s["s"] for s in spans if s["name"] == f"catalyst.{ph}" and s["op"] in measured_ops]
        m[f"catalyst.{ph}_s"] = statistics.fmean(vals) if vals else 0.0
    m["spark.jobs_per_op"] = per(ops, lambda sl, o: len(jobs(sl)))
    m["spark.tasks_per_op"] = per(ops, lambda sl, o: sum(s["tasks"] for s in jobs(sl)))
    for key, field in (("executor_run_s", "run_s"), ("executor_cpu_s", "cpu_s"),
                       ("shuffle_read_bytes", "shuffle_read"),
                       ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        m[f"spark.{key}"] = per(ops, lambda sl, o, f=field: sum(s[f] for s in jobs(sl)))
    m["spark.driver_gap_s"] = per(ops, lambda sl, o: (o["end"] - o["start"]) - job_union(sl))
    m["session.start_s"] = dur([s for s in spans if s["name"] == "session.start"])
    # workload-specific layers
    compacts = [s for s in spans if s["name"] == "lake.writer" and s["fn"] == "compact_partitions"
                and s["op"] in measured_ops]
    m["lake.maintenance.compact_s"] = dur(compacts) / max(1, len(compacts))
    for span, key in (("operators.resample_ohlcv", "operators.resample_ohlcv.s"),
                      ("sources.csv_source", "sources.csv_source.s"),
                      ("queries.build", "queries.build_s"), ("queries.exec", "queries.exec_s")):
        sl = [s for s in spans if s["name"] == span and s["op"] in measured_ops]
        m[key] = dur(sl) / max(1, len(sl))
    for s in spans:
        if s["name"] == "queries.query" and s["op"] in measured_ops:
            m.setdefault(f"queries.{s['query']}.s", []).append(s["end"] - s["start"])
    m = {k: (statistics.median(v) if isinstance(v, list) else v) for k, v in m.items()}
    return m, _self_time(spans)
