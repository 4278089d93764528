"""The closed loop shared by the workloads: one client issues an op, waits
for the reply, checks it, and only then issues the next one."""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from contextlib import contextmanager

import numpy as np

from harness import lake_files, log_bytes


class Workload:
    """Subclasses set `name`, `cycle` (the fixed op sequence; the seed
    picks each op's inputs, never the mix) and `cycle_s` (about how long
    one cycle takes on four cores), and implement `setup`, `plan`,
    `execute` and `check`."""

    name = ""
    cycle: list[str] = []
    cycle_s = 1.0

    def __init__(self, spark, tracer, work_dir: str, seed: int, fs=None):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.base = os.path.join(work_dir, "lake")
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.fs = fs
        self.ops: list[dict] = []
        self.scanned: list[float] = []
        self.added: list[tuple] = []  # (phase, files, bytes, log bytes) per commit
        self._manifest = None

    # -- lake handles (all share the filesystem the run was given) ---------

    def manifest(self):
        from dl_datalake_spark.lake.manifest import ManifestManager

        if self._manifest is None:
            self._manifest = ManifestManager(self.spark, f"{self.base}/_manifest", fs=self.fs)
        return self._manifest

    def make_reader(self):
        from dl_datalake_spark.lake.reader import LakeReader

        return LakeReader(self.spark, self.base, fs=self.fs)

    def commit_log(self, key):
        from dl_datalake_spark.lake.commitlog import CommitLog
        from dl_datalake_spark.lake.paths import dataset_rel_path

        return CommitLog(f"{self.base}/{dataset_rel_path(key)}", fs=self.fs)

    # -- the loop ------------------------------------------------------------

    def run_op(self, kind: str, index: int) -> None:
        p = self.plan(kind, self.rng)
        phase = self.tracer.phase
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind):
                df, res, out = self.execute(kind, p)
                s = time.perf_counter() - t0
                self.tracer.catalyst(res)
            ok, rows = self.check(kind, p, out)
            if self.tracer.enabled and phase == "measure":
                live = self.live_files(kind, p)
                if live:
                    self.scanned.append(len(df.inputFiles()) / live)
        except Exception:
            traceback.print_exc()
            s, ok, rows = time.perf_counter() - t0, False, 0
        self.ops.append({"kind": kind, "s": s, "rows": rows, "ok": ok, "phase": phase,
                         "index": index})

    @contextmanager
    def disk_delta(self):
        """In a traced run, the data files, their bytes and the commit-log
        bytes that the enclosed commit adds."""
        if not self.tracer.enabled:
            yield
            return
        before, logs = lake_files(self.base), log_bytes(self.base)
        yield
        after = lake_files(self.base)
        new = [p for p in after if p not in before]
        self.added.append((self.tracer.phase, len(new), sum(after[p] for p in new),
                           log_bytes(self.base) - logs))

    def measure(self, seconds: float) -> None:
        """As many whole cycles as last about `seconds` on four cores
        (`cycle_s` each), at least one. The count depends on `seconds` only,
        never on the speed of the run, so every run sees the same ops and
        the tail percentile is always taken over the same number of them."""
        self.tracer.phase = "measure"
        n = len(self.cycle) * max(1, math.ceil(seconds / self.cycle_s))
        for i in range(n):
            self.run_op(self.cycle[i % len(self.cycle)], i)

    def measured(self) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "measure"]

    @staticmethod
    def median(values):
        return statistics.median(values) if values else None

    # -- hooks -------------------------------------------------------------

    def verify(self) -> list[str]:
        """Checks on the final state; returns the failures."""
        return []

    def layer_extra(self) -> dict:
        """Workload-measured inputs of the per-layer metrics."""
        rows = [a for a in self.added if a[0] == "measure"] or self.added

        def mean(i):
            return statistics.fmean(a[i] for a in rows) if rows else 0.0

        return {"files_added_per_commit": mean(1), "bytes_added_per_commit": mean(2),
                "log_bytes_per_commit": mean(3),
                "files_scanned_ratio": statistics.fmean(self.scanned) if self.scanned else 0.0}

    def live_files(self, kind: str, p: dict) -> int:
        return 0

    def e2e(self) -> dict:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        ops = self.measured()
        return {"rows_per_s": (sum(o["rows"] for o in ops) / sum(o["s"] for o in ops), "rows/s")}

    def sizes(self) -> dict:
        return {}
