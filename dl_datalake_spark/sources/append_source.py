"""Lake datasets as an APPEND streaming source (Spark 4 Python Data
Source API) — no change feed required.

`lake_cdf` (sources/cdf_source.py) streams row-level deltas but needs
the writer to run with `emit_cdf=True`.  This source is the other half
of Delta's streaming story: subscribe to a dataset's NEWLY ADDED FILES
per commit, which every write records for free in the pinned-listing
deltas (`files`/`files_add` — lake/commitlog.py):

    spark.readStream.format("lake_appends").option("path", dataset_dir)

- **offsets are commit versions** (`{"version": N}`), exactly like the
  CDF source: data files are immutable once committed, so any
  (start, end] range replays identically — exactly-once from the
  checkpoint, `trigger(availableNow=True)` drains history then stops.
- **append-only contract, loudly enforced** (Delta's semantics): a
  commit that REMOVED or REPLACED data (upsert/overwrite rewrite,
  delete, restore — or a deletion-vector commit, which changes rows
  without touching the listing) fails the stream at planning time.
  `.option("skip_change_commits", "true")` skips such commits wholesale
  (Delta's skipChangeCommits); `.option("ignore_changes", "true")`
  serves their ADDED files anyway (Delta's ignoreChanges — rewritten
  rows may be re-served; consumers must be idempotent).
- **planning is driver-side metadata, reading is executor-side**: the
  planner replays the delta-encoded listing chain once per batch to
  derive each commit's added files; executors read them with pyarrow.
  The hive `year=`/`month=` partition values are parsed from each
  file's path (single-file pyarrow reads don't infer them) and served
  as columns, plus `commit_version`.

Self-containment: same contract as the CDF source — stdlib + pyarrow
only in the runner processes; `register_append_source` pickles this
module AND the shared cdf_source helpers by value.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from dl_datalake_spark.sources.cdf_source import (
    _ARROW_TO_DDL,
    _committed_entries,
    _CommitCache,
    _contract_changed,
    _ddl_fields,
    _ddl_names,
    _head_contract,
    _value_converters,
    _Paths,
)

LOG_DIR = "_commits"


def _replay_listing(history: list[dict]) -> dict[int, dict]:
    """One oldest-first replay of the delta-encoded listing chain:
    {version: {"added": [...], "removed": [...], "dv_changed": bool,
    "known": bool}} — `known=False` marks commits whose adds are
    unknowable (files-less data commit / pruned base)."""
    out: dict[int, dict] = {}
    cur: set[str] = set()
    known = False
    prev_dv: dict = {}
    for e in history:
        v = e["version"]
        if "files" in e:
            new = set(e["files"])
            if not known and v > 0:
                # Full listing with an unknown base (pruned history or a
                # files-less commit before it): the listing is a snapshot of
                # EVERYTHING live, not this commit's adds — serving it would
                # re-deliver every pre-existing row.  Only version 0 may
                # treat a full listing as all-added.  Seed the state so
                # SUBSEQUENT commits replay exactly.
                out[v] = {
                    "added": [],
                    "removed": [],
                    "dv_changed": False,
                    "known": False,
                }
                cur, known = new, True
                prev_dv = e.get("dv") or {}
                continue
            added = sorted(new - cur) if known else sorted(new)
            removed = sorted(cur - new) if known else []
            cur, known = new, True
        elif "files_add" in e or "files_remove" in e:
            added = sorted(e.get("files_add") or [])
            removed = sorted(e.get("files_remove") or [])
            cur = (cur - set(removed)) | set(added)
        elif e.get("partitions") == []:
            added, removed = [], []
        else:
            # files-less data commit: adds unknowable
            out[v] = {"added": [], "removed": [], "dv_changed": False, "known": False}
            known = False
            cur = set()
            prev_dv = {}
            continue
        dv = e.get("dv")
        dv_changed = dv is not None and dv != prev_dv
        if dv is not None:
            prev_dv = dv
        out[v] = {
            "added": added,
            "removed": removed,
            "dv_changed": dv_changed,
            "known": known,
        }
    return out


def _partition_cols(rel: str) -> tuple[int | None, int | None]:
    y = m = None
    for part in rel.split("/"):
        if part.startswith("year="):
            try:
                y = int(part[5:])
            except ValueError:
                pass
        elif part.startswith("month="):
            try:
                m = int(part[6:])
            except ValueError:
                pass
    return y, m


def _infer_append_schema(path: str) -> str:
    """DDL of the data columns from the newest live file, via the
    listing replay (never a directory walk — tombstones would leak)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    px = _Paths(path)
    history = _committed_entries(path)
    replay = _replay_listing(history)
    # newest added file across history, newest commit first
    for e in reversed(history):
        info = replay.get(e["version"]) or {}
        for rel in reversed(info.get("added") or []):
            schema = pq.read_schema(px.url(rel))

            def _ddl_type(t) -> str | None:
                got = _ARROW_TO_DDL.get(str(t))
                if got is not None:
                    return got
                if pa.types.is_list(t) or pa.types.is_large_list(t):
                    inner = _ddl_type(t.value_type)
                    return f"array<{inner}>" if inner else None
                return None

            cols = []
            for f_ in schema:
                ddl = _ddl_type(f_.type)
                if ddl is None:
                    raise ValueError(
                        f"cannot map arrow type {f_.type} of column "
                        f"{f_.name!r} — pass an explicit schema option"
                    )
                cols.append(f"{f_.name} {ddl}")
            return ", ".join(cols)
    raise ValueError(
        f"no committed data file found under {path} — write through "
        "LakeWriter first or pass a schema option"
    )


def _resolve_append_schema(
    path: str, explicit: str | None
) -> tuple[str, list[str], int | None]:
    """(data DDL, physical source column names, pinned contract version)
    for the stream — CONTRACT-AWARE (lake/schema.py): a contracted
    dataset streams its LOGICAL column names and contract types (the
    same surface every batch scan serves), with the physical names the
    data files actually carry resolved through the commit-logged column
    map.  Physical identity is stable across renames, old narrow files
    read fine under a widened type, and a dropped column's retired
    physical never enters the stream (it is simply absent from the
    list).  `explicit` (the user's `schema` option) is the documented
    RAW-MODE escape hatch: served verbatim, physical names, no contract
    pin (pinned=None disables the mid-stream evolution check).  Falls
    back to newest-file footer inference for pre-contract datasets."""
    if explicit:
        return explicit, _ddl_names(explicit), None
    schema, cmap, pinned = _head_contract(_committed_entries(path))
    if schema is None:
        ddl = _infer_append_schema(path)
        return ddl, _ddl_names(ddl), None
    ddl = ", ".join(f"{name} {typ}" for name, typ in schema.items())
    src = [cmap.get(name, name) for name in schema]
    return ddl, src, pinned


@dataclass
class AppendPartition(InputPartition):
    version: int
    files: list[str] = field(default_factory=list)  # absolute URLs
    rels: list[str] = field(default_factory=list)  # dataset-relative (year=/month=)
    columns: list[str] = field(default_factory=list)  # logical output names
    # PHYSICAL parquet column names, parallel to `columns` (the contract's
    # column map; files written before a re-add lack the fresh physical
    # and null-fill — retired bytes never resurrect)
    src_cols: list[str] = field(default_factory=list)
    # declared DDL types, parallel to `columns` (strict-converter
    # coercions: decimal contracts over pre-rewrite integer files)
    col_types: list[str] = field(default_factory=list)


class LakeAppendsStreamReader(DataSourceStreamReader):
    """ADMISSION CONTROL (`max_commits_per_batch` / `max_files_per_batch`
    options — Delta's maxFilesPerTrigger): bound each micro-batch of a
    long catch-up instead of planning 10,000 commits at once.  Same
    cursor + loud-rewind restart contract as LakeCDFStreamReader
    (cdf_source.py — capped streams restarted with a stale
    after_version fail at the first trigger instead of re-serving
    rows; availableNow drains one capped batch per run).  The
    listing-chain replay is cached per reader (_CommitCache): each
    poll re-reads only commits it hasn't seen."""

    def __init__(self, options: dict, data_schema: str):
        self.path = options["path"].rstrip("/")
        self.after = int(options.get("after_version", -1))
        self.skip_changes = str(options.get("skip_change_commits", "")).lower() == "true"
        self.ignore_changes = str(options.get("ignore_changes", "")).lower() == "true"
        self.max_commits = int(options.get("max_commits_per_batch", 0) or 0)
        self.max_files = int(options.get("max_files_per_batch", 0) or 0)
        self.max_bytes = int(options.get("max_bytes_per_batch", 0) or 0)
        self._cursor: int = self.after
        self._pending: int | None = None  # capped offset the engine saw last
        self._cache = _CommitCache(self.path)
        fields = _ddl_fields(data_schema)
        self.columns = [n for n, _t in fields]
        self.col_types = [t for _n, t in fields]
        # contract pin (lake/schema.py): physical source names for the
        # logical output columns, and the version the contract was
        # resolved at — an evolution/rename commit PAST the pin fails
        # the stream loudly (restart re-resolves and serves it).  Raw
        # mode (explicit schema option / pre-contract dataset): physical
        # == logical, no pin, no evolution check.
        if options.get("schema"):
            self._pin = None
            self.src_cols = list(self.columns)
        else:
            sch, cmap, pinned = _head_contract(self._cache.entries())
            if sch is None:
                self._pin = None
                self.src_cols = list(self.columns)
            else:
                self._pin = (dict(sch), dict(cmap), pinned)
                self.src_cols = [cmap.get(c, c) for c in self.columns]

    def initialOffset(self) -> dict:
        return {"version": self.after}

    def _advance(self, v: int) -> None:
        self._cursor = max(self._cursor, v)

    def latestOffset(self) -> dict:
        if self._pending is not None:
            # the engine saw this capped offset last poll and constructed
            # NO batch (partitions/commit would have cleared it) -- that
            # can only mean the offset equals its committed position, so
            # it is consumed and the cursor may advance to it (heals a
            # restart whose after_version lagged by exactly the cap)
            self._advance(self._pending)
            self._pending = None
        entries = self._cache.entries()
        latest = entries[-1]["version"] if entries else -1
        latest = max(latest, self.after)
        if self.max_commits > 0 or self.max_files > 0 or self.max_bytes > 0:
            above = [e["version"] for e in entries if e["version"] > self._cursor]
            if self.max_commits > 0 and len(above) > self.max_commits:
                latest = min(latest, above[self.max_commits - 1])
            if (self.max_files > 0 or self.max_bytes > 0) and above:
                replay = _replay_listing(entries)
                by_v = {e["version"]: e for e in entries}
                total_f, total_b, chosen = 0, 0, None
                for v in above:
                    info = replay.get(v)
                    added = info["added"] if info and info["known"] else []
                    n = len(added)
                    # byte budget from the per-file sizes every
                    # data-adding commit records in `file_bytes` (Delta's
                    # maxBytesPerTrigger); a file whose commit predates
                    # size recording counts 0 bytes, so only the count
                    # caps bound it
                    fb = by_v[v].get("file_bytes") or {}
                    b = sum(int(fb.get(rel, 0)) for rel in added)
                    over_f = self.max_files > 0 and total_f + n > self.max_files
                    over_b = self.max_bytes > 0 and total_b + b > self.max_bytes
                    if chosen is not None and (over_f or over_b):
                        break
                    total_f += n
                    total_b += b
                    chosen = v  # always admit at least one commit
                if chosen is not None:
                    latest = min(latest, chosen)
            latest = max(latest, self._cursor)
            self._pending = latest
        return {"version": latest}

    def commit(self, end: dict) -> None:
        self._pending = None
        self._advance(int(end["version"]))

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if hi < lo:
            raise ValueError(
                f"append stream of {self.path}: batch end {hi} is BEHIND the "
                f"checkpointed position {lo} — a capped stream was restarted "
                "with a stale after_version. Set after_version to the "
                "checkpointed offset (or remove the cap) and restart; "
                "refusing to plan a rewound batch protects exactly-once."
            )
        self._pending = None
        self._advance(hi)
        if hi == lo:
            return [AppendPartition(-1)]
        history = self._cache.entries()
        if history and min(c["version"] for c in history) > lo + 1:
            raise ValueError(
                f"append stream of {self.path} is truncated past offset {lo} — "
                "commits were pruned; rebuild the consumer from a batch scan"
            )
        if self._pin is not None:
            sch0, cmap0, v0 = self._pin
            for c in history:
                if lo < c["version"] <= hi and c["version"] > v0 and _contract_changed(
                    c, sch0, cmap0
                ):
                    raise ValueError(
                        f"append stream of {self.path}: commit {c['version']} "
                        "changed the dataset's schema contract or column "
                        "mapping after this stream resolved its schema — "
                        "restart the stream to pick up the new contract "
                        "(a restart re-resolves and serves the evolved "
                        "schema; continuing would serve stale names/types)"
                    )
        replay = _replay_listing(history)
        px = _Paths(self.path)
        parts = []
        for c in history:
            v = c["version"]
            if v <= lo or v > hi:
                continue
            info = replay[v]
            if not info["known"]:
                raise ValueError(
                    f"commit {v} of {self.path}: its added files are "
                    "unknowable — either it has no pinned listing (legacy "
                    "writer / external tool) or it is a full-listing "
                    "checkpoint whose prior history was pruned (serving it "
                    "would re-deliver every pre-existing row); rebuild the "
                    "consumer from a batch scan"
                )
            is_change = bool(info["removed"]) or info["dv_changed"]
            if is_change and not self.ignore_changes:
                if self.skip_changes:
                    continue
                raise ValueError(
                    f"commit {v} of {self.path} (mode={c.get('mode')}) removed or "
                    "rewrote data — an append-only stream cannot represent it. "
                    "Use skip_change_commits=true to drop such commits, "
                    "ignore_changes=true to serve their added files anyway "
                    "(idempotent consumers only), or the lake_cdf source for "
                    "exact row-level deltas."
                )
            if not info["added"]:
                continue
            parts.append(
                AppendPartition(
                    v,
                    [px.url(rel) for rel in info["added"]],
                    list(info["added"]),
                    self.columns,
                    self.src_cols,
                    self.col_types,
                )
            )
        return parts or [AppendPartition(-1)]

    def read(self, partition):
        if partition.version < 0 or not partition.files:
            return iter(())
        import pyarrow.parquet as pq

        def _clean(v):
            if v is None:
                return None
            if hasattr(v, "tolist"):
                v = v.tolist()
            if isinstance(v, float) and v != v:
                return None
            return v

        def gen():
            src = partition.src_cols or partition.columns
            convs = (
                _value_converters(partition.col_types)
                if partition.col_types
                else [None] * len(partition.columns)
            )

            def _conv(v, f):
                v = _clean(v)
                return v if v is None or f is None else f(v)

            for url, rel in zip(partition.files, partition.rels):
                y, m = _partition_cols(rel)
                pdf = pq.read_table(url).to_pandas()
                # PHYSICAL names in, logical order out; files predating
                # a column (or a re-add's fresh physical) null-fill
                pdf = pdf.reindex(columns=src)
                for row in pdf.itertuples(index=False, name=None):
                    yield tuple(
                        _conv(v, f) for v, f in zip(row, convs)
                    ) + (y, m, partition.version)

        return gen()


class LakeAppendsDataSource(DataSource):
    """``register_append_source(spark)`` then
    ``spark.readStream.format("lake_appends").option("path", dataset_dir)``."""

    @classmethod
    def name(cls) -> str:
        return "lake_appends"

    def schema(self) -> str:
        data, _src, _pin = _resolve_append_schema(
            self.options["path"].rstrip("/"), self.options.get("schema")
        )
        return f"{data}, year int, month int, commit_version long"

    def streamReader(self, schema) -> LakeAppendsStreamReader:
        data_ddl, _src, _pin = _resolve_append_schema(
            self.options["path"].rstrip("/"), self.options.get("schema")
        )
        return LakeAppendsStreamReader(self.options, data_ddl)


def register_append_source(spark) -> None:
    """Register the source with pickle-by-value for this module and the
    shared cdf_source helpers, so the data-source runner processes never
    need `dl_datalake_spark` on their PYTHONPATH."""
    import sys

    from pyspark import cloudpickle

    from dl_datalake_spark.sources import cdf_source as _cdf

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(_cdf)
    spark.dataSource.register(LakeAppendsDataSource)


def stream_appends(
    spark, dataset_path: str, after_version: int = -1, schema: str | None = None,
    skip_change_commits: bool = False, ignore_changes: bool = False,
    max_commits_per_batch: int = 0, max_files_per_batch: int = 0,
    max_bytes_per_batch: int = 0,
):
    """Convenience: the dataset's committed appends as an unbounded
    streaming DataFrame (data columns + year/month + commit_version).
    Pair with ``trigger(availableNow=True)`` for drain-and-stop.
    `max_commits_per_batch` / `max_files_per_batch` /
    `max_bytes_per_batch` bound each micro-batch of a long catch-up
    (Delta's maxFilesPerTrigger / maxBytesPerTrigger; 0 = unbounded;
    bytes come from the commit-logged per-file sizes, with pre-recording
    commits bounded by the count caps)."""
    register_append_source(spark)
    r = (
        spark.readStream.format("lake_appends")
        .option("path", dataset_path)
        .option("after_version", str(int(after_version)))
    )
    if schema:
        r = r.option("schema", schema)
    if skip_change_commits:
        r = r.option("skip_change_commits", "true")
    if ignore_changes:
        r = r.option("ignore_changes", "true")
    if max_commits_per_batch:
        r = r.option("max_commits_per_batch", str(int(max_commits_per_batch)))
    if max_files_per_batch:
        r = r.option("max_files_per_batch", str(int(max_files_per_batch)))
    if max_bytes_per_batch:
        r = r.option("max_bytes_per_batch", str(int(max_bytes_per_batch)))
    return r.load()
