"""Optimistic per-dataset commit log: multi-process-safe write serialization.

Replaces the advisory single-host ``path_lock`` for DATASET WRITES.  The
old lock was a process-local ``threading.Lock`` plus an ``O_EXCL``
lockfile in the local tempdir — correct on one host, invisible to a
writer on another host sharing the same object storage.  This module
puts the coordination state INSIDE the dataset directory, so any writer
that can see the data can see the log (the Delta log mechanic on a
plain filesystem, minus file-level manifests):

    <dataset>/_commits/00000000000000000000.json   (version 0)
    <dataset>/_commits/00000000000000000001.json   (version 1)
    ...

The ``_commits`` name starts with ``_`` so Spark's file index treats it
as hidden — parquet scans of the dataset never see it.

Protocol (writer side, ``CommitLog.transaction()``):

1. **Read** the log: latest version ``v`` = highest numbered file.
2. **Claim** version ``v+1`` by atomically creating ``{v+1}.json`` with
   an in-progress marker (``create_exclusive``).  Exactly one writer
   can win a given version; a loser has by construction observed that a
   commit happened after its read — its snapshot is stale, so it
   re-reads and retries (optimistic validation, no blocking lock).
3. **Write** the data (the read-modify-write the caller runs inside the
   transaction; the claim makes it exclusive, so the snapshot it reads
   is exactly the committed ``v`` state).
4. **Finalize** by atomically replacing the claim file's content with
   the commit payload (``status: committed`` + caller metadata).

A claim that was never finalized (writer crashed) blocks the next
version; after ``stale_timeout_s`` without finalization the next writer
rolls it aside (atomic rename to ``.abandoned``) and takes over — the
rename can only succeed for one contender.  Partial data from a crashed
writer is bounded by Spark's own job-commit protocol (task/job output
lands via its committer; an uncommitted job leaves only temporary
dirs), the same exposure the lockfile design had.

On object storage this needs two primitives from the Filesystem
implementation: atomic create-if-absent (HDFS create(overwrite=false);
S3 conditional PUT via recent Hadoop s3a) and atomic single-file rename
(HDFS native; S3 copy+delete — acceptable here because the rolled-aside
file is garbage either way).  See ``lake/fs.py``.

Reference parity note: the reference serializes writers through a
SQLite file lock (``dl-datalake/src/dl_datalake/metadata/manifest.py:
52-55``) — also single-host.  This log is the piece that makes the
100 TB multi-writer story real.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

from dl_datalake_spark.lake.fs import Filesystem, LocalFS

LOG_DIR = "_commits"
STALE_TIMEOUT_S = 300.0
CLAIM_POLL_S = 0.05


class CommitConflict(Exception):
    """Another writer committed between our read and our claim."""


class ConcurrentWriteConflict(Exception):
    """An OPTIMISTIC commit's validation found a true conflict: a
    commit that landed between the writer's snapshot read and its
    claim touched the same partitions (or moved the schema contract /
    rewrote the tree), so blindly finalizing would lose its effects.
    Delta's ConcurrentAppendException / ConcurrentDeleteReadException
    semantics — the caller retries from a fresh snapshot or surfaces
    the conflict."""


class CommitTimeout(TimeoutError):
    """Could not claim a commit slot within the deadline."""


def _fmt(version: int) -> str:
    return f"{version:020d}.json"


class CommitLog:
    def __init__(
        self,
        dataset_path: str,
        fs: Filesystem | None = None,
        stale_timeout_s: float = STALE_TIMEOUT_S,
        log_dir: str | None = None,
    ):
        """`log_dir` defaults to `<dataset_path>/_commits`.  Override it
        when the coordinated state is itself replaced by directory swap
        (e.g. the manifest catalog) — the log must then live OUTSIDE the
        swapped tree or every commit would erase its own history."""
        self.dataset_path = dataset_path.rstrip("/")
        self.log_dir = log_dir.rstrip("/") if log_dir else f"{self.dataset_path}/{LOG_DIR}"
        self.fs = fs if fs is not None else LocalFS()
        self.stale_timeout_s = stale_timeout_s

    # -- log inspection ----------------------------------------------------

    def _entries(self) -> list[int]:
        out = []
        for name in self.fs.listdir(self.log_dir):
            stem, dot, ext = name.partition(".")
            if ext == "json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def _read_entry(self, version: int) -> dict:
        try:
            return json.loads(self.fs.read_bytes(f"{self.log_dir}/{_fmt(version)}"))
        except (OSError, ValueError):
            # mid-replace or just rolled aside: treat as in-progress
            return {"status": "in-progress"}

    HEAD_HINT = "_head"

    def _hint_version(self) -> int:
        """Best-effort head pointer (Delta's `_last_checkpoint` mechanic
        applied to the log TAIL): the version recorded by the newest
        finalize.  Always a LOWER BOUND on the true head — finalizes are
        version-ordered, but a slow writer's pointer write may land
        after its successor's, so readers probe FORWARD from it.  -1
        when absent (fresh dataset / pre-pointer log)."""
        try:
            return int(
                json.loads(
                    self.fs.read_bytes(f"{self.log_dir}/{self.HEAD_HINT}")
                ).get("version", -1)
            )
        except (OSError, ValueError, TypeError, AttributeError):
            # AttributeError: valid JSON that is not an object ('[1]',
            # '"5"') — fall back to the full scan, never crash the
            # hottest read-path helper on a malformed pointer file
            return -1

    def latest_version(self) -> int:
        """Highest FINALIZED version; -1 for a fresh dataset.

        Fast path: the `_head` pointer plus direct forward probes —
        zero directory listings.  Sound because committed versions are
        DENSE: a claim only ever targets committed+1 and waits behind
        any pending slot (transaction loop), and prune removes only the
        OLDEST entries, so the first non-committed probe above a
        committed pointer is the true head boundary.  On an object
        store this turns the hottest log operation (every snapshot
        resolve and claim poll starts here) from an O(log-size) LIST
        into O(1 + commits-since-pointer) GETs."""
        h = self._hint_version()
        if h >= 0 and self._read_entry(h).get("status") == "committed":
            v = h
            while self._read_entry(v + 1).get("status") == "committed":
                v += 1
            return v
        # pointer missing, mid-write, or pruned away: full listing scan
        for v in reversed(self._entries()):
            if self._read_entry(v).get("status") == "committed":
                return v
        return -1

    def latest_files(self) -> list[str] | None:
        """The dataset's committed live file listing (reader snapshot
        isolation, lake/snapshot.py), or None when the current data
        state has no trustworthy pinned list (legacy writer / external
        tool — callers fall back to a live directory scan, which matches
        disk because legacy writers delete superseded files eagerly).

        Listings are stored delta-encoded (see `_encode_files`): most
        commits carry only `files_add`/`files_remove` against the prior
        snapshot, with periodic full `files` checkpoints — Delta's
        add/remove-action mechanic, so commit size tracks the CHANGE,
        not the dataset's total file count (a 100 TB dataset has ~10⁵
        files; re-serializing that list on every one-partition upsert
        would make the log itself the write bottleneck).  Resolution
        folds deltas newest-first onto the nearest checkpoint."""
        return self._fold_files(None)

    def _fold_files(self, upto: int | None) -> list[str] | None:
        """Newest-first fold of the pinned-listing chain at/below `upto`
        (None = unbounded).  `files` = checkpoint: apply collected
        deltas oldest-first and return.  `files_add`/`files_remove` =
        delta: collect and keep walking.  A committed entry with
        `partitions == []` changed no data files — skip.  Any other
        files-less committed entry is an untrusted barrier → None.
        A delta chain whose checkpoint was pruned is unknowable → None
        (prune's fold-anchor rule exists to prevent this)."""
        entries = self._entries()
        deltas: list[tuple[list, list]] = []  # newest-first
        for v in reversed(entries):
            if upto is not None and v > upto:
                continue
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            if "files" in e:
                files = set(e["files"])
                for add, rem in reversed(deltas):
                    files = (files - set(rem)) | set(add)
                return sorted(files)
            if "files_add" in e or "files_remove" in e:
                deltas.append((e.get("files_add") or [], e.get("files_remove") or []))
                continue
            if e.get("partitions") == []:
                continue
            return None
        if deltas:
            return None  # chain base pruned away: never fabricate
        if upto is None:
            return None  # nothing committed yet: legacy/live fallback
        # No committed entry at or below the cut. Version numbering
        # starts at 0, so a retained version-0 entry proves nothing was
        # pruned below the cut — the dataset simply had no commit there
        # (empty snapshot). Any other shape means prune removed the
        # cut's history: unknowable.
        return [] if (not entries or min(entries) == 0) else None

    def files_at(self, max_version: int) -> list[str] | None:
        """`latest_files` evaluated at a historical cut: the pinned file
        list of the newest committed entry with version <= `max_version`
        (multi-dataset consistent reads, lake/multilog.py — a reader
        pinned below a half-finalized multi-commit reads the PREVIOUS
        snapshot, whose superseded files survive until vacuum retention).

        Same trust rules as `latest_files`; additionally `max_version < 0`
        (cut before the first commit) is an empty snapshot, and a cut
        whose commits have been pruned away (`prune` keep_last) returns
        None — the caller must not fabricate a snapshot it can't prove."""
        if max_version < 0:
            return []
        return self._fold_files(max_version)

    def file_stats(self) -> dict[str, list]:
        """Union of every retained committed entry's `file_stats`
        ({rel path: [min_ts, max_ts]}, newest entry wins) — the
        data-skipping index for time-bounded reads.  Best-effort by
        design: a live file whose stats were pruned with its commit is
        merely scanned, never skipped wrongly."""
        return self.file_facts()[0]

    def file_facts(self) -> tuple[dict[str, list], dict[str, int]]:
        """`file_stats` and the per-file `file_bytes` ({rel path: bytes},
        newest entry wins) from ONE pass over the retained entries — the
        reader sizes its planned input from the log alone.  A live file
        with no recorded size (its commit predates size recording or
        was pruned) is simply absent; callers must treat that as
        unknown, never as 0 bytes."""
        stats: dict[str, list] = {}
        sizes: dict[str, int] = {}
        for v in self._entries():
            e = self._read_entry(v)
            if e.get("status") == "committed":
                stats.update(e.get("file_stats") or {})
                sizes.update(e.get("file_bytes") or {})
        return stats, sizes

    def last_txn_version(self, app_id: str) -> int:
        """Newest committed `txn.version` recorded by `app_id` (Delta's
        txnAppId/txnVersion idempotent-write mechanic): a writer that
        tags commits with a monotonically increasing per-app version can
        detect a replayed micro-batch and skip it.  -1 when the app has
        no retained commit — prune keep_last bounds the lookback, so an
        app idle past the retention horizon loses replay protection
        (document the same retention trade Delta makes)."""
        for v in reversed(self._entries()):
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            t = e.get("txn")
            if t and t.get("app") == app_id:
                return int(t.get("version", -1))
        return -1

    def col_stats(self, col: str) -> dict[str, list]:
        """Union of every retained committed entry's `col_stats[col]`
        ({rel path: [min, max]}, newest entry wins) — the generalized
        data-skipping index for reads bounded on a non-ts column
        (writer `stats_cols` / `maintenance.recluster`).  Best-effort
        like `file_stats`: a live file with no recorded stats is merely
        scanned, never skipped wrongly."""
        return self.col_stats_many([col])[col]

    def col_stats_many(self, cols: list[str]) -> dict[str, dict[str, list]]:
        """`col_stats` for several columns in ONE pass over the retained
        entries ({col: {rel path: [min, max]}}).  A bounded read on N
        columns previously cost N full log walks (one filesystem read
        per entry per column — noticeable on object stores); this reads
        each entry exactly once."""
        out: dict[str, dict[str, list]] = {c: {} for c in cols}
        for v in self._entries():
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            cs = e.get("col_stats") or {}
            for c in cols:
                out[c].update(cs.get(c) or {})
        return out

    def bucket_index(self) -> dict:
        """The point-lookup skip index (writer `bucket_by`): union of
        every retained committed entry's ``file_buckets`` (newest entry
        wins per file) plus the newest ``bucket_by`` spec per column —
        ``{col: {"spec": [n_buckets, dtype], "files": {rel: [ids]}}}``.
        Same one-pass cost model as `file_stats`/`col_stats_many`;
        best-effort by design: a live file with no recorded buckets is
        merely scanned, never skipped wrongly."""
        out: dict = {}
        for v in self._entries():
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            spec = e.get("bucket_by") or {}
            fb = e.get("file_buckets") or {}
            for c in set(spec) | set(fb):
                d = out.setdefault(c, {"spec": None, "files": {}})
                s = spec.get(c)
                if s is not None and s != d["spec"]:
                    # the bucket count/dtype CHANGED: sets recorded under
                    # the old spec live in a different bucket space —
                    # pruning with them would be unsound, drop them
                    d["spec"] = s
                    d["files"] = {}
                d["files"].update(fb.get(c) or {})
        return {c: d for c, d in out.items() if d["spec"]}

    def dv_at(self, upto: int | None) -> dict[str, str]:
        """The dataset's deletion-vector map ({rel data file: rel DV
        dir}, lake/dv.py) as of commit `upto` (None = head).

        Resolution is ONE entry read: `_carry_dv` re-records the
        (live-filtered) map on every finalize while any DV state exists,
        so the newest committed entry at/below the cut either carries
        the exact map or proves it empty — there is no chain to fold and
        prune can never orphan the state.  An entry written without a
        ``dv`` key (pre-DV history, or a commit whose listing base was
        an untrusted barrier) means no deletion vectors apply at that
        cut, which matches the listing's own trust rules: across a
        barrier the reader is on the live directory scan anyway."""
        for v in reversed(self._entries()):
            if upto is not None and v > upto:
                continue
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            return dict(e.get("dv") or {})
        return {}

    def contract_at(
        self, upto: int | None = None
    ) -> tuple[dict | None, dict, list, dict, tuple]:
        """ONE read of the newest committed entry at/below `upto`
        returning the whole schema-contract state:
        (schema | None, {logical: physical} column map, retired physical
        names, {partition column: DDL type}, partition spec tuple).
        `_carry_schema` re-records all five on every finalize, so there
        is never a chain to fold and prune can never orphan the
        contract (the `dv_at` mechanic).
        `schema_at`/`column_map_at`/`retired_physical_at` are thin
        views over this — call this one when you need more than one
        piece (finalize and every contract read do), or the log gets
        listed and parsed several times.

        Partition-column types are RECORDED FACTS from the written
        frame (writer `_schema_contract`), not path heuristics — a
        dataset partitioned on a non-year/month numeric key is served
        with its true type.  Empty for history predating the recording
        (contract_read falls back to the layout heuristic there).

        The partition spec (lake/spec.py) is the HEAD time-granularity
        layout writes must target; the pre-recording default is
        monthly.  Including it in this tuple makes a spec change a
        contract MOVE to optimistic validation — an in-flight writer
        that staged files under the old spec conflicts loudly instead
        of committing stale-layout files."""
        from dl_datalake_spark.lake.spec import spec_of

        for v in reversed(self._entries()):
            if upto is not None and v > upto:
                continue
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            sch = e.get("schema")
            return (
                dict(sch) if sch is not None else None,
                dict(e.get("column_map") or {}),
                list(e.get("retired_cols") or []),
                dict(e.get("partition_types") or {}),
                spec_of(e.get("partition_spec")),
            )
        return None, {}, [], {}, spec_of(None)

    def schema_at(self, upto: int | None = None) -> dict | None:
        """The dataset's resolved column schema ({name: Spark DDL type},
        lake/schema.py) as of commit `upto` (None = head); None for
        history predating the write-time contract."""
        return self.contract_at(upto)[0]

    def column_map_at(self, upto: int | None = None) -> dict:
        """{logical column: PHYSICAL parquet column} as of commit `upto`
        (lake/schema.py column mapping — renames are metadata-only, the
        files keep their original column names).  Empty for datasets
        never renamed."""
        return self.contract_at(upto)[1]

    def retired_physical_at(self, upto: int | None = None) -> list:
        """Physical column names RETIRED by a drop/rename history — a
        re-added logical column must get a FRESH physical name or the
        old files' bytes would resurrect under it."""
        return self.contract_at(upto)[2]

    def partition_types_at(self, upto: int | None = None) -> dict:
        """Recorded {partition column: Spark DDL type} as of commit
        `upto` — facts from the written frame, replacing contract_read's
        layout heuristic.  Empty for pre-recording history."""
        return self.contract_at(upto)[3]

    def partition_spec_at(self, upto: int | None = None) -> tuple:
        """The HEAD partition spec (lake/spec.py) as of commit `upto` —
        the time-granularity directory levels every write/rewrite must
        target.  ("year", "month") for history predating spec
        recording."""
        return self.contract_at(upto)[4]

    def _carry_schema(self, version: int, payload: dict) -> dict:
        """Carry the schema contract (and its column mapping / retired
        physical names / partition-column types) forward into a commit
        that didn't set them (deletes, DV commits, compaction) —
        writers that CHANGE them (appends under the contract,
        rename/drop, restore) set the keys explicitly and skip this."""
        if (
            "schema" in payload
            and "column_map" in payload
            and "retired_cols" in payload
            and "partition_types" in payload
            and "partition_spec" in payload
        ):
            return payload
        prior, prior_map, prior_ret, prior_pt, prior_spec = self.contract_at(
            version - 1
        )
        if "schema" not in payload and prior:
            payload["schema"] = prior
        if "column_map" not in payload and prior_map:
            payload["column_map"] = prior_map
        if "retired_cols" not in payload and prior_ret:
            payload["retired_cols"] = prior_ret
        if "partition_types" not in payload and prior_pt:
            payload["partition_types"] = prior_pt
        if "partition_spec" not in payload and prior_spec != ("year", "month"):
            # only non-default specs need carrying (every legacy entry
            # stays byte-identical; spec_of(None) == monthly)
            payload["partition_spec"] = list(prior_spec)
        return payload

    def _carry_dv(self, version: int, payload: dict, prev_files) -> dict:
        """Carry the deletion-vector map forward into a commit that
        didn't set one, filtered to the commit's own live file set —
        refs for files the commit rewrote or dropped vanish here, which
        is what lets compaction/upserts retire DVs without knowing they
        exist.  Writers that CHANGE the map (delete-dv, restore) set
        ``payload["dv"]`` explicitly and skip this.  `prev_files` is a
        zero-arg callable yielding `_fold_files(version - 1)`, shared
        (memoized) with `_encode_files` so finalize folds the chain at
        most once — and not at all on the no-DV fast path."""
        if "dv" in payload:
            return payload
        prior = self.dv_at(version - 1)
        if not prior:
            return payload
        if "files" in payload:
            live = set(payload["files"])
        elif "files_add" in payload or "files_remove" in payload:
            base = prev_files()
            if base is None:
                return payload  # unknowable base: never fabricate
            live = (set(base) - set(payload.get("files_remove") or [])) | set(
                payload.get("files_add") or []
            )
        elif payload.get("partitions") == []:
            base = prev_files()
            if base is None:
                return payload
            live = set(base)
        else:
            # files-less data commit: the listing fold treats it as an
            # untrusted barrier and so does dv_at — recording nothing is
            # consistent (the DV state dies with the listing's trust)
            return payload
        payload["dv"] = {f: d for f, d in prior.items() if f in live}
        return payload

    def version_at_time(self, ts: float) -> int:
        """Timestamp time travel (Delta's ``TIMESTAMP AS OF``): the
        newest committed version finalized at or before `ts`; -1 when
        nothing was EVER committed by then.  Driver-side metadata walk
        over the retained log — same cost model as `latest_files`.

        Raises ValueError when `ts` predates the oldest RETAINED
        commit and the log has a pruned prefix (oldest retained
        version > 0): the dataset may well have existed at `ts`, but
        its state then is unreconstructable — returning -1 would serve
        an empty frame as if the dataset had no data, silently wrong.
        Delta raises the same way for TIMESTAMP AS OF before the
        earliest retained version."""
        best = -1
        oldest_committed = None
        for v in self._entries():
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            at = float(e.get("committed_at") or 0.0)
            if oldest_committed is None or v < oldest_committed[0]:
                oldest_committed = (v, at)
            if at <= ts:
                best = max(best, v)
        if best < 0 and oldest_committed is not None and oldest_committed[0] > 0:
            raise ValueError(
                f"timestamp {ts} predates the oldest retained commit of "
                f"{self.dataset_path} (version {oldest_committed[0]} at "
                f"{oldest_committed[1]}); earlier history was pruned and the "
                f"snapshot at that time cannot be reconstructed"
            )
        return best

    def committed_entry(self, version: int) -> dict | None:
        """The finalized payload of `version`, or None if that slot is
        not (yet) committed — multilog readers use it to check that a
        multi-commit's claimed slot was finalized by the SAME txid and
        not by a later writer after a stale-claim rollback."""
        if version < 0:
            return None
        e = self._read_entry(version)
        return e if e.get("status") == "committed" else None

    def history(self) -> list[dict]:
        """All finalized commits, oldest first (audit/debug surface)."""
        out = []
        for v in self._entries():
            e = self._read_entry(v)
            if e.get("status") == "committed":
                out.append({"version": v, **{k: e[k] for k in e if k != "status"}})
        return out

    def _fold_anchor(self, upto: int) -> int:
        """The oldest version a snapshot fold starting at `upto` can
        reach: the nearest checkpoint (full `files`) or untrusted
        barrier at/below it.  Entries older than the anchor are inert
        for resolution and safe to prune."""
        for v in reversed([x for x in self._entries() if x <= upto]):
            e = self._read_entry(v)
            if e.get("status") != "committed":
                continue
            if "files" in e:
                return v
            if "files_add" in e or "files_remove" in e:
                continue
            if e.get("partitions") == []:
                continue
            return v  # untrusted barrier: the fold stops here anyway
        return 0

    ABANDONED_TTL_S = 24 * 3600.0

    def prune(self, keep_last: int = 100, abandoned_ttl_s: float | None = None) -> int:
        """Drop all but the newest `keep_last` FINALIZED commit files,
        plus rolled-aside `.abandoned.*` leftovers older than
        `abandoned_ttl_s` (default 24 h — recent markers are the
        fencing audit trail for usurpations still being debugged; pass
        0.0 to sweep everything).  Version numbering is unaffected (the
        newest files stay, and new claims build on the highest retained
        version).  One tiny file per commit adds up — a dataset ingested
        every minute for a year is ~0.5 M files — so this belongs in the
        same maintenance cadence as compaction (`cli maintain`).
        Returns files removed."""
        if abandoned_ttl_s is None:
            abandoned_ttl_s = self.ABANDONED_TTL_S
        committed = [
            v for v in self._entries() if self._read_entry(v).get("status") == "committed"
        ]
        drop = committed[:-keep_last] if keep_last > 0 else []
        if drop:
            # fold-anchor rule: the oldest RETAINED entry may be a delta
            # (`files_add`/`files_remove`) whose resolution folds onto an
            # older checkpoint — extend retention back to that anchor or
            # every retained snapshot below the next checkpoint would
            # become unknowable (≤ CHECKPOINT_EVERY-1 extra tiny files)
            anchor = self._fold_anchor(committed[-keep_last])
            drop = [v for v in drop if v < anchor]
        removed = 0
        for v in drop:
            try:
                self.fs.remove(f"{self.log_dir}/{_fmt(v)}")
                removed += 1
            except OSError:
                pass
        committed_set = set(committed)
        # one listdir snapshot for the whole fence sweep — calling
        # _entries() per fence file would make prune quadratic in
        # directory size, exactly the ~0.5M-file logs it exists for
        live_entries = set(self._entries())
        for name in self.fs.listdir(self.log_dir):
            if ".abandoned." in name:
                try:
                    if time.time() - self.fs.getmtime(f"{self.log_dir}/{name}") < abandoned_ttl_s:
                        continue
                    self.fs.remove(f"{self.log_dir}/{name}")
                    removed += 1
                except OSError:
                    pass
            elif ".fence." in name:
                # Orphan fences (crashed writers) are garbage once their
                # slot is committed or gone; a LIVE transaction's fence is
                # neither, so it is never swept from under the owner.
                stem, _dot, _rest = name.partition(".")
                v = int(stem) if stem.isdigit() else None
                slot_live = v is not None and v in live_entries and v not in committed_set
                if not slot_live:
                    try:
                        self.fs.remove(f"{self.log_dir}/{name}")
                        removed += 1
                    except OSError:
                        pass
        return removed

    # -- claim / finalize --------------------------------------------------
    #
    # Fencing (CAS via fence files): every claim carries a unique
    # `owner_token`, and winning the slot additionally writes a FENCE file
    # named after it (`NNNN.json.fence.<token>`).  Exclusive rights to the
    # slot's fate are transferred by atomically RENAMING the fence — a
    # single-source rename can only succeed for one caller, which makes
    # both operations below compare-and-swap instead of verify-then-write:
    #
    # - finalize  = rename fence -> fence.finalizing, then write the
    #   committed slot.  A zombie whose claim was usurped finds its fence
    #   consumed and the rename fails -> CommitConflict.  There is no
    #   check/write gap: the rename IS the ownership check.
    # - roll-aside (usurp a stale claim) = rename fence -> .abandoned
    #   FIRST, then roll the slot file aside.  A roll-aside racing the
    #   owner's finalize contends on the same fence rename; exactly one
    #   wins, so a commit is never misattributed.
    #
    # A heartbeat thread touches the claim AND fence mtimes during the
    # transaction so a LIVE long-running writer (a large Spark merge
    # easily exceeds 300 s) never looks stale in the first place —
    # touch() refuses to recreate a rolled-aside file, so the heartbeat
    # cannot resurrect a lost claim.  Residual exposure: an owner that
    # dies BETWEEN the fence rename and the slot write leaves a
    # `.finalizing` marker; contenders treat it as live until its mtime
    # (heartbeat-fresh at consume time) crosses stale_timeout_s, then
    # consume it and roll the slot aside — the microsecond finalize
    # window needs a full stale_timeout_s pause to be misjudged, vs. the
    # old design where any pause anywhere in the transaction exposed it.
    # Every fence/slot consumption goes through
    # Filesystem.consume_rename (exactly-one-winner contract): a bare
    # atomic rename on POSIX/HDFS, and on stores without atomic rename
    # (S3 copy+delete) a conditional-PUT claim of `<fence>.consumed`
    # (If-None-Match: * / GCS generation-match 0) before the copy —
    # see fs.ConditionalConsumeFS; the protocol itself is unchanged.

    def _fence(self, version: int, token: str) -> str:
        return f"{self.log_dir}/{_fmt(version)}.fence.{token}"

    def _try_rollback_stale(self, version: int) -> None:
        path = f"{self.log_dir}/{_fmt(version)}"
        try:
            age = time.time() - self.fs.getmtime(path)
        except OSError:
            return  # already gone
        if age < self.stale_timeout_s:
            return
        try:
            entry = json.loads(self.fs.read_bytes(path))
        except (OSError, ValueError):
            return  # mid-replace or rolled aside by another contender
        if entry.get("status") == "committed":
            return
        token = entry.get("owner_token")
        if token:
            fence = self._fence(version, token)
            # Consume-CAS: exactly one of {owner finalize, this
            # roll-aside, a competing roll-aside} consumes the fence
            # (Filesystem.consume_rename — atomic rename on POSIX/HDFS,
            # conditional-PUT claim on object stores).
            if not self.fs.consume_rename(
                fence, f"{fence}.abandoned.{uuid.uuid4().hex}"
            ):
                # No fence to consume.  Either the owner is finalizing
                # (its `.finalizing` marker exists — back off unless that
                # too went stale), another usurper already consumed it
                # (the slot roll-aside below is atomic, one of us wins),
                # or the claimer died before writing its fence.
                finalizing = f"{fence}.finalizing"
                if self.fs.exists(finalizing):
                    try:
                        f_age = time.time() - self.fs.getmtime(finalizing)
                    except OSError:
                        return
                    if f_age < self.stale_timeout_s:
                        return  # live finalize in flight: not ours
                    if not self.fs.consume_rename(
                        finalizing, f"{fence}.abandoned.{uuid.uuid4().hex}"
                    ):
                        return
                # Re-verify: with fence and finalizing both gone, the slot
                # can never transition to committed — but it may already
                # HAVE been committed (or re-claimed) before we looked.
                try:
                    cur = json.loads(self.fs.read_bytes(path))
                except (OSError, ValueError):
                    return
                if cur.get("status") == "committed" or cur.get("owner_token") != token:
                    return
        # Roll the slot aside: exactly one contender succeeds.
        self.fs.consume_rename(path, f"{path}.abandoned.{uuid.uuid4().hex}")

    def _claim(self, version: int, token: str) -> bool:
        marker = json.dumps(
            {
                "status": "in-progress",
                "owner": f"{os.uname().nodename}:{os.getpid()}",
                "owner_token": token,
                "claimed_at": time.time(),
            }
        ).encode()
        self.fs.makedirs(self.log_dir)
        slot = f"{self.log_dir}/{_fmt(version)}"
        if not self.fs.create_exclusive(slot, marker):
            return False
        try:
            self.fs.write_bytes_atomic(self._fence(version, token), b"fence")
        except BaseException:
            # a claim without a fence could never finalize or be cleanly
            # usurped until stale fallback — release the slot and surface
            try:
                self.fs.remove(slot)
            except OSError:
                pass
            raise
        return True

    CHECKPOINT_EVERY = 10

    def _encode_files(self, version: int, payload: dict, prev: list | None) -> dict:
        """Delta-encode the commit's pinned listing when that is smaller
        than the full list: store `files_add`/`files_remove` against the
        prior snapshot (`prev` = `_fold_files(version - 1)`, resolved
        once by the finalize and shared with `_carry_dv`).  Full `files`
        is kept as a CHECKPOINT every `CHECKPOINT_EVERY` versions,
        whenever no prior snapshot resolves, and whenever the delta
        wouldn't actually be smaller (partition rewrites replace most
        files — a full list doubles as a fresh checkpoint there).
        Writers stay oblivious: they always hand in the full list;
        resolution (`_fold_files`) serves both shapes."""
        if version % self.CHECKPOINT_EVERY == 0:
            return payload
        if prev is None:
            return payload
        files = list(payload["files"])
        prev_set, new_set = set(prev), set(files)
        add = sorted(new_set - prev_set)
        rem = sorted(prev_set - new_set)
        if len(add) + len(rem) >= len(files):
            return payload
        del payload["files"]
        payload["files_add"] = add
        payload["files_remove"] = rem
        return payload

    def _finalize(self, version: int, payload: dict | None, token: str) -> None:
        fence = self._fence(version, token)
        finalizing = f"{fence}.finalizing"
        # the CAS: one winner only (conditional-write on object stores)
        if not self.fs.consume_rename(fence, finalizing):
            raise CommitConflict(
                f"claim on version {version} of {self.dataset_path} was usurped "
                f"(transaction exceeded stale_timeout_s={self.stale_timeout_s}); "
                f"this writer's output must not be trusted as committed"
            ) from None
        if payload:
            payload = dict(payload)
            # lazy one-shot fold of the prior snapshot, shared by the
            # delta encoding and the DV carry-forward (neither, one, or
            # both may need it — a plain append with no DV state folds
            # exactly once, same as before)
            memo: list = []

            def prev_files():
                if not memo:
                    memo.append(self._fold_files(version - 1))
                return memo[0]

            if "files" in payload and version % self.CHECKPOINT_EVERY != 0:
                payload = self._encode_files(version, payload, prev_files())
            elif (
                "files" not in payload
                and version % self.CHECKPOINT_EVERY == 0
                and ("files_add" in payload or "files_remove" in payload)
            ):
                # optimistic appends hand in DELTAS (files_add composes
                # with any base, which is what makes them rebasable) —
                # expand to a full checkpoint on schedule so delta
                # chains stay bounded for every resolver
                base = prev_files()
                if base is not None:
                    payload["files"] = sorted(
                        (set(base) - set(payload.get("files_remove") or []))
                        | set(payload.get("files_add") or [])
                    )
                    payload.pop("files_add", None)
                    payload.pop("files_remove", None)
            payload = self._carry_dv(version, payload, prev_files)
            payload = self._carry_schema(version, payload)
        body = {"status": "committed", "committed_at": time.time(), **(payload or {})}
        self.fs.write_bytes_atomic(
            f"{self.log_dir}/{_fmt(version)}", json.dumps(body).encode()
        )
        try:
            # best-effort head pointer (see latest_version): a lost or
            # out-of-order write only costs readers extra forward
            # probes, never correctness
            self.fs.write_bytes_atomic(
                f"{self.log_dir}/{self.HEAD_HINT}",
                json.dumps({"version": version}).encode(),
            )
        except OSError:
            pass
        try:
            self.fs.remove(finalizing)
        except OSError:
            pass

    def _abort(self, version: int, token: str) -> None:
        # Consume our fence first: if a usurper beat us to it, the slot
        # is the usurper's live claim now, not ours to release.
        if not self.fs.consume_rename(
            self._fence(version, token),
            f"{self._fence(version, token)}.abandoned.{uuid.uuid4().hex}",
        ):
            return
        try:
            self.fs.remove(f"{self.log_dir}/{_fmt(version)}")
        except OSError:
            pass

    def _start_heartbeat(self, version: int, token: str):
        """Daemon thread refreshing the claim's mtime so a live writer
        never crosses the stale threshold.  Returns a stop callable."""
        import threading

        path = f"{self.log_dir}/{_fmt(version)}"
        fence = self._fence(version, token)
        interval = max(min(self.stale_timeout_s / 3.0, 60.0), 0.05)
        stop = threading.Event()

        def beat():
            while not stop.wait(interval):
                try:
                    self.fs.touch(path)  # raises if rolled aside: stop
                    # fence freshness is what gives a crashed finalize's
                    # `.finalizing` marker a truthful age at consume time
                    self.fs.touch(fence)
                except OSError:
                    return

        t = threading.Thread(target=beat, name=f"commit-heartbeat-{version}", daemon=True)
        t.start()

        def stopper():
            stop.set()
            t.join(timeout=5.0)

        return stopper

    @contextmanager
    def transaction(self, timeout: float = 60.0, payload: dict | None = None):
        """Claim the next commit slot, run the caller's read-modify-write
        exclusively, finalize on success, release the slot on failure.

        Yields a dict the caller may mutate to add commit metadata
        (rows, time range, ...) — it is persisted into the commit file.
        """
        deadline = time.monotonic() + timeout
        conflicts = 0
        token = uuid.uuid4().hex
        while True:
            # head via the `_head` pointer (latest_version fast path);
            # the only possible in-flight claim is the slot right above
            # it (committed versions are dense), so one exists() probe
            # replaces the full per-poll directory scan — the claim
            # loop stops being O(log size) per poll on object stores
            committed = self.latest_version()
            nxt = committed + 1
            if self.fs.exists(f"{self.log_dir}/{_fmt(nxt)}"):
                # someone's write is in flight ahead of us
                self._try_rollback_stale(nxt)
                if time.monotonic() > deadline:
                    raise CommitTimeout(
                        f"commit slot {nxt} of {self.dataset_path} held "
                        f"in-progress past deadline"
                    )
                time.sleep(CLAIM_POLL_S)
                continue
            if self._claim(nxt, token):
                break
            # claim lost: a concurrent writer took nxt — our snapshot is
            # stale; loop re-reads the log and retries (optimistic retry)
            conflicts += 1
            if time.monotonic() > deadline:
                raise CommitTimeout(
                    f"lost {conflicts} claim races on {self.dataset_path} "
                    f"within {timeout}s"
                )
            time.sleep(CLAIM_POLL_S)

        meta: dict = dict(payload or {})
        # expose the claimed slot number: writers that persist per-commit
        # side artifacts (the _cdf change feed) key them by version; the
        # duplicate in the finalized payload is harmless (history() derives
        # the same number from the filename)
        meta["version"] = nxt
        if conflicts:
            meta["claim_conflicts"] = conflicts
        stop_heartbeat = self._start_heartbeat(nxt, token)
        try:
            yield meta
        except BaseException:
            stop_heartbeat()
            self._abort(nxt, token)
            raise
        stop_heartbeat()
        self._finalize(nxt, meta, token)
