"""Filesystem abstraction for driver-side lake path discovery.

Executors never touch this module — data-plane IO goes through Spark's
own Hadoop-FS readers/writers, which already speak s3a/gs/abfs/hdfs.
What binds the lake to a *local* filesystem is the DRIVER-side path
discovery sprinkled through reader/writer/maintenance/manifest
(``os.listdir`` to enumerate Hive partition values, ``os.path.isdir``
to probe dataset existence, ``os.walk`` for orphan scans, atomic
renames for compaction swaps).  At 100 TB the lake lives on object
storage, so every one of those sites now goes through the
:class:`Filesystem` interface below.

Implementations:

- :class:`LocalFS` — the default; plain ``os``/``shutil``.  Chosen
  automatically for scheme-less paths and ``file:`` URIs.
- :class:`HadoopFS` — backed by the JVM's ``org.apache.hadoop.fs.
  FileSystem`` via the active SparkSession, so an ``s3a://bucket/lake``
  base path works with whatever credentials/committers the Spark conf
  already carries.  Chosen automatically for ``scheme://`` paths.
  Atomicity caveats are per-store and documented on each method:
  rename is atomic on HDFS, copy+delete (non-atomic, O(bytes)) on S3A;
  ``create(overwrite=false)`` is atomic on HDFS and on S3A with
  conditional-write support (Hadoop 3.4.1+/S3 conditional puts), but
  check-then-create on ``RawLocalFileSystem``.

``get_fs(path, spark)`` picks the implementation from the path scheme;
every lake component takes an optional ``fs`` argument so tests can
inject fakes and deployments can pin a tuned implementation.

The reference has the same limitation this removes: its reader globs
the local filesystem directly (``storage/reader.py:41-48``) and cannot
point at object storage at all.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator


class Filesystem:
    """Driver-side filesystem operations the lake needs.

    Paths are plain strings in the lake's own layout (``base/exchange=X/
    market=Y/...``); implementations map them to their store's API.
    """

    #: True when `rename` is an atomic directory move (POSIX, HDFS, ADLS
    #: Gen2 w/ hierarchical namespace).  Object stores whose rename is a
    #: copy+delete set this False; in-place operations that swap whole
    #: directory trees (maintenance.compact) refuse to run there.
    ATOMIC_RENAME = True

    # -- discovery ---------------------------------------------------------
    def listdir(self, path: str) -> list[str]:
        """Child NAMES (not paths) of a directory; [] if it does not exist."""
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def walk_files(self, path: str) -> Iterator[tuple[str, str]]:
        """Yield (dirpath, filename) for every file under `path`."""
        raise NotImplementedError

    def getmtime(self, path: str) -> float:
        raise NotImplementedError

    def getsize(self, path: str) -> int:
        raise NotImplementedError

    def touch(self, path: str) -> None:
        """Refresh an EXISTING file's mtime without touching its content;
        raises OSError if the file is gone.  Never creates the file —
        the commit-log heartbeat relies on that to detect a claim that
        was rolled aside from under it."""
        raise NotImplementedError

    # -- mutation ----------------------------------------------------------
    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Atomic move where the store supports it (see class docs)."""
        raise NotImplementedError

    def consume_rename(self, src: str, dst: str) -> bool:
        """Move src -> dst with EXACTLY-ONE-WINNER semantics: among any
        number of concurrent callers racing to consume the same `src`
        (each with its own `dst`), precisely one returns True; the rest
        return False having changed nothing.  This is the primitive the
        commit log's fence CAS rides (lake/commitlog.py: finalize /
        abort / stale roll-aside all contend on one fence file).

        Default: a bare rename, whose store-level atomicity IS the
        guarantee (POSIX, HDFS).  Stores whose rename is non-atomic
        copy+delete (S3A) MUST NOT use this default — two racing
        copy+delete renames can both appear to succeed.  There the
        guarantee moves to a CONDITIONAL WRITE: claim `<src>.consumed`
        via create_exclusive (S3 `If-None-Match: *` conditional PUT /
        GCS `x-goog-if-generation-match: 0`), and only the claim winner
        performs the copy+delete — see ConditionalConsumeFS.
        """
        try:
            self.rename(src, dst)
            return True
        except OSError:
            return False

    # -- small control files (commit log, watermarks) ----------------------
    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def read_tail(self, path: str, n: int) -> bytes:
        """The last `n` bytes of a file (all of it when shorter) — what a
        Parquet footer read needs.  Default: a whole-file `read_bytes`,
        so every subclass and delegating wrapper works unchanged; stores
        with ranged reads override it."""
        data = self.read_bytes(path)
        return data[max(0, len(data) - n):]

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        """Write via tmp file + rename so readers never see a partial file."""
        raise NotImplementedError

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Create `path` with `data` iff it does not exist; atomically where
        the store supports it.  Returns False (writing nothing) if the
        path already exists."""
        raise NotImplementedError


def _local(path: str) -> str:
    """Accept plain paths AND ``file://`` URIs (a lake base of
    ``file:///data/lake`` must hit the same files whichever Filesystem
    serves it)."""
    return path[len("file://"):] if path.startswith("file://") else path


class LocalFS(Filesystem):
    """POSIX-backed default. All primitives are genuinely atomic here:
    ``O_EXCL`` create, same-directory ``os.replace`` rename."""

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(_local(path))
        except FileNotFoundError:
            return []

    def isdir(self, path: str) -> bool:
        return os.path.isdir(_local(path))

    def exists(self, path: str) -> bool:
        return os.path.exists(_local(path))

    def walk_files(self, path: str) -> Iterator[tuple[str, str]]:
        for root, _dirs, files in os.walk(_local(path)):
            for f in files:
                yield root, f

    def getmtime(self, path: str) -> float:
        return os.path.getmtime(_local(path))

    def getsize(self, path: str) -> int:
        return os.path.getsize(_local(path))

    def touch(self, path: str) -> None:
        os.utime(_local(path), None)  # FileNotFoundError is an OSError

    def makedirs(self, path: str) -> None:
        os.makedirs(_local(path), exist_ok=True)

    def remove(self, path: str) -> None:
        os.remove(_local(path))

    def rmtree(self, path: str) -> None:
        shutil.rmtree(_local(path), ignore_errors=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(_local(src), _local(dst))

    def read_bytes(self, path: str) -> bytes:
        with open(_local(path), "rb") as fh:
            return fh.read()

    def read_tail(self, path: str, n: int) -> bytes:
        with open(_local(path), "rb") as fh:
            fh.seek(max(0, os.fstat(fh.fileno()).st_size - n))
            return fh.read()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        path = _local(path)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def create_exclusive(self, path: str, data: bytes) -> bool:
        try:
            fd = os.open(_local(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
            os.fsync(fd)
        finally:
            os.close(fd)
        return True


class HadoopFS(Filesystem):
    """``org.apache.hadoop.fs.FileSystem`` via the SparkSession's JVM.

    Works for any URI scheme the Spark conf can resolve (``s3a://``,
    ``hdfs://``, ``gs://``, ``file://``), reusing the session's
    credentials.  Per-store atomicity: ``rename`` is atomic on HDFS and
    POSIX, copy+delete on S3A (compaction swaps on S3 should instead use
    versioned directories + manifest pointer flips — see
    maintenance.compact docstring); ``create_exclusive`` maps to
    ``create(path, overwrite=false)``, atomic on HDFS, conditional-put
    on recent S3A, check-then-create on RawLocalFileSystem (use LocalFS
    for local paths).
    """

    def __init__(self, spark, base_uri: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(base_uri).getFileSystem(conf)

    def _p(self, path: str):
        return self._Path(path)

    @staticmethod
    def _java_matches(exc, needle: str) -> bool:
        """True iff the py4j error wraps a Java exception whose class name
        (or any cause's) contains `needle` — the only way to distinguish
        'file already exists' / 'not found' from transient IO/permission
        failures across Hadoop filesystem implementations."""
        je = getattr(exc, "java_exception", None)
        seen = 0
        while je is not None and seen < 10:
            if needle in je.getClass().getName():
                return True
            je = je.getCause()
            seen += 1
        return False

    def _raise_or_oserror(self, exc, path: str):
        """Convert Java FileNotFound into OSError (the contract callers
        like the commit log's stale-claim probe catch); re-raise
        everything else unchanged."""
        if self._java_matches(exc, "FileNotFoundException"):
            raise OSError(f"not found: {path}") from None
        raise exc

    def listdir(self, path: str) -> list[str]:
        p = self._p(path)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def walk_files(self, path: str) -> Iterator[tuple[str, str]]:
        p = self._p(path)
        if not self._fs.exists(p):
            return
        # Yield dirpaths REBASED onto the caller's own `path` string:
        # consumers (audit/vacuum/prune_commit_logs) prefix-compare and
        # rebuild paths against the scheme-qualified base_path, so a bare
        # toUri().getPath() (s3a://bucket/lake/... -> /lake/...) would make
        # every dataset look like an orphan AND a dead link at once.
        base_pathpart = p.toUri().getPath().rstrip("/")
        root_str = path.rstrip("/")
        it = self._fs.listFiles(p, True)  # recursive RemoteIterator
        while it.hasNext():
            st = it.next()
            fp = st.getPath()
            parent = fp.getParent().toUri().getPath()
            if parent == base_pathpart:
                yield root_str, fp.getName()
            elif parent.startswith(base_pathpart + "/"):
                yield root_str + parent[len(base_pathpart):], fp.getName()
            else:  # outside the walk root (symlink-ish): fully qualified
                yield fp.getParent().toString(), fp.getName()

    def getmtime(self, path: str) -> float:
        try:
            return self._fs.getFileStatus(self._p(path)).getModificationTime() / 1000.0
        except Exception as e:  # noqa: BLE001 — narrowed in _raise_or_oserror
            self._raise_or_oserror(e, path)

    def getsize(self, path: str) -> int:
        try:
            return int(self._fs.getFileStatus(self._p(path)).getLen())
        except Exception as e:  # noqa: BLE001
            self._raise_or_oserror(e, path)

    def touch(self, path: str) -> None:
        import time as _time

        p = self._p(path)
        try:
            if not self._fs.exists(p):
                raise OSError(f"not found: {path}")
            self._fs.setTimes(p, int(_time.time() * 1000), -1)
        except OSError:
            raise
        except Exception as e:  # noqa: BLE001
            self._raise_or_oserror(e, path)

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def remove(self, path: str) -> None:
        if self._fs.delete(self._p(path), False):
            return
        # delete() returning False is ambiguous across Hadoop FS impls:
        # distinguish "already gone" (not-found, the condition commit-log
        # probes catch) from "still there but undeletable" (permission /
        # lease failure) — silently swallowing the latter would let e.g.
        # an emptied-partition cleanup report rows deleted while the
        # directory still serves them.
        if self._fs.exists(self._p(path)):
            raise OSError(f"delete refused (permission/lease?): {path}")
        raise OSError(f"not found: {path}")

    def rmtree(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def read_bytes(self, path: str) -> bytes:
        try:
            stream = self._fs.open(self._p(path))
        except Exception as e:  # noqa: BLE001
            self._raise_or_oserror(e, path)
        try:
            out = bytearray()
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            out.extend(ioutils.toByteArray(stream))
            return bytes(out)
        finally:
            stream.close()

    def read_tail(self, path: str, n: int) -> bytes:
        p = self._p(path)
        try:
            size = int(self._fs.getFileStatus(p).getLen())
            stream = self._fs.open(p)
        except Exception as e:  # noqa: BLE001
            self._raise_or_oserror(e, path)
        try:
            k = min(n, size)
            stream.seek(size - k)
            # read into a JVM-side byte[] and return it: py4j hands a
            # byte[] back as Python bytes in one transfer (an array
            # passed IN would be copied, never filled)
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            return bytes(ioutils.toByteArray(stream, k))
        finally:
            stream.close()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        tmp = f"{path}.tmp.{os.getpid()}"
        stream = self._fs.create(self._p(tmp), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        if not self._fs.rename(self._p(tmp), self._p(path)):
            # destination existed (HDFS rename does not clobber files):
            # replace explicitly — last writer wins, matching os.replace
            self._fs.delete(self._p(path), False)
            if not self._fs.rename(self._p(tmp), self._p(path)):
                raise OSError(f"atomic write failed: {path}")

    def create_exclusive(self, path: str, data: bytes) -> bool:
        try:
            stream = self._fs.create(self._p(path), False)
        except Exception as e:  # noqa: BLE001 — narrowed below
            # Only the lost-the-race condition maps to False; a transient
            # py4j/IO/permission failure must surface, not spin the
            # commit-log retry loop until CommitTimeout.  Hadoop also
            # raises FileAlreadyExistsException("Parent path is not a
            # directory") from mkdirs — NOT a race — so confirm the
            # target itself exists before treating it as one.
            je = getattr(e, "java_exception", None)
            looks_like_race = self._java_matches(e, "AlreadyExists") or (
                je is not None
                and "already exists" in (je.getMessage() or "").lower()
            )
            if looks_like_race and self._fs.exists(self._p(path)):
                return False
            raise
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        return True


class ConditionalConsumeFS:
    """Mixin: `consume_rename` for stores whose rename is NON-atomic
    copy+delete (S3A-style).  The exactly-one-winner guarantee moves
    from the rename to a conditional CREATE of a consume marker:

    1. `create_exclusive("<src>.consumed", winner-id)` — maps to an S3
       conditional PUT with `If-None-Match: *` (supported natively
       since 2024; on GCS, `x-goog-if-generation-match: 0`).  Exactly
       one racer's PUT succeeds; everyone else backs off having
       written nothing.
    2. The winner alone copies src's bytes to dst and deletes src and
       the marker.  The copy+delete no longer needs to be atomic: no
       other consumer can pass step 1 while src still exists, and once
       src is gone every later attempt fails its read in step 1's
       re-check.

    A winner that dies between steps leaves `<src>.consumed` behind;
    the marker names a consumption that never completed, and the
    orphan-fence sweep (CommitLog.prune) clears it with the fence it
    guards.  Mix in FIRST (``class S3FS(ConditionalConsumeFS,
    HadoopFS)``) so this override wins over the base default.
    """

    def consume_rename(self, src: str, dst: str) -> bool:
        marker = f"{src}.consumed"
        if not self.exists(src):
            return False
        if not self.create_exclusive(marker, b"consumed"):
            return False  # another consumer holds (or held) the claim
        try:
            data = self.read_bytes(src)
        except OSError:
            # src vanished between the exists probe and our claim —
            # the previous winner finished; release the marker
            try:
                self.remove(marker)
            except OSError:
                pass
            return False
        self.write_bytes_atomic(dst, data)
        try:
            self.remove(src)
        except OSError:
            pass
        try:
            self.remove(marker)
        except OSError:
            pass
        return True


# Schemes whose `rename` is a non-atomic copy+delete (or offers no
# exactly-once contract): fence consumption must ride the conditional
# CREATE instead (ConditionalConsumeFS). Deployment matrix:
#   s3/s3a/s3n — copy+delete rename; conditional PUT (If-None-Match: *)
#     needs Hadoop 3.4.1+ for fs.create(overwrite=false) to map to it
#     natively (S3 added it server-side in 2024).
#   gs — rename is copy+delete; conditional create via
#     x-goog-if-generation-match: 0 (GCS connector honors overwrite=false).
#   wasb/wasbs/oss/cos/swift — blob stores without atomic dir rename.
#   abfs/abfss — ADLS Gen2 WITH hierarchical namespace has atomic rename
#     and is deliberately NOT in the default set; flat-namespace blob
#     endpoints should add it via DL_OBJECT_STORE_SCHEMES.
#   hdfs/file — atomic rename; plain HadoopFS.
# Override/extend with the DL_OBJECT_STORE_SCHEMES env var
# (comma-separated scheme list, replaces the default set).
OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "wasbs", "swift"}
)


def _object_store_schemes() -> frozenset[str]:
    import os

    env = os.environ.get("DL_OBJECT_STORE_SCHEMES")
    if env is None:
        return OBJECT_STORE_SCHEMES
    return frozenset(s.strip().lower() for s in env.split(",") if s.strip())


class ObjectStoreFS(ConditionalConsumeFS, HadoopFS):
    """HadoopFS for object-store schemes: `consume_rename`'s
    exactly-one-winner guarantee comes from the conditional CREATE of a
    consume marker (ConditionalConsumeFS), never from the store's
    copy+delete rename. `get_fs` selects this class automatically for
    the schemes above — the safety is zero-config, the scheme set is
    env-tunable."""

    ATOMIC_RENAME = False


def has_visible_children(fs: Filesystem, path: str) -> bool:
    """True iff `path` has at least one child Spark's file index would
    NOT hide.  A dataset directory holding only control state (the
    ``_commits`` log, ``.tmp`` staging) has no data yet — reading it as
    parquet would fail with UNABLE_TO_INFER_SCHEMA, so existence checks
    must look for visible children, not just the directory."""
    return any(not c.startswith(("_", ".")) for c in fs.listdir(path))


def get_fs(path: str, spark=None) -> Filesystem:
    """Pick a Filesystem from the path's scheme.

    Scheme-less paths get LocalFS (fully atomic primitives).
    ``file://`` URIs get HadoopFS when a session is available — the
    same JVM code path an ``s3a://`` base takes, which is what the
    integration tests exercise — and URI-tolerant LocalFS otherwise.
    Any other ``scheme://`` needs the JVM-backed HadoopFS, which
    requires an active SparkSession to borrow the Hadoop conf from;
    object-store schemes (OBJECT_STORE_SCHEMES / the
    DL_OBJECT_STORE_SCHEMES env override) get ObjectStoreFS so fence
    consumption never rides a copy+delete rename.
    """
    scheme = (path.split("://", 1)[0] if "://" in path else "").lower()
    if scheme == "" or (scheme == "file" and spark is None):
        return LocalFS()
    if spark is None:
        raise ValueError(
            f"{path!r} needs a SparkSession to build a Hadoop filesystem for "
            f"scheme {scheme!r}; pass fs=HadoopFS(spark, base) explicitly"
        )
    if scheme in _object_store_schemes():
        return ObjectStoreFS(spark, path)
    return HadoopFS(spark, path)
