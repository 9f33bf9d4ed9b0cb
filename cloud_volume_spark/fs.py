"""Storage-agnostic path operations for the commit protocol.

The chunk-table commit swaps staged ``(mip, slab)`` directories into
place.  On a plain local path that is ``os.rename``; on anything with a
URI scheme (``s3a://``, ``gs://``, ``hdfs://``, ``file://``) the same
operations route through the Hadoop FileSystem API that Spark itself
uses for its reads/writes — so every scheme Spark can read, the commit
protocol can commit to.  (Reference parity: the reference's storage
layer abstracts gs/s3/file behind one interface, ``cloudvolume``'s
CloudFiles dependency; here Hadoop FS plays that role.)

Caveat, documented rather than hidden: directory rename is atomic on
HDFS and POSIX but copy+delete on object stores.  The slab is the unit
of rewrite precisely so the non-atomic window touches one slab dir at a
time; a production deployment wanting snapshot-atomic commits should
layer a table format (Delta/Iceberg) over the same parquet layout.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import warnings
from typing import List

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

# Schemes whose JVM create-if-absent primitives are atomic by contract
# (HDFS createNewFile / create(overwrite=false) are namespace ops).
# NOT "file": RawLocalFileSystem's create(overwrite=false) is an
# exists-check-then-open TOCTOU — file:// create primitives therefore
# route to the POSIX O_EXCL / hard-link implementations instead.
_ATOMIC_JVM_SCHEMES = {"hdfs", "viewfs"}

# Capability strings a store may advertise for conditional writes
# (Hadoop 3.4 S3A If-None-Match PUT: HADOOP-19256 makes
# create(overwrite=false) a server-side-atomic conditional PUT that
# rejects at close() when the object appeared meanwhile).  Probed via
# hasPathCapability; when none is advertised the commit lock and
# generation CAS are advisory and a loud warning fires.
_CONDITIONAL_CREATE_CAPS = (
    "fs.option.create.conditional.overwrite",
    "fs.capability.create.conditional",
)


def is_local(path: str) -> bool:
    return "://" not in path


def local_part(path: str) -> str:
    """The filesystem directory of a local or file:// path, else None."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if "://" in path:
        return None
    return path


class PathOps:
    """exists/rmtree/rename/makedirs/listdir/read/write over either the
    local filesystem (fast path, no JVM hop — scheme-less paths only) or
    Hadoop FileSystem (any ``scheme://`` URI, *including* ``file://``:
    that is how the JVM branch — the exact code path the commit
    protocol takes on s3a/gs/hdfs — gets real test execution via
    Hadoop's LocalFileSystem, instead of silently falling back to
    os/shutil)."""

    def __init__(self, path: str, spark: SparkSession = None):
        self._local = path if is_local(path) else None
        self._scheme = ""
        if self._local is not None:
            # POSIX: O_EXCL / hard-link publish are atomic.
            self.atomic_create = True
            self._close_decides = False
            return
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            if path.startswith("file://"):
                # metadata access without a session (VolumeInfo.load
                # before get_spark): the local filesystem is
                # semantically identical for file:// — degrade to the
                # os/shutil branch instead of failing
                self._local = local_part(path)
                self.atomic_create = True
                self._close_decides = False
                return
            raise RuntimeError(
                f"remote path {path!r} requires an active SparkSession"
            )
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self._IOUtils = jvm.org.apache.commons.io.IOUtils
        scheme = str(self._fs.getUri().getScheme() or "").lower()
        self._scheme = scheme
        if scheme == "file":
            # data ops ride the JVM branch (test execution of the
            # production code path), but the create PRIMITIVES route to
            # POSIX O_EXCL / hard-link below — RawLocalFileSystem's
            # create(overwrite=false) is a TOCTOU, not a CAS
            self.atomic_create = True
            self._close_decides = False
        elif scheme in _ATOMIC_JVM_SCHEMES:
            self.atomic_create = True
            self._close_decides = False
        else:
            # Object store (s3a/gs/oss/...): createNewFile and
            # create(overwrite=false) are exists-check-then-PUT — NOT
            # atomic — unless the store implements conditional writes
            # (Hadoop 3.4 S3A If-None-Match), where the conditional
            # PUT rejects at close().  Probe the capability; without
            # it, the commit lock and the generation CAS are advisory:
            # treat the table as single-writer.
            cap = False
            for name in _CONDITIONAL_CREATE_CAPS:
                try:
                    if bool(self._fs.hasPathCapability(
                            self._Path(path), name)):
                        cap = True
                        break
                except Exception:
                    continue
            self.atomic_create = cap
            self._close_decides = cap
            if not cap:
                warnings.warn(
                    f"store scheme {scheme!r} for {path!r} lacks atomic "
                    "create-if-absent (no conditional-create capability "
                    f"among {_CONDITIONAL_CREATE_CAPS!r}): the commit "
                    "lock and manifest-generation CAS are advisory here "
                    "— run at most ONE writer per table, or upgrade to "
                    "a store/Hadoop version with conditional writes. "
                    "Committed manifests are read-back-verified to make "
                    "lost updates loud, but a narrow overwrite window "
                    "remains (see SCALE.md).",
                    stacklevel=3,
                )

    def exists(self, path: str) -> bool:
        if self._local is not None:
            return os.path.exists(local_part(path))
        return self._fs.exists(self._Path(path))

    def rmtree(self, path: str) -> None:
        if self._local is not None:
            shutil.rmtree(local_part(path), ignore_errors=True)
            return
        p = self._Path(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def rename(self, src: str, dst: str) -> None:
        if self._local is not None:
            os.rename(local_part(src), local_part(dst))
            return
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename {src} -> {dst} failed")

    def makedirs(self, path: str) -> None:
        if self._local is not None:
            os.makedirs(local_part(path), exist_ok=True)
            return
        self._fs.mkdirs(self._Path(path))

    def listdir(self, path: str) -> List[str]:
        if self._local is not None:
            p = local_part(path)
            return os.listdir(p) if os.path.isdir(p) else []
        p = self._Path(path)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    def create_exclusive(self, path: str) -> bool:
        """Atomically create an empty marker file; ``False`` if it
        already exists — the primitive behind the slab-commit lock.
        Local and ``file://``: ``O_CREAT|O_EXCL`` (atomic on POSIX;
        LocalFileSystem's own create is a TOCTOU, so file:// routes
        here even on the JVM branch). Other Hadoop FS: conditional
        create (rejects at close, If-None-Match) on stores advertising
        the capability, ``createNewFile`` elsewhere (atomic on HDFS;
        exists-check-then-PUT on object stores without conditional
        writes — advisory only, ``atomic_create`` False, warning at
        construction)."""
        if self._local is not None:
            return self._posix_create_exclusive(local_part(path))
        if self._scheme == "file":
            # JVM-branch PathOps over file://: the lock must be a real
            # CAS, which RawLocalFileSystem cannot give — use O_EXCL on
            # the underlying path (same physical file the JVM sees)
            return self._posix_create_exclusive(local_part(path))
        return self._jvm_create_exclusive(path)

    @staticmethod
    def _posix_create_exclusive(lp: str) -> bool:
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        try:
            fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        os.close(fd)
        return True

    # Exception signatures that mean "another writer already created
    # the target" — a LOST RACE, the one outcome the create-if-absent
    # primitives report as False. Anything else (network, auth,
    # throttling) propagates: mapping a transient 503 to "lock held /
    # publish conflict" would send operators hunting a lock file that
    # does not exist.
    #
    # Java exceptions (the real store path) are classified by EXACT
    # class simple-name over the ``getCause()`` chain — a genuine IO
    # failure whose stringified stack trace merely *mentions*
    # "PreconditionFailed" (a proxy error body echoed into a message, a
    # wrapped retry trace) must propagate, not read as "exists". The
    # substring probe survives only for non-Py4J exceptions (pure-
    # Python store wrappers and test fakes), where the message is all
    # there is.
    _RACE_CLASS_NAMES = frozenset({
        "FileAlreadyExistsException",    # o.a.h.fs + java.nio.file
        "PathExistsException",           # o.a.h.fs create(overwrite=F)
        "AlreadyBeingCreatedException",  # HDFS lease contention
        "RemoteFileChangedException",    # S3A conditional-create reject
    })
    _RACE_MARKERS = (
        "FileAlreadyExistsException",
        "AlreadyBeingCreatedException",
        "RemoteFileChangedException",
        "PreconditionFailed",
        "Status Code: 412",               # raw S3 If-None-Match failure
    )

    @classmethod
    def _is_lost_race(cls, exc: Exception) -> bool:
        je = getattr(exc, "java_exception", None)
        if je is None:
            s = repr(exc) + str(exc)
            return any(m in s for m in cls._RACE_MARKERS)
        hops = 0
        while je is not None and hops < 8:
            try:
                name = je.getClass().getName()
            except Exception:
                break
            if name.rsplit(".", 1)[-1] in cls._RACE_CLASS_NAMES:
                return True
            # AWS/GCS service exceptions carry the HTTP status as a
            # field; 412 = If-None-Match / generation-match reject.
            # The probe targets the exception's OWN structured status,
            # never the stringified trace of its causes. getCode is
            # the google-cloud-storage StorageException accessor.
            for probe in ("statusCode", "getStatusCode", "getCode"):
                try:
                    if int(getattr(je, probe)()) == 412:
                        return True
                except Exception:
                    pass
            # message fallback for SDKs that only template the status
            # into text — per-frame OWN message, and the precondition
            # wording counts only on service-exception classes (an
            # IOException whose message merely echoes a proxy body
            # must still propagate: the r8 ADVICE false-positive)
            try:
                msg = je.getMessage() or ""
                if "Status Code: 412" in msg:
                    return True
                simple = name.rsplit(".", 1)[-1]
                if (("StorageException" in simple
                     or "S3Exception" in simple
                     or "ServiceException" in simple)
                        and ("PreconditionFailed" in msg
                             or "Precondition Failed" in msg
                             or "conditionNotMet" in msg)):
                    return True
            except Exception:
                pass
            try:
                je = je.getCause()
            except Exception:
                break
            hops += 1
        return False

    def _jvm_create_exclusive(self, path: str) -> bool:
        """The generic-store lock primitive (what runs on hdfs/s3a/gs):
        atomic on HDFS (namespace op) and on conditional-create stores
        (PUT rejected at close); exists-check-then-PUT elsewhere —
        which is why ``atomic_create`` is False there."""
        if self._close_decides:
            try:
                self._fs.create(self._Path(path), False).close()
                return True
            except Exception as e:
                if self._is_lost_race(e):
                    return False
                raise
        return bool(self._fs.createNewFile(self._Path(path)))

    def create_with_content(self, path: str, data: bytes) -> bool:
        """Atomically create ``path`` holding ``data``; ``False`` if it
        already exists — the manifest-publish primitive. Locally and on
        ``file://`` this is write-a-unique-tmp + ``os.link`` (atomic
        create-if-absent WITH content: no observably-empty intermediate
        file, so a racer can never mistake an in-progress publish for a
        crashed husk). On generic Hadoop FS it is
        ``create(overwrite=False)`` + write + close — existence
        precedes content there, which is why publishers also hold the
        commit lock and readers ignore an unparseable newest
        manifest."""
        if self._local is not None:
            return self._posix_create_with_content(local_part(path), data)
        if self._scheme == "file":
            # hard-link publish on the underlying path: atomic WITH
            # content, which LocalFileSystem's create cannot give
            return self._posix_create_with_content(local_part(path), data)
        return self._jvm_create_with_content(path, data)

    @staticmethod
    def publish_tmp_name(path: str, nonce) -> str:
        """The publish-tmp naming contract, in ONE place: a sibling of
        ``path`` whose name is dot-prefixed — Spark file sources (the
        streaming change feed readStreams its directory) ignore
        '.'-prefixed names, so an in-flight or crash-orphaned tmp can
        never be ingested as data or crash a listed-then-gone
        micro-batch. :meth:`is_publish_tmp` is the matching predicate
        (vacuum's orphan sweep)."""
        parent, _, base = path.rpartition("/")
        return f"{parent}/.{base}.w{os.getpid()}-{id(nonce) & 0xffffff:x}"

    # anchored to exactly the shape publish_tmp_name emits — vacuum
    # sweeps matching names out of live table dirs, so a loose match
    # would delete foreign dotfiles (or crash on dot-dirs)
    _PUBLISH_TMP_RE = re.compile(r"^\..+\.w\d+-[0-9a-f]{1,6}$")

    @classmethod
    def is_publish_tmp(cls, name: str) -> bool:
        """Does a bare filename match :meth:`publish_tmp_name`'s shape?"""
        return cls._PUBLISH_TMP_RE.match(name) is not None

    @classmethod
    def _posix_create_with_content(cls, lp: str, data: bytes) -> bool:
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        tmp = cls.publish_tmp_name(lp, data)
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, lp)
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        dfd = os.open(os.path.dirname(lp), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return True

    def _jvm_create_with_content(self, path: str, data: bytes) -> bool:
        """The generic-store publish primitive (hdfs/s3a/gs).

        On real filesystems (HDFS/viewfs) ``create`` makes the file
        VISIBLE before its content lands — a streaming file source
        that lists the empty file records it as processed and never
        re-reads it, silently losing that generation's rows. There the
        publish is write-to-a-dot-prefixed-tmp (invisible to Spark
        file sources) + atomic ``rename``; rename-onto-existing
        returns False per the FileSystem contract, preserving
        create-if-absent. Object stores keep the direct create path:
        a PUT is all-or-nothing at close, so no empty file is ever
        visible, and rename there is a non-atomic copy."""
        if self._scheme in _ATOMIC_JVM_SCHEMES:
            return self._jvm_publish_via_rename(path, data)
        try:
            out = self._fs.create(self._Path(path), False)  # no overwrite
        except Exception as e:
            if self._is_lost_race(e):
                return False
            raise
        ok = True
        try:
            out.write(bytearray(data))
            try:
                out.hsync()
            except Exception:
                pass
        finally:
            if self._close_decides:
                # conditional-create stores reject the PUT at close when
                # the object appeared meanwhile: we lost the publish
                # race. Only precondition-failure signatures mean that;
                # other close() errors are genuine IO failures.
                try:
                    out.close()
                except Exception as e:
                    if self._is_lost_race(e):
                        ok = False
                    else:
                        raise
            else:
                # on hdfs/file close() failure is a genuine IO error —
                # let it propagate rather than masquerade as "exists"
                out.close()
        return ok

    def _jvm_publish_via_rename(self, path: str, data: bytes) -> bool:
        """Create-if-absent WITH content for HDFS-like stores: write a
        dot-prefixed sibling tmp, hsync, then ``rename`` into place.
        The rename is atomic in the namespace and FAILS (returns
        False) when the destination exists, so two racing publishers
        resolve exactly like ``create(overwrite=false)`` — without the
        visible-before-content window that create has."""
        tmp = self.publish_tmp_name(path, data)
        try:
            self.write_bytes(tmp, data, sync=True)
            if self._fs.exists(self._Path(path)):
                return False  # lost the race before we even renamed
            if self._fs.rename(self._Path(tmp), self._Path(path)):
                return True
            if self._fs.exists(self._Path(path)):
                return False  # destination appeared: lost the race
            raise IOError(f"publish rename {tmp} -> {path} failed")
        finally:
            # covers write failures too, not just rename outcomes — a
            # tmp that escapes here is reclaimed by vacuum's sweep
            p = self._Path(tmp)
            if self._fs.exists(p):
                self._fs.delete(p, False)

    def remove(self, path: str) -> None:
        """Delete a single file (no-op if absent)."""
        if self._local is not None:
            try:
                os.remove(local_part(path))
            except FileNotFoundError:
                pass
            return
        p = self._Path(path)
        if self._fs.exists(p):
            self._fs.delete(p, False)

    def mtime(self, path: str) -> float:
        """Last-modification time, epoch seconds — the age signal for
        stale-lock breaking (``fsck(repair=True,
        break_lock_older_than=...)``). Object-store semantics: this is
        the store's own timestamp for the object, comparable across
        writers the way their clocks are."""
        if self._local is not None or self._scheme == "file":
            return os.path.getmtime(local_part(path))
        return self._fs.getFileStatus(
            self._Path(path)).getModificationTime() / 1000.0

    def read_bytes(self, path: str) -> bytes:
        if self._local is not None:
            with open(local_part(path), "rb") as f:
                return f.read()
        try:
            stream = self._fs.open(self._Path(path))
        except Py4JJavaError as e:  # one not-found error on every scheme
            if e.java_exception.getClass().getName() == \
                    "java.io.FileNotFoundException":
                raise FileNotFoundError(path) from e
            raise
        try:
            return bytes(self._IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes, sync: bool = False) -> None:
        """Write a file; ``sync=True`` makes the bytes durable before
        returning (fsync of file AND parent dir locally — a power loss
        after a manifest publish must not leave a torn file that reads
        as 'no commit'; hsync on Hadoop streams that support it)."""
        if self._local is not None:
            lp = local_part(path)
            os.makedirs(os.path.dirname(lp), exist_ok=True)
            with open(lp, "wb") as f:
                f.write(data)
                if sync:
                    f.flush()
                    os.fsync(f.fileno())
            if sync:
                dfd = os.open(os.path.dirname(lp), os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            return
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(data))
            if sync:
                try:
                    out.hsync()
                except Exception:  # stream type without hsync
                    pass
        finally:
            out.close()


def parquet_files(ops: PathOps, path: str) -> List[str]:
    """The data files Spark's parquet reader sees under the directory
    ``path``, sorted: names starting with ``_`` or ``.`` are skipped,
    and a streaming file sink's output (it holds ``_spark_metadata``)
    gives only the files its log commits. Every caller reads a dir a
    commit left non-empty, so an empty listing means the dir vanished:
    it raises ``FileNotFoundError``."""
    names = ops.listdir(path)
    if "_spark_metadata" in names:
        names = _sink_log_files(ops, f"{path}/_spark_metadata")
    files = sorted(f"{path}/{n}" for n in names
                   if not n.startswith(("_", ".")))
    if not files:
        raise FileNotFoundError(f"no parquet data file under {path!r}")
    return files


def _sink_log_files(ops: PathOps, log_dir: str) -> List[str]:
    """Names a file-sink log commits: its newest ``<batch>.compact``
    file and every later ``<batch>`` file, each a version line and then
    one JSON entry per file."""
    import json
    from urllib.parse import unquote, urlparse

    batches = {int(n.split(".")[0]): n for n in ops.listdir(log_dir)
               if n.split(".")[0].isdigit()}
    start = max((b for b, n in batches.items() if n.endswith(".compact")),
                default=-1)
    live = {}
    for b in sorted(b for b in batches if b >= start):
        log = ops.read_bytes(f"{log_dir}/{batches[b]}").decode()
        for e in map(json.loads, filter(str.strip, log.splitlines()[1:])):
            name = unquote(urlparse(e["path"]).path).rsplit("/", 1)[-1]
            live[name] = e.get("action") != "delete"
    return [n for n, keep in live.items() if keep]


@functools.cache
def _read_pool():
    """The driver reader's worker threads, started on first use and
    shared by every read: a new pool per read held 6-8 MB more driver
    RSS on the serving benchmark (4 vCPU) than one kept pool of 4."""
    from concurrent.futures import ThreadPoolExecutor

    return ThreadPoolExecutor(max_workers=4,
                              thread_name_prefix="read_parquet")


def _may_match(row_group, filters) -> bool:
    """False when a row group's min/max statistics rule out a filter."""
    stats = {row_group.column(j).path_in_schema:
             row_group.column(j).statistics
             for j in range(row_group.num_columns)}
    for c, op, v in filters:
        st = stats.get(c)
        if op == "not in" or st is None or not st.has_min_max:
            continue
        lo, hi = st.min, st.max
        if not (lo <= v <= hi if op == "==" else lo < v if op == "<"
                else lo <= v if op == "<=" else hi > v if op == ">"
                else hi >= v if op == ">="
                else any(lo <= x <= hi for x in v)):
            return False
    return True


def _matches(t, c: str, op: str, v):
    import pyarrow as pa
    import pyarrow.compute as pc

    if op in ("in", "not in"):
        hit = pc.is_in(t[c], value_set=pa.array(v).cast(t[c].type))
        return pc.invert(hit) if op == "not in" else hit
    return {"==": pc.equal, "<": pc.less, "<=": pc.less_equal,
            ">": pc.greater, ">=": pc.greater_equal}[op](t[c], v)


def read_parquet(ops: PathOps, files: List[str], columns=None,
                 filters=(), schema=None):
    """Read parquet ``files`` on the driver into one ``pyarrow.Table``,
    with no Spark job, on every scheme :class:`PathOps` serves: one
    ``read_bytes`` per file, several files fetched concurrently.
    ``columns`` projects; ``filters``, a conjunction of ``(column, op,
    value)`` comparisons (``==``, ``<``, ``<=``, ``>``, ``>=``, ``in``,
    ``not in``), prunes row groups by their statistics and then rows.
    The schema is ``schema``, else that of ``files[0]`` — Spark's rule
    without ``mergeSchema``: a column a file lacks reads as null, so a
    file lacking a filter column gives no row. A file that is not
    parquet raises ``IOError``, never reads as empty."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    filters = list(filters)
    fcols = [c for c, _, _ in filters]

    def read(path):
        data = ops.read_bytes(path)
        try:
            f = pq.ParquetFile(pa.BufferReader(data))
            have = f.schema_arrow
            groups = [i for i in range(f.num_row_groups)
                      if _may_match(f.metadata.row_group(i), filters)]
            if not groups or not set(fcols) <= set(have.names):
                return have, None
            cols = None if columns is None else list(dict.fromkeys(
                [c for c in columns if c in have.names] + fcols))
            t = f.read_row_groups(groups, columns=cols, use_threads=False)
        except pa.ArrowInvalid as exc:
            raise IOError(f"corrupt parquet file {path!r}: {exc}") from exc
        if filters:
            t = t.filter(functools.reduce(
                pc.and_, [_matches(t, *f) for f in filters]))
        return have, t

    parts = list(_read_pool().map(read, files) if len(files) > 1
                 else map(read, files))
    schema = (schema or parts[0][0]).remove_metadata()
    if columns is not None:
        schema = pa.schema([schema.field(c) for c in columns])
    return pa.concat_tables([pa.Table.from_arrays([
        t.column(f.name).cast(f.type) if f.name in t.column_names
        else pa.nulls(t.num_rows, f.type) for f in schema], schema=schema)
        for _, t in parts if t is not None] or [schema.empty_table()])
