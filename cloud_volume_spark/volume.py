"""Volume — the chunk-table engine core.

A volume is a partitioned Parquet dataset of chunk rows plus a JSON
``info`` catalog (:mod:`cloud_volume_spark.catalog`):

    chunks(mip INT, slab INT, cx INT, cy INT, cz INT, morton LONG,
           x0..z1 INT, encoding STRING, compression STRING,
           blob BINARY, labels_stats ARRAY<LONG>)

Layout & scale design:
- Partition directories on ``(mip, slab)`` where ``slab = morton >> 6``
  (64 spatially-adjacent chunks per slab, Z-order clustered). Bbox
  reads prune on slab ranges via min/max parquet stats + the
  ``cx/cy/cz BETWEEN`` predicates Catalyst pushes to the scan; writes
  rewrite only the touched slabs (driver-staged for uploads, one Spark
  write for distributed writers) — the
  copy-on-write unit is bounded, unlike a whole-table rewrite, so the
  design survives 100 TB volumes. A production deployment would swap
  the slab-overwrite for a table format's row-level MERGE; semantics
  here are identical.
- ``labels_stats`` (distinct labels per chunk, capped) is written at
  ingest for segmentation layers: ``unique``/``contains`` queries read
  the stats column instead of decoding blobs — the Spark analog of the
  reference's codec-native ``labels()`` fast path
  (``chunks.py:362-393``) and ``contains`` early-exit (``rx.py:782``).
- Decode/encode run as Arrow-batched ``mapInPandas`` UDFs; assembly
  ("shade", reference ``image/common.py:176-227``) happens driver-side
  only for cutouts that fit, otherwise callers take the block
  DataFrame (:meth:`Volume.blocks_df`) — the ``to_dask`` analog
  (reference ``frontends/precomputed.py:1221``).

Reference entry points re-expressed here: cutout read ``rx.py:239-379``,
write ``tx.py:63-260``, unique ``rx.py:898-1079``, scattered points
``frontends/precomputed.py:873-907``, exists ``image/__init__.py:484``,
delete ``image/__init__.py:516``, transfer ``image/xfer.py``,
downsample registration ``metadata.py:743`` (we implement the actual
reduction, which the reference delegates to Igneous).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Iterable, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from cloud_volume_spark import codecs
from cloud_volume_spark.catalog import ENCODING_LEVEL_KEYS, VolumeInfo
from cloud_volume_spark.fs import PathOps
from cloud_volume_spark.chunking import compressed_morton_code
from cloud_volume_spark.geometry import (
    AlignmentError, Bbox, OutOfBoundsError, Vec, reify_slices,
)

SLAB_SHIFT = 6  # 2**6 = 64 chunks per slab partition
LABELS_STATS_CAP = 4096  # above this many distincts, stats column is null
MANIFEST_PREFIX = "_manifest-"  # numbered manifest log files (snapshot commit)
MAX_ASSEMBLE_VOXELS = 512 * 1024 * 1024  # driver-side assembly cap (bytes guard)

CHUNK_SCHEMA = StructType([
    StructField("mip", IntegerType(), False),
    StructField("slab", IntegerType(), False),
    StructField("cx", IntegerType(), False),
    StructField("cy", IntegerType(), False),
    StructField("cz", IntegerType(), False),
    StructField("morton", LongType(), False),
    StructField("x0", IntegerType(), False),
    StructField("x1", IntegerType(), False),
    StructField("y0", IntegerType(), False),
    StructField("y1", IntegerType(), False),
    StructField("z0", IntegerType(), False),
    StructField("z1", IntegerType(), False),
    StructField("encoding", StringType(), False),
    StructField("compression", StringType(), True),
    StructField("blob", BinaryType(), False),
    StructField("labels_stats", ArrayType(LongType()), True),
])

BLOCK_SCHEMA = StructType([
    StructField("x0", IntegerType(), False),
    StructField("x1", IntegerType(), False),
    StructField("y0", IntegerType(), False),
    StructField("y1", IntegerType(), False),
    StructField("z0", IntegerType(), False),
    StructField("z1", IntegerType(), False),
    StructField("blob", BinaryType(), False),
])


class EmptyVolumeException(ValueError):
    """A chunk needed by the read is absent and fill_missing is False
    (reference ``rx.py`` EmptyVolumeException semantics)."""


class CommitConflictError(RuntimeError):
    """Another writer holds this volume's slab-commit lock, or the
    manifest generation moved during a commit (an interloper after a
    broken stale lock). The commit did not publish — retry after the
    other commit finishes, or remove the named lock file if it is
    stale (a crashed writer)."""


class ManifestError(RuntimeError):
    """The chunk table's manifest is unreadable, or the table is in a
    layout this engine no longer reads — never silently fall back to
    scanning all retained generations, which would serve
    stale/duplicate chunks."""


def _label_to_signed(v) -> int:
    """uint64 label → the two's-complement bit pattern that fits
    Spark's signed LongType. ``labels_stats`` and every label predicate
    store/compare this representation; graphene ids above 2^63 appear
    negative in the table but round-trip exactly (the convention Spark,
    BigQuery, and parquet INT64 all use for unsigned payloads)."""
    v = int(v)
    return v - (1 << 64) if v >= (1 << 63) else v


def _stats_list(uniq: np.ndarray):
    if uniq.size > LABELS_STATS_CAP:
        return None
    return [_label_to_signed(u) for u in uniq]


def shade(dest: np.ndarray, dest_bbox: Bbox, src: np.ndarray, src_bbox: Bbox) -> None:
    """Paint ``src`` into ``dest`` over the bbox intersection — THE
    assembly primitive (reference ``image/common.py:176-227``)."""
    inter = Bbox.intersection(dest_bbox, src_bbox)
    if inter.empty():
        return
    d0 = np.asarray(inter.minpt) - np.asarray(dest_bbox.minpt)
    d1 = np.asarray(inter.maxpt) - np.asarray(dest_bbox.minpt)
    s0 = np.asarray(inter.minpt) - np.asarray(src_bbox.minpt)
    s1 = np.asarray(inter.maxpt) - np.asarray(src_bbox.minpt)
    dest[d0[0]:d1[0], d0[1]:d1[1], d0[2]:d1[2], :] = \
        src[s0[0]:s1[0], s0[1]:s1[1], s0[2]:s1[2], :]


def _block_reduce(arr: np.ndarray, factor, seg: bool) -> np.ndarray:
    """Reduce ``(sx, sy, sz, nc)`` by ``factor`` per axis: per-block
    mean for images, per-block MODE for segmentations (deterministic
    ties → smallest label).  Partial edge blocks are reduced over the
    voxels actually present — trimming to factor multiples would
    silently drop the trailing rows of every edge chunk whose clamped
    extent is not a multiple of the factor (x-size 65 at factor 2 must
    produce 33 output columns, not 32)."""
    fx, fy, fz = (int(f) for f in factor)
    sx, sy, sz, nc = arr.shape
    ox, oy, oz = (-(-sx // fx), -(-sy // fy), -(-sz // fz))
    out = np.empty((ox, oy, oz, nc), dtype=arr.dtype)

    def segments(s, f):
        full = (s // f) * f
        seg_list = []
        if full:
            seg_list.append((0, full, f))
        if s > full:
            seg_list.append((full, s, s - full))
        return seg_list

    for (x0, x1, wx) in segments(sx, fx):
        for (y0, y1, wy) in segments(sy, fy):
            for (z0, z1, wz) in segments(sz, fz):
                sub = arr[x0:x1, y0:y1, z0:z1, :]
                nx, ny, nz = (x1 - x0) // wx, (y1 - y0) // wy, (z1 - z0) // wz
                v = sub.reshape(nx, wx, ny, wy, nz, wz, nc)
                if seg:
                    k = wx * wy * wz
                    b = v.transpose(0, 2, 4, 6, 1, 3, 5).reshape(
                        nx, ny, nz, nc, k)
                    srt = np.sort(b, axis=-1)
                    # mode as the longest run over the sorted axis,
                    # first maximal run → smallest most-frequent label.
                    # O(k) passes of O(n)-sized temporaries — a pairwise
                    # equality matrix would be O(n·k²) and reaches
                    # gigabytes per task at factor (4,4,4)+ on standard
                    # decoded chunk sizes
                    best = srt[..., 0].copy()
                    best_n = np.ones(best.shape, dtype=np.int32)
                    cur_n = np.ones(best.shape, dtype=np.int32)
                    for j in range(1, k):
                        same = srt[..., j] == srt[..., j - 1]
                        cur_n = np.where(same, cur_n + 1, 1)
                        upd = cur_n > best_n
                        if upd.any():
                            best[upd] = srt[..., j][upd]
                            best_n[upd] = cur_n[upd]
                    red = best
                else:
                    red = v.mean(axis=(1, 3, 5)).astype(arr.dtype)
                out[x0 // fx:x0 // fx + nx,
                    y0 // fy:y0 // fy + ny,
                    z0 // fz:z0 // fz + nz, :] = red
    return out


def _slab_of(morton: int, shift: int = SLAB_SHIFT) -> int:
    return int(morton) >> int(shift)


class Volume:
    """Reader/writer for one chunked volume backed by Parquet."""

    def __init__(self, spark: SparkSession, base_path: str, info: VolumeInfo,
                 slab_shift: Optional[int] = None):
        self.spark = spark
        self.base_path = base_path
        self.info = info
        # per-table slab granularity: resolved from the manifest for
        # existing tables (immutable once the first generation
        # publishes), from the argument (default SLAB_SHIFT) for new
        # ones — the 100 TB knob: bigger tables want bigger slabs so
        # the manifest entry count stays bounded
        self._slab_shift_default = (
            int(slab_shift) if slab_shift is not None else SLAB_SHIFT)
        self._slab_shift_resolved: Optional[int] = None
        self.bounded = True
        self.autocrop = False
        self.fill_missing = False
        self.default_mip = 0
        self.read_only = False
        # time-travel: when set, every read resolves this manifest
        # generation instead of the newest one, and writes are disabled
        self._pinned_generation: Optional[int] = None
        self._pinned_manifest: Optional[dict] = None  # immutable, cached
        self._fs = PathOps(base_path, spark)
        # re-entrancy tracking for _commit_lock: THREAD-LOCAL depth, so
        # a second driver thread sharing this Volume cannot ride the
        # first thread's held lock (it must contend on the lock file
        # like any other writer)
        import threading
        self._lock_tls = threading.local()

    # ------------------------------------------------------------------
    # catalog / lifecycle
    # ------------------------------------------------------------------

    @property
    def chunks_path(self) -> str:
        return os.path.join(self.base_path, "chunks")

    # sibling-object accessors, mirroring the reference frontend's
    # vol.mesh / vol.skeleton handles (frontends/precomputed.py)

    @property
    def mesh(self):
        from cloud_volume_spark.meshes import MeshLayer
        return MeshLayer(self.spark, os.path.join(self.base_path, "mesh"),
                         check_writable=self._check_writable)

    @property
    def skeleton(self):
        from cloud_volume_spark.skeletons import SkeletonLayer
        return SkeletonLayer(
            self.spark, os.path.join(self.base_path, "skeletons"),
            check_writable=self._check_writable,
        )

    @property
    def multilod_mesh(self):
        from cloud_volume_spark.multilod import MultiLodMeshLayer
        return MultiLodMeshLayer(
            self.spark, os.path.join(self.base_path, "mesh"),
            check_writable=self._check_writable,
        )

    @classmethod
    def open(cls, spark: SparkSession, base_path: str,
             max_redirects: int = 10,
             generation: Optional[int] = None,
             as_of=None) -> "Volume":
        """Open a volume, following info ``redirect`` links (reference
        ``metadata.py:224-293``). A redirected volume opens read-only,
        matching the reference's ReadOnlyException on write. A table in
        a pre-manifest layout raises :class:`ManifestError`.

        ``generation=N`` opens a TIME-TRAVEL snapshot: every read
        resolves manifest generation ``N`` exactly as it was published
        (the manifest log retains old generations until
        :meth:`vacuum`), and writes are disabled. Raises
        :class:`ManifestError` up front if that generation is missing
        or was vacuumed. ``as_of`` (epoch seconds or an ISO-8601
        string, naive = UTC) instead pins the newest retained
        generation whose publish stamp is ≤ the given time — the
        ``TIMESTAMP AS OF`` analog (advisory across writers with
        skewed clocks; pin by ``generation`` for exactness).

        Accepts reference-style cloudpaths (``precomputed://gs://…``,
        ``gs://…``, ``file:///…`` — ``paths.extract`` grammar) as well
        as plain paths; protocols map to the Hadoop scheme Spark reads
        (``s3``→``s3a``)."""
        from cloud_volume_spark.paths import resolve_cloudpath

        if generation is not None and as_of is not None:
            raise ValueError("pass generation= or as_of=, not both")
        base_path = resolve_cloudpath(base_path)
        info = VolumeInfo.load(base_path, max_redirects=max_redirects)
        vol = cls(spark, info.base_path or base_path, info)
        vol.read_only = bool(info.redirected_from)
        vol._manifest_generations()  # refuses an unsupported layout
        if as_of is not None:
            generation, man = vol._generation_as_of(as_of)
            vol._probe_generation_dirs(man)  # dirs, not just manifest
            vol._pinned_generation = int(generation)
            vol._pinned_manifest = man  # already fetched + parsed
        elif generation is not None:
            vol._pinned_generation = int(generation)
            if vol._pinned_generation == 0:
                # generation 0 is the empty table before the first
                # publish — the same pinned-empty-snapshot definition
                # changes(0) and restore(0) use (_generation_or_raise);
                # there is no manifest-000000000000.json file to load.
                vol._pinned_manifest = {"generation": 0, "entries": {}}
            else:
                vol._read_manifest()  # fail fast on vacuumed/absent pin
        return vol

    def _generation_as_of(self, ts) -> tuple:
        """``(generation, manifest)`` of the newest retained generation
        published at or before ``ts`` (epoch seconds, ISO-8601, or
        ``datetime`` — naive = UTC). Generations without a stamp
        (published before stamping existed) are the resolution of LAST
        RESORT: their commit time is unknown, so a stamped generation
        that provably qualifies always wins — otherwise an unstamped
        generation published by old-version code AFTER ``ts`` would be
        served as a historical snapshot. A TORN husk (bytes present,
        unparseable) is skipped — that commit never happened — but a
        READ failure raises: silently falling past an unreadable
        generation would pin an older snapshot and serve stale data as
        current."""
        import time
        from datetime import datetime, timezone

        if isinstance(ts, str):
            dt = datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ts = dt.timestamp()
        elif isinstance(ts, datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            ts = ts.timestamp()
        ts = float(ts)
        gens = self._manifest_generations()
        unstamped = None  # newest readable generation with no stamp
        saw_stamped = False
        for g in gens:
            path = self._manifest_file(g)
            raw, err = self._read_bytes_retry(path)
            if err is not None:
                raise ManifestError(
                    f"cannot read manifest {path!r} while resolving "
                    f"as_of={ts} ({err!r}); refusing to silently pin an "
                    "older generation — retry"
                )
            try:
                man = json.loads(raw.decode())
            except Exception:
                continue  # torn husk: that commit never happened
            man["generation"] = int(g)
            at = man.get("committed_at")
            if at is None:
                if unstamped is None:
                    unstamped = (int(g), man)
                continue  # keep looking for a stamped qualifier
            saw_stamped = True
            if float(at) <= ts:
                return int(g), man
        if unstamped is not None and not saw_stamped:
            # a PURE pre-stamp table: every retained generation predates
            # commit stamping, so no ordering vs ts is derivable at all
            # and the newest is the documented last resort. The moment
            # ANY stamped generation exists, this fallback is off: when
            # all stamps postdate ts, ts predates the (known) table
            # history and serving unstamped-newest would present current
            # data as a historical snapshot — raise instead, matching
            # Delta's TIMESTAMP AS OF out-of-range. Pin unstamped
            # generations with generation=N.
            return unstamped
        raise ManifestError(
            f"no retained manifest generation at or before timestamp "
            f"{ts} under {self.chunks_path!r} — the timestamp predates "
            f"the retained history (or older generations were "
            f"vacuumed); retained: {gens[:6]}. Unstamped (pre-stamping) "
            f"generations can only be opened with generation=N."
        )

    @classmethod
    def create(cls, spark: SparkSession, base_path: str, info: VolumeInfo,
               slab_shift: Optional[int] = None) -> "Volume":
        info.commit(base_path)
        return cls(spark, base_path, info, slab_shift=slab_shift)

    @classmethod
    def from_numpy(
        cls,
        spark: SparkSession,
        arr: np.ndarray,
        base_path: str,
        chunk_size: Sequence[int] = (64, 64, 64),
        encoding: str = "raw",
        layer_type: Optional[str] = None,
        resolution: Sequence = (1, 1, 1),
        voxel_offset: Sequence[int] = (0, 0, 0),
        max_mip: int = 0,
        compression: Optional[str] = "gzip",
    ) -> "Volume":
        """Bootstrap a volume from a driver-resident array (reference
        ``cloudvolume.py:374-428``); auto-classifies layer type from
        dtype the same way (bool/uint32/uint64 → segmentation)."""
        if arr.ndim == 3:
            arr = arr[..., np.newaxis]
        if layer_type is None:
            if arr.dtype in (np.dtype("uint32"), np.dtype("uint64"), np.dtype("bool")):
                layer_type = "segmentation"
            else:
                layer_type = "image"
        if arr.dtype == np.dtype("bool"):
            arr = arr.view(np.uint8)
        info = VolumeInfo.create(
            layer_type=layer_type,
            data_type=str(arr.dtype),
            num_channels=arr.shape[3],
            resolution=resolution,
            voxel_offset=voxel_offset,
            volume_size=arr.shape[:3],
            chunk_size=chunk_size,
            encoding=encoding,
            max_mip=max_mip,
        )
        vol = cls.create(spark, base_path, info)
        vol.upload(arr, offset=voxel_offset, mip=0, compression=compression)
        return vol

    # ------------------------------------------------------------------
    # chunk table access + pruning
    # ------------------------------------------------------------------

    # ---- snapshot manifest (table-format commit for plain parquet) ----
    #
    # The chunk table is a set of IMMUTABLE per-(mip, slab) parquet
    # directories under chunks/data/<commit-id>/pm=M/ps=S plus a LOG of
    # numbered manifest files chunks/_manifest-<gen>.json:
    #   {"version": 1, "generation": N, "entries": {"M/S": reldir}}
    # Readers resolve the newest readable manifest once per query and
    # scan only the referenced dirs — a commit can never yank files out
    # from under a running scan (snapshot isolation). Publishing a
    # generation is ONE atomic object PUT of a new numbered file (no
    # replace window anywhere); a torn newest file means that commit
    # never happened and readers fall back one generation. Conflict
    # detection is the lock file plus a generation CAS captured at the
    # SNAPSHOT read, enforced by create-if-absent of the target
    # generation file. Old generations' dirs stay until :meth:`vacuum`.
    # This is the Delta/Iceberg commit protocol SCALE.md previously
    # listed as the production swap, implemented directly over the same
    # parquet layout. It is the only layout: a table with no published
    # generation is empty.

    @property
    def slab_shift(self) -> int:
        """This table's slab granularity (``slab = morton >> shift``).
        Immutable once the first generation publishes — slab values are
        baked into every stored row and dir name, so reads MUST use the
        writing shift or candidate-slab pruning silently misses data.
        Resolved from the newest manifest; tables with no published
        generation use the construction default."""
        if self._slab_shift_resolved is None:
            try:
                man = self._read_manifest()
            except ManifestError:
                # transient/unrepaired manifest: serve the default but
                # do NOT cache it — once the manifest is restored the
                # next access must re-resolve the recorded shift
                return self._slab_shift_default
            if man is not None and "slab_shift" in man:
                self._slab_shift_resolved = int(man["slab_shift"])
            else:
                self._slab_shift_resolved = self._slab_shift_default
        return self._slab_shift_resolved

    def _manifest_file(self, generation: int) -> str:
        return f"{self.chunks_path}/{MANIFEST_PREFIX}{generation:012d}.json"

    def _load_manifest_generation(self, generation: int) -> dict:
        """Parse one numbered manifest file; raises on missing/torn.
        The filename is authoritative for the generation number."""
        man = json.loads(
            self._fs.read_bytes(self._manifest_file(generation)).decode())
        man["generation"] = int(generation)
        return man

    def _manifest_generations(self) -> list:
        """Published generation numbers, newest first — the manifest is
        a numbered-file log (one immutable JSON per generation, like
        Delta's transaction log), NOT a replaced pointer: a new
        generation is one atomic object PUT, so there is no window in
        which no manifest exists, and a torn newest file simply means
        that commit never happened (readers fall back one generation).

        Every manifest resolve lists here, so this is also where a
        pre-manifest table is refused: hive ``mip=`` dirs or the single
        ``_manifest.json`` pointer with no numbered generation raise
        :class:`ManifestError` instead of reading as an empty table."""
        names = self._fs.listdir(self.chunks_path)
        out = []
        for n in names:
            if n.startswith(MANIFEST_PREFIX) and n.endswith(".json"):
                try:
                    out.append(int(n[len(MANIFEST_PREFIX):-5]))
                except ValueError:
                    continue
        if not out:
            if "_manifest.json" in names:
                old = "single-pointer manifest (_manifest.json)"
            elif any(n.startswith("mip=") for n in names):
                old = "hive partition (mip=/slab= dirs)"
            else:
                old = None
            if old is not None:
                raise ManifestError(
                    f"chunk table {self.chunks_path!r} uses the {old} "
                    "layout, which is no longer supported: only the "
                    f"numbered snapshot manifest ({MANIFEST_PREFIX}<gen>"
                    ".json) is read")
        return sorted(out, reverse=True)

    def _read_manifest(self) -> Optional[dict]:
        """The newest readable manifest dict, or None ONLY for a table
        with no published generation (no table yet, or a first commit
        that crashed before publishing — correctly an empty table).

        A torn/corrupt newest file falls back to the previous
        generation (that commit never completed). If generations exist
        but NONE parses, raise :class:`ManifestError` — scanning all
        retained data dirs instead would serve duplicate/stale rows
        with no error.

        A generation-pinned volume (time-travel ``open(generation=N)``)
        resolves exactly its pinned file — no fallback: serving a
        neighboring generation would silently answer for the wrong
        snapshot."""
        if self._pinned_generation is not None:
            # published generations are immutable, so the pinned
            # manifest is fetched/parsed once and cached — read_voxel
            # loops would otherwise pay a storage round-trip per call
            if self._pinned_manifest is not None:
                return self._pinned_manifest
            g = self._pinned_generation
            try:
                man = self._load_manifest_generation(g)
                self._probe_generation_dirs(man)
                self._pinned_manifest = man
                return self._pinned_manifest
            except ManifestError:
                raise  # the probe's message is already actionable
            except Exception as e:
                raise ManifestError(
                    f"pinned manifest generation {g} under "
                    f"{self.chunks_path!r} is missing or unreadable "
                    f"({e!r}) — it may have been vacuumed; retained "
                    f"generations: {self._manifest_generations()[:6]}"
                )
        gens = self._manifest_generations()
        if not gens:
            return None
        err: Optional[Exception] = None
        for g in gens[:3]:
            try:
                return self._load_manifest_generation(g)
            except Exception as e:  # incl. Py4J-wrapped Hadoop IO errors
                err = e
                continue
        raise ManifestError(
            f"no readable manifest among generations {gens[:3]} under "
            f"{self.chunks_path!r} (last error: {err!r}); restore a "
            "manifest file — scanning all retained generations instead "
            "would silently serve stale/duplicate chunks"
        )

    @staticmethod
    def _manifest_dirs(man: dict, root: str, mip: Optional[int] = None,
                       slabs=None) -> list:
        """Data dirs under ``root`` for the given mip/slab selection —
        manifest-side pruning: unselected slabs are never even listed.
        Shared by the Spark reader (root = chunks_path) and the local
        pyarrow fast path (root = local dir)."""
        want_slabs = None if slabs is None else {int(s) for s in slabs}
        out = []
        for k, rel in man["entries"].items():
            m_s = k.split("/")
            if mip is not None and int(m_s[0]) != int(mip):
                continue
            if want_slabs is not None and int(m_s[1]) not in want_slabs:
                continue
            out.append(f"{root}/{rel}")
        return out

    _UNRESOLVED = object()  # chunks_df sentinel: "read the manifest"

    def chunks_df(self, mip: Optional[int] = None, slabs=None,
                  manifest=_UNRESOLVED) -> DataFrame:
        """The chunk table as a DataFrame. ``mip``/``slabs`` are
        pruning HINTS (never a semantic filter — matching WHERE clauses
        are applied too): they restrict the scan to the referenced dirs
        before any file is listed. ``manifest``
        lets a caller thread an already-resolved snapshot through
        (commit paths MUST, so their read and their CAS share one
        generation)."""
        man = self._read_manifest() if manifest is Volume._UNRESOLVED \
            else manifest
        # no published generation (incl. a first commit that crashed
        # after staging) is an EMPTY table: a recursive scan would
        # serve uncommitted rows
        dirs = [] if man is None else self._manifest_dirs(
            man, self.chunks_path, mip=mip, slabs=slabs)
        if not dirs:
            df = self.spark.createDataFrame([], schema=CHUNK_SCHEMA)
        else:
            df = self.spark.read.schema(CHUNK_SCHEMA).parquet(*dirs)
        if mip is not None:
            df = df.where(F.col("mip") == int(mip))
        if slabs is not None:
            df = df.where(F.col("slab").isin([int(s) for s in slabs]))
        return df

    # reference-frontend metadata parity (frontends/precomputed.py):
    # there these properties reflect the instance's CURRENT mip; this
    # class is mip-stateless (every read/write takes mip explicitly),
    # so the bare properties are the mip-0 values and the mip_* family
    # takes the mip — the reference's own mip_* methods, 1:1.

    @property
    def layer_type(self) -> str:
        return self.info.layer_type

    @property
    def data_type(self) -> str:
        return self.info.data_type

    @property
    def dtype(self):
        return self.info.dtype

    @property
    def num_channels(self) -> int:
        return self.info.num_channels

    @property
    def shape(self) -> tuple:
        """(x, y, z, channels) at mip 0 — the reference's ``shape``."""
        return self.mip_shape(0)

    def mip_shape(self, mip: int) -> tuple:
        size = self.info.volume_size(int(mip))
        return (int(size[0]), int(size[1]), int(size[2]),
                self.info.num_channels)

    @property
    def bounds(self) -> Bbox:
        return self.info.bounds(0)

    @property
    def resolution(self) -> tuple:
        return self.mip_resolution(0)

    def mip_resolution(self, mip: int) -> tuple:
        return tuple(int(v) for v in self.info.resolution(int(mip)))

    @property
    def chunk_size(self) -> tuple:
        return self.mip_chunk_size(0)

    def mip_chunk_size(self, mip: int) -> tuple:
        return tuple(int(v) for v in self.info.chunk_size(int(mip)))

    @property
    def volume_size(self) -> tuple:
        return self.mip_volume_size(0)

    def mip_volume_size(self, mip: int) -> tuple:
        return tuple(int(v) for v in self.info.volume_size(int(mip)))

    @property
    def voxel_offset(self) -> tuple:
        return self.mip_voxel_offset(0)

    def mip_voxel_offset(self, mip: int) -> tuple:
        return tuple(int(v) for v in self.info.voxel_offset(int(mip)))

    @property
    def encoding(self) -> str:
        return self.mip_encoding(0)

    def mip_encoding(self, mip: int) -> str:
        return self.info.encoding(int(mip))

    @property
    def available_resolutions(self) -> list:
        """Reference ``frontends/precomputed.py:368-371``."""
        return [self.mip_resolution(m) for m in self.available_mips]

    @property
    def available_mips(self) -> list:
        """Mip levels the info registers (reference
        ``frontends/precomputed.py:364`` / ``metadata.py:509-511`` —
        defined scales, not data presence; :meth:`has_data` /
        :meth:`history` answer the presence question)."""
        return list(range(self.info.num_mips))

    def mip_bounds(self, mip: int) -> Bbox:
        """The mip's physical bounds as a Bbox (reference
        ``frontends/precomputed.py`` ``mip_bounds``)."""
        return self.info.bounds(int(mip))

    def slices_to_global_coords(self, slices, mip: int):
        """Convert ``mip``-level slices to mip-0 (global) slices —
        reference ``frontends/precomputed.py:470-475`` (there the mip
        is instance state; here it is explicit, like every other mip
        argument on this class). Input slices normalize through
        ``reify_slices`` against the mip's bounds, so int axes,
        open-ended, and negative slices work exactly as on
        ``__getitem__``.

        INTENTIONAL DIVERGENCE: a ``Bbox`` input returns a ``Bbox``
        (type-preserving), whereas the reference always returns slices
        via ``bbox.to_slices()`` — call ``.to_slices()`` on the result
        if porting code that indexes it as slices."""
        from cloud_volume_spark.geometry import reify_slices

        if isinstance(slices, Bbox):
            return self.info.bbox_to_mip(slices, int(mip), 0)
        bbox, _ = reify_slices(slices, self.info.bounds(int(mip)),
                               bounded=self.bounded,
                               autocrop=self.autocrop)
        return self.info.bbox_to_mip(bbox, int(mip), 0).to_slices()

    def slices_from_global_coords(self, slices, mip: int):
        """Convert mip-0 (global) slices to ``mip``-level slices —
        reference ``frontends/precomputed.py:477-484`` (the
        neuroglancer-cursor debugging helper). Same ``reify_slices``
        normalization — and the same intentional Bbox-in/Bbox-out
        divergence from the reference's always-slices return — as
        :meth:`slices_to_global_coords`, against the mip-0 bounds."""
        from cloud_volume_spark.geometry import reify_slices

        if isinstance(slices, Bbox):
            return self.info.bbox_to_mip(slices, 0, int(mip))
        bbox, _ = reify_slices(slices, self.info.bounds(0),
                               bounded=self.bounded,
                               autocrop=self.autocrop)
        return self.info.bbox_to_mip(bbox, 0, int(mip)).to_slices()

    def has_data(self, mip: int) -> bool:
        """Reference ``image/__init__.py:102-118``."""
        man = self._read_manifest()
        if man is None:
            return False
        prefix = f"{int(mip)}/"
        return any(k.startswith(prefix) for k in man["entries"])

    def _candidate_slabs(self, bbox: Bbox, mip: int):
        """Slab ids a bbox can touch (``morton >> SLAB_SHIFT`` over the
        clamped grid range), or None when the cell count is too large
        to enumerate — the driver-side prune that lets the manifest
        skip whole data dirs before any file is listed."""
        cs = self.info.chunk_size(mip)
        off = self.info.voxel_offset(mip)
        (xlo, xhi), (ylo, yhi), (zlo, zhi) = bbox.grid_ranges(cs, off)
        grid = [int(g) for g in self.info.grid_shape(mip)]
        n_cells = (xhi - xlo + 1) * (yhi - ylo + 1) * (zhi - zlo + 1)
        if not (0 < n_cells <= 1 << 20):
            return None
        xs = np.arange(max(xlo, 0), min(xhi, grid[0] - 1) + 1)
        ys = np.arange(max(ylo, 0), min(yhi, grid[1] - 1) + 1)
        zs = np.arange(max(zlo, 0), min(zhi, grid[2] - 1) + 1)
        if not (len(xs) and len(ys) and len(zs)):
            return []
        gx, gy, gz = np.meshgrid(xs, ys, zs, indexing="ij")
        pts = np.stack([gx.ravel(), gy.ravel(), gz.ravel()], axis=1)
        return [int(s) for s in np.unique(
            compressed_morton_code(pts, grid).astype(np.int64)
            >> self.slab_shift
        )]

    def _pruned(self, bbox: Bbox, mip: int) -> DataFrame:
        """Chunk-grid pruning compiled to pushable predicates — the
        reference's scan-list computation (``rx.py:252-260``) expressed
        as ``WHERE`` clauses Catalyst pushes into the parquet scan,
        plus manifest-side dir pruning on the candidate slab set."""
        cs = self.info.chunk_size(mip)
        off = self.info.voxel_offset(mip)
        (xlo, xhi), (ylo, yhi), (zlo, zhi) = bbox.grid_ranges(cs, off)
        return (
            self.chunks_df(mip=int(mip),
                           slabs=self._candidate_slabs(bbox, mip))
            .where(F.col("cx").between(xlo, xhi))
            .where(F.col("cy").between(ylo, yhi))
            .where(F.col("cz").between(zlo, zhi))
        )

    def _local_chunks_dir(self) -> Optional[str]:
        """Filesystem directory of the chunk table, or None when the
        volume lives on a remote store (s3a/gs/…)."""
        p = self.chunks_path
        if p.startswith("file://"):
            return p[len("file://"):]
        if "://" in p:
            return None
        return p

    def _collect_encoded_rows(self, bbox: Bbox, mip: int, columns: list):
        """Driver-bounded encoded-chunk fetch.

        On a local filesystem, read the pruned parquet fragments
        directly with pyarrow (threaded, zero JVM hop, fragment-level
        slab pruning via the morton Z-order) — the serving-path analog
        of the reference's LRU/point-read fast path (SURVEY §4,
        ``rx.py:381-430``). Returns None when the path is remote so
        callers fall back to the Spark scan; the distributed
        ``blocks_df`` path is unaffected.
        """
        local = self._local_chunks_dir()
        if local is None:
            return None
        if not os.path.isdir(local):
            return []
        import pyarrow as pa
        import pyarrow.dataset as pads
        from pyarrow import compute as pc

        cs = self.info.chunk_size(mip)
        off = self.info.voxel_offset(mip)
        (xlo, xhi), (ylo, yhi), (zlo, zhi) = bbox.grid_ranges(cs, off)
        filt = (
            (pc.field("mip") == int(mip))
            & (pc.field("cx") >= xlo) & (pc.field("cx") <= xhi)
            & (pc.field("cy") >= ylo) & (pc.field("cy") <= yhi)
            & (pc.field("cz") >= zlo) & (pc.field("cz") <= zhi)
        )
        # fragment pruning: the candidate slab set is derivable from the
        # grid ranges (slab = morton >> SLAB_SHIFT), so whole data dirs
        # drop out before any file is opened
        slabs = self._candidate_slabs(bbox, mip)
        if slabs is not None:
            if not slabs:
                return []
            filt = filt & pc.field("slab").isin(slabs)
        man = self._read_manifest()
        if man is None:
            return []
        try:
            # manifest prune: list only the referenced dirs for the
            # selected (mip, slab) keys — the snapshot the Spark reader
            # would also resolve
            dirs = self._manifest_dirs(man, local, mip=int(mip),
                                       slabs=slabs)
            files = [
                os.path.join(d, f)
                for d in dirs
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
            ]
            if not files:
                return []
            dset = pads.dataset(files, format="parquet")
            tbl = dset.to_table(columns=columns, filter=filt)
        except FileNotFoundError:
            # a file the manifest referenced vanished between listing
            # and open — a concurrent vacuum retiring a superseded
            # generation.  NOT "no chunks": fall back to the Spark
            # reader, which re-reads the manifest and resolves the
            # current snapshot.  Returning [] here would silently serve
            # background data.
            return None
        except pa.ArrowInvalid as exc:
            # corrupt/truncated parquet is a storage fault, never an
            # empty region — surface it instead of filling background
            raise IOError(
                f"corrupt chunk-table fragment under {local!r}: {exc}"
            ) from exc
        cols = {}
        for name in columns:
            col = tbl.column(name)
            if name == "blob":
                # zero-copy buffers; gzip/np.frombuffer take any
                # buffer-protocol object
                cols[name] = [s.as_buffer() for s in col]
            else:
                cols[name] = col.to_pylist()
        from types import SimpleNamespace

        return [
            SimpleNamespace(**{name: cols[name][i] for name in columns})
            for i in range(tbl.num_rows)
        ]

    def _resolve_bbox(self, bbox_or_slices, mip: int) -> Bbox:
        bounds = self.info.bounds(mip)
        if bbox_or_slices is None:
            # whole-volume request (save_images()/cutout(None) — the
            # same convention blocks_df/voxels_df/unique already honor)
            return bounds
        if isinstance(bbox_or_slices, Bbox):
            bbox = bbox_or_slices
            if self.autocrop:
                bbox = bbox.clamp(bounds)
            elif self.bounded and not bounds.contains_bbox(bbox):
                raise OutOfBoundsError(f"{bbox} outside bounds {bounds}")
            return bbox
        bbox, _ = reify_slices(
            bbox_or_slices, bounds, bounded=self.bounded, autocrop=self.autocrop
        )
        return bbox

    # ------------------------------------------------------------------
    # writes (reference tx.py)
    # ------------------------------------------------------------------

    def _chunk_rows(
        self,
        arr: np.ndarray,
        offset: Sequence[int],
        mip: int,
        compression: Optional[str],
        delete_black: bool = False,
        background: float = 0,
    ) -> list:
        """Grid-split a driver array into encoded chunk rows (reference
        ``tx.upload_aligned`` + ``generate_chunks``,
        ``datasource/__init__.py:100-148``)."""
        info = self.info
        slab_shift = self.slab_shift
        cs = np.asarray(info.chunk_size(mip))
        voff = np.asarray(info.voxel_offset(mip))
        bounds = info.bounds(mip)
        grid = np.asarray(info.grid_shape(mip))
        encoding = info.encoding(mip)
        cparams = info.compression_params(mip)
        arr_bbox = Bbox.from_delta(offset, arr.shape[:3])
        seg = info.layer_type == "segmentation"

        rows = []
        for (cx, cy, cz) in arr_bbox.grid_coords(cs, voff):
            cell = Bbox.from_delta(voff + np.array([cx, cy, cz]) * cs, cs)
            cell = cell.clamp(bounds)
            inter = Bbox.intersection(cell, arr_bbox)
            if inter != cell:
                raise AlignmentError(
                    f"write not aligned: chunk {cell} vs data {arr_bbox}"
                )
            lo = np.asarray(cell.minpt) - np.asarray(offset)
            hi = np.asarray(cell.maxpt) - np.asarray(offset)
            piece = arr[lo[0]:hi[0], lo[1]:hi[1], lo[2]:hi[2], :]
            if delete_black and np.all(piece == background):
                continue
            blob = codecs.encode(piece, encoding, params=cparams)
            blob = codecs.compress_stream(blob, compression)
            if seg:
                uniq = np.unique(piece)
                stats = _stats_list(uniq)
            else:
                stats = None
            morton = int(compressed_morton_code((cx, cy, cz), grid))
            rows.append((
                int(mip), _slab_of(morton, slab_shift), int(cx), int(cy), int(cz), morton,
                int(cell.minpt[0]), int(cell.maxpt[0]),
                int(cell.minpt[1]), int(cell.maxpt[1]),
                int(cell.minpt[2]), int(cell.maxpt[2]),
                encoding, compression or "", bytearray(blob), stats,
            ))
        return rows

    def _validate_upload(self, arr: np.ndarray, offset, mip: int):
        """The shared gate for every array-upload path: writability +
        mip lock, channel-axis fixup, dtype match (a wrong-dtype array
        would encode at the wrong byte width and poison every later
        decode), bounds containment (an out-of-bounds write would
        silently crop). One definition so new gates cannot drift
        between :meth:`upload` and its variants."""
        self._check_writable()
        self.info.check_mip_writable(mip)
        if arr.ndim == 3:
            arr = arr[..., np.newaxis]
        if arr.dtype != self.info.dtype:
            raise ValueError(
                f"dtype mismatch: volume {self.info.dtype} vs data {arr.dtype}"
            )
        info = self.info
        cs = info.chunk_size(mip)
        voff = info.voxel_offset(mip)
        bounds = info.bounds(mip)
        bbox = Bbox.from_delta(offset, arr.shape[:3])
        if self.bounded and not bounds.contains_bbox(bbox):
            raise OutOfBoundsError(f"{bbox} outside bounds {bounds}")
        return arr, bbox, cs, voff, bounds

    def upload(
        self,
        arr: np.ndarray,
        offset: Sequence[int] = (0, 0, 0),
        mip: int = 0,
        compression: Optional[str] = "gzip",
        delete_black_uploads: bool = False,
    ) -> None:
        """Write an array at ``offset``. Grid-aligned regions write
        directly; non-aligned writes read-modify-write the boundary
        shell (reference ``tx.upload:140-191`` — same concurrent-write
        caveat as ``datasource/__init__.py:9-35``)."""
        arr, bbox, cs, voff, bounds = self._validate_upload(arr, offset, mip)
        info = self.info
        offset = bbox.minpt

        aligned = bbox.expand_to_chunk_size(cs, voff).clamp(bounds)
        if aligned != bbox:
            # non-aligned: pull the aligned envelope (fill missing with
            # background), paint, then do an aligned write of the envelope.
            base = self.cutout(aligned, mip=mip, fill_missing=True)
            base = np.ascontiguousarray(base)
            shade(base, aligned, arr, bbox)
            arr, offset, bbox = base, aligned.minpt, aligned

        rows = self._chunk_rows(
            arr, offset, mip, compression,
            delete_black=delete_black_uploads,
            background=info.background_color(),
        )
        deleted_keys = None
        if delete_black_uploads:
            deleted_keys = set(
                bbox.grid_coords(cs, voff)
            ) - {(r[2], r[3], r[4]) for r in rows}
        self._commit_rows(rows, mip, bbox, extra_deletes=deleted_keys)

    def upload_with_overwrite_partial_chunks(
        self, arr: np.ndarray, offset, mip: int = 0, compression="gzip"
    ) -> None:
        """Pad to alignment with background instead of reading the shell
        (write-once workloads, reference ``tx.py:35-61``)."""
        arr, bbox, cs, voff, bounds = self._validate_upload(arr, offset, mip)
        info = self.info
        aligned = bbox.expand_to_chunk_size(cs, voff).clamp(bounds)
        bg = info.background_color()
        padded = np.full(
            tuple(aligned.size3()) + (arr.shape[3],), bg, dtype=arr.dtype
        )
        shade(padded, aligned, arr, bbox)
        rows = self._chunk_rows(padded, aligned.minpt, mip, compression)
        self._commit_rows(rows, mip, aligned)

    def _commit_rows(
        self,
        rows: list,
        mip: int,
        bbox: Bbox,
        extra_deletes: Optional[set] = None,
    ) -> None:
        """Merge new chunk rows into the table, rewriting only the
        touched ``(mip, slab)`` dirs. The rows are already encoded here
        on the driver, so the merge stays here too (:meth:`_stage_rows`):
        an upload runs no Spark job. Only the distributed writers
        (:meth:`_overwrite_slabs`) shuffle on the morton sub-bucket.
        ``extra_deletes`` are grid keys to remove without a replacement
        row (``delete_black_uploads``)."""
        replaced = {int(r[5]) for r in rows}
        if extra_deletes:
            grid = [int(g) for g in self.info.grid_shape(mip)]
            replaced |= {int(compressed_morton_code(c, grid))
                         for c in extra_deletes}
        self._commit_generation(
            lambda man, commit_id: self._stage_rows(
                rows, int(mip), replaced, man, commit_id))

    def _stage_rows(self, rows: list, mip: int, replaced: set,
                    man: Optional[dict], commit_id: str) -> dict:
        """Driver stager behind :meth:`_commit_rows`. For each touched
        slab: read the snapshot's files with pyarrow through
        :class:`PathOps` (local paths and ``scheme://`` URIs alike),
        drop the ``replaced`` mortons (morton is the key within one
        mip), add ``rows``, sort by morton and write one uncompressed
        parquet file per ``morton >> _commit_bucket()`` group under
        ``chunks/data/<commit_id>/pm=M/ps=S`` — the layout
        :meth:`_stage_commit` writes. Each file is synced before the
        manifest that references it publishes. Holds one slab at a time
        (at most ``2**slab_shift`` encoded chunks). Returns manifest
        entries; a slab left with no rows maps to None (entry dropped)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        fs = self._fs
        schema = to_arrow_schema(CHUNK_SCHEMA)
        shift = self._commit_bucket()
        gone = pa.array(sorted(replaced), pa.int64())
        new_by_slab: dict = {}
        for r in rows:
            new_by_slab.setdefault(int(r[1]), []).append(r)
        slabs = set(new_by_slab) | {_slab_of(m, self.slab_shift)
                                    for m in replaced}
        entries = man["entries"] if man else {}
        staged = {}
        for s in sorted(slabs):
            key = f"{mip}/{s}"
            parts = []
            if key in entries:
                d = f"{self.chunks_path}/{entries[key]}"
                for n in sorted(fs.listdir(d)):
                    if not n.endswith(".parquet"):
                        continue
                    t = pq.read_table(pa.BufferReader(
                        fs.read_bytes(f"{d}/{n}"))).select(
                            schema.names).cast(schema)
                    parts.append(t.filter(pc.invert(
                        pc.is_in(t["morton"], value_set=gone))))
            if s in new_by_slab:
                cols = zip(*new_by_slab[s])
                parts.append(pa.Table.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                    schema=schema))
            tbl = pa.concat_tables(parts or [schema.empty_table()])
            if not tbl.num_rows:
                staged[key] = None
                continue
            tbl = tbl.sort_by("morton")
            rel = f"data/{commit_id}/pm={mip}/ps={s}"
            buckets = tbl["morton"].to_numpy() >> shift
            starts = np.flatnonzero(np.r_[True, buckets[1:] != buckets[:-1]])
            for lo, hi in zip(starts, np.r_[starts[1:], len(buckets)]):
                buf = pa.BufferOutputStream()
                pq.write_table(tbl.slice(lo, hi - lo), buf,
                               compression="none", use_dictionary=False)
                fs.write_bytes(
                    f"{self.chunks_path}/{rel}/part-{int(buckets[lo]):05d}.parquet",
                    buf.getvalue().to_pybytes(), sync=True)
            staged[key] = rel
        return staged

    def _commit_bucket(self) -> int:
        """The in-slab file split shared by both stagers: one output
        file per ``morton >> k``, where ``k`` groups ~16 MB of chunk
        data. Z-order stays intact (each file covers a contiguous
        morton range inside its slab dir). For :meth:`_stage_commit` it
        is also the shuffle key, so small volumes still fan out across
        writers — ``repartition("slab")`` alone collapses a one-slab
        write to a single task. Hash-based, so no sampling pass over
        the (possibly expensive-to-recompute) encode stage, unlike
        repartitionByRange."""
        info = self.info
        chunk_bytes = int(
            np.prod(info.chunk_size(0))
        ) * info.dtype.itemsize * info.num_channels
        bucket_chunks = 1
        while bucket_chunks < (1 << self.slab_shift) and \
                bucket_chunks * max(chunk_bytes, 1) < (16 << 20):
            bucket_chunks *= 2
        return bucket_chunks.bit_length() - 1

    def _overwrite_slabs(self, out: DataFrame, drop: Optional[Iterable[tuple]] = None,
                         replace_mips: Optional[Iterable[int]] = None,
                         snapshot=_UNRESOLVED) -> None:
        """Distributed commit: stage the CHUNK_SCHEMA rows of ``out``
        with :meth:`_stage_commit` (one Spark write) and publish them
        through :meth:`_commit_generation`. ``drop`` lists (mip, slab)
        partitions whose every row was deleted; ``replace_mips`` drops
        EVERY previous entry of those mips (full-mip rewrites: remap).
        ``snapshot`` is the manifest a READ-MODIFY-WRITE caller
        resolved for its survivors read (see :meth:`_commit_generation`)."""
        def stage(man, commit_id):
            staged = {f"{int(m)}/{int(s)}": None for (m, s) in (drop or ())}
            staged.update(self._stage_commit(out, commit_id))
            return staged

        self._commit_generation(stage, replace_mips=replace_mips,
                                snapshot=snapshot)

    def _commit_generation(self, stage, replace_mips: Optional[Iterable[int]] = None,
                           snapshot=_UNRESOLVED) -> None:
        """Snapshot commit, the one publish path both stagers share:
        ``stage(manifest, commit_id)`` writes the touched ``(mip, slab)``
        datasets as IMMUTABLE dirs under ``chunks/data/<commit-id>`` and
        returns their entries ``{"M/S": reldir}`` (None drops the
        entry); this then publishes the next numbered manifest
        generation. The rewrite unit is the slab, never the table;
        readers holding a previous manifest keep a consistent snapshot
        (their dirs are never touched — old generations are reclaimed
        by :meth:`vacuum`). ``replace_mips`` drops EVERY previous entry
        of those mips. ``snapshot`` is the manifest a caller already
        resolved under the lock for its survivors read — the publish
        compare-and-sets against THAT generation, so a survivors set
        computed from a stale snapshot can never publish (unset, the
        manifest resolves here, under the lock, and ``stage`` reads its
        survivors from it).

        All path manipulation routes through :class:`PathOps` (Hadoop
        FileSystem for s3a/gs/hdfs/file URIs, os/shutil for plain local
        paths) so the commit works against any store Spark can write.

        Concurrent writers are DETECTED, not merged: the commit takes
        an exclusive lock file (atomic create-if-absent) for the whole
        stage-and-publish and raises :class:`CommitConflictError`
        without touching the table if another writer holds it; the
        numbered-file publish (create-if-absent of generation N+1)
        additionally turns any broken-stale-lock interleave into a
        loud conflict."""
        self._lru_clear()
        with self._commit_lock():
            man = self._read_manifest() if snapshot is Volume._UNRESOLVED \
                else snapshot
            self._require_slab_shift(man)
            gen = int(man["generation"]) if man else 0
            old_entries = dict(man["entries"]) if man else {}
            entries = dict(old_entries)
            commit_id = f"commit-{uuid.uuid4().hex[:12]}"
            staged = stage(man, commit_id)
            for m in (replace_mips or ()):
                prefix = f"{int(m)}/"
                entries = {k: v for k, v in entries.items()
                           if not k.startswith(prefix)}
            for k, rel in staged.items():
                if rel is None:
                    entries.pop(k, None)
                else:
                    entries[k] = rel
            self._publish_manifest(entries, expect_generation=gen,
                                   old_entries=old_entries)

    def _require_slab_shift(self, man: Optional[dict]) -> None:
        """Refuse to publish from a handle whose ``slab_shift``
        disagrees with the table's recorded one — every commit path
        (merge, compact) must call this before staging: this instance
        slabbed its rows at a different shift than the table records
        (e.g. created with a knob value before another writer
        published), and ``_publish_manifest`` stamps THIS handle's
        shift, so committing would mix granularities and silently
        break pruning for every later reader."""
        if (man is not None and "slab_shift" in man
                and int(man["slab_shift"]) != int(self.slab_shift)):
            raise CommitConflictError(
                f"slab_shift mismatch: this writer uses "
                f"{self.slab_shift} but the table's manifest records "
                f"{man['slab_shift']}; reopen the volume to adopt "
                "the recorded granularity"
            )

    def _stage_commit(self, out: DataFrame, commit_id: str,
                      bucket=None) -> dict:
        """Write CHUNK_SCHEMA rows as one immutable dir per (mip, slab)
        under ``chunks/data/<commit_id>`` and return the manifest
        entries {"M/S": reldir}. Partitioning rides ALIAS columns
        (pm/ps) so mip/slab stay in the file data — manifest reads pass
        explicit leaf dirs, where hive partition inference would not
        run. ``bucket`` overrides the in-slab shuffle key (default:
        ~16 MB morton buckets); :meth:`compact` passes the slab itself
        so each slab lands wholly in one task → exactly one file."""
        fs = self._fs
        root = f"{self.chunks_path}/data/{commit_id}"
        if bucket is None:
            bucket = F.shiftrightunsigned(F.col("morton"), self._commit_bucket())
        (
            out.withColumn("pm", F.col("mip")).withColumn("ps", F.col("slab"))
            .repartition(F.col("mip"), bucket)
            .sortWithinPartitions("slab", "morton")
            .write.mode("overwrite")
            .option("compression", "none")  # blobs carry their own gzip
            .partitionBy("pm", "ps")
            .parquet(root)
        )
        staged = {}
        for pm_dir in fs.listdir(root):
            if not pm_dir.startswith("pm="):
                continue
            m = pm_dir[3:]
            for ps_dir in fs.listdir(f"{root}/{pm_dir}"):
                if not ps_dir.startswith("ps="):
                    continue
                staged[f"{m}/{ps_dir[3:]}"] = (
                    f"data/{commit_id}/{pm_dir}/{ps_dir}"
                )
        return staged

    def compact(self, mip: Optional[int] = None,
                min_files: int = 2) -> int:
        """Re-pack every slab whose dir holds ``min_files`` or more
        parquet files into a single file per slab — the Delta
        ``OPTIMIZE`` analog for the small-file problem that dominates
        object-store tables at scale (each commit's incremental rewrite
        adds files; a thousand 100 KB files per slab turn one ranged
        GET into a listing storm). Published as a normal manifest
        generation but flagged ``data_change: false``: the streaming
        feed emits no rows for it, ``changes()``/``changed_chunks_df``
        drop slabs whose only movement was compaction, and incremental
        ``downsample(since_generation=N)`` does not re-reduce them —
        the Delta CDF contract for OPTIMIZE. Readers holding the
        previous snapshot are untouched (their dirs are immutable);
        the superseded multi-file dirs are reclaimed by
        :meth:`vacuum`. Slab size is bounded by the table's
        ``slab_shift`` knob, so one-file-per-slab is the intended
        steady state, not a risk. Returns the number of slabs
        re-packed. (The reference engine has no table format and no
        compaction; beyond-reference surface.)"""
        self._lru_clear()
        with self._commit_lock():
            man = self._read_manifest()
            if man is None:
                return 0
            self._require_slab_shift(man)
            fs = self._fs
            candidates = [
                (k, rel) for k, rel in man["entries"].items()
                if mip is None or int(k.split("/")[0]) == int(mip)
            ]
            # listing is one LIST per slab — embarrassingly parallel,
            # IO-bound driver work; serial round-trips on an object
            # store would themselves be the listing storm compaction
            # exists to avoid
            from concurrent.futures import ThreadPoolExecutor

            def count_parts(item):
                k, rel = item
                return k, sum(
                    1 for n in fs.listdir(f"{self.chunks_path}/{rel}")
                    if n.endswith(".parquet"))

            victims: dict = {}  # mip -> [slab, ...]
            with ThreadPoolExecutor(max_workers=16) as ex:
                for k, n_parts in ex.map(count_parts, candidates):
                    if n_parts >= max(int(min_files), 2):
                        m, s = (int(p) for p in k.split("/"))
                        victims.setdefault(m, []).append(s)
            if not victims:
                return 0
            src = self._union_slab_scans(victims, man)
            commit_id = f"commit-{uuid.uuid4().hex[:12]}"
            staged = self._stage_commit(src, commit_id,
                                        bucket=F.col("slab"))
            entries = dict(man["entries"])
            entries.update(staged)
            self._publish_manifest(
                entries, expect_generation=int(man["generation"]),
                old_entries=dict(man["entries"]), data_change=False)
            return sum(len(v) for v in victims.values())

    def restore(self, generation: int) -> int:
        """Roll the table BACK to a retained generation as a NEW commit
        — the Delta ``RESTORE`` analog, closing the time-travel loop
        (``open(generation=N)`` reads a snapshot; this makes one
        current again). Publishes generation G+1 whose entries are
        exactly generation N's: nothing is rewritten or deleted, the
        restore is ONE manifest PUT (the restored dirs are as retained
        as their manifest, the vacuum invariant), history is preserved
        (the rolled-back generations stay readable until vacuum), and
        the change feed reports the rollback as ordinary added/removed/
        rewritten rows — downstream incremental consumers re-process
        exactly the slabs the rollback moved. ``generation=0`` restores
        the empty table (delete-all as a commit). Raises
        :class:`ManifestError` when N fell out of vacuum retention.
        Returns the new generation number (the CURRENT one, unchanged,
        when N already is the head — an idempotent-retry no-op rather
        than a duplicate commit burning a retention slot).

        Scope, honestly: restore rolls back CHUNK DATA. The scale
        registry (``info``) is append-only metadata outside the
        manifest log, so a scale registered after generation N (e.g. a
        later ``downsample``) stays registered but serves no chunks at
        the restored head — the same observable state as a mip whose
        data was deleted, detectable via the mip-presence probe and
        surfaced by :meth:`history` as that generation's
        ``empty_mips``. (Delta versions table metadata in the log;
        this engine keeps the reference's separate info file, where
        scales never unregister.)"""
        self._lru_clear()
        with self._commit_lock():
            man = self._read_manifest()
            if man is None:
                raise ManifestError(
                    "nothing to restore: the table has no manifest")
            if int(generation) == int(man["generation"]):
                return int(man["generation"])  # already the head
            target = self._generation_or_raise(int(generation))
            self._require_slab_shift(man)
            if ("slab_shift" in target
                    and int(target["slab_shift"]) != int(self.slab_shift)):
                raise CommitConflictError(
                    f"generation {generation} was written at slab_shift "
                    f"{target['slab_shift']} but the table now uses "
                    f"{self.slab_shift} — "
                    "restoring would mix slab granularities")
            self._publish_manifest(
                dict(target["entries"]),
                expect_generation=int(man["generation"]),
                old_entries=dict(man["entries"]))
            # surface the scale-registry scope (docstring above) at the
            # moment it bites: a mip the restore HOLLOWS (populated at
            # the old head, no chunks at the restored generation —
            # typically a downsample that ran after N) stays registered
            # but serves nothing — say so instead of letting the user
            # debug an "empty" pyramid level. Mips empty at BOTH ends
            # (pre-registered pyramids never filled) are not the
            # restore's doing and warrant no warning.
            if target["entries"]:
                target_mips = {int(k.split("/")[0])
                               for k in target["entries"]}
                head_mips = {int(k.split("/")[0])
                             for k in man["entries"]}
                hollow = sorted(head_mips - target_mips)
                if hollow:
                    import warnings
                    warnings.warn(
                        f"restore({int(generation)}): mip(s) {hollow} "
                        "hold chunks at the current head but none at "
                        "this generation (scales never unregister; "
                        "they were likely downsampled after it) — "
                        "re-run downsample()/generate_pyramid() to "
                        "refill, or ignore if intended")
            return int(man["generation"]) + 1

    # ------------------------------------------------------------------
    # streaming change feed (written at publish, read by readStream)
    # ------------------------------------------------------------------

    def _feed_file(self, generation: int) -> str:
        return f"{self.chunks_path}/feed/gen-{generation:012d}.json"

    def _feed_payload(self, generation: int, old_man: dict,
                      new_man: dict) -> bytes:
        """JSONL payload of one generation's slab-level diff — the same
        `_manifest_diff` the batch feed rides, so the streaming and
        batch feeds can never disagree. Deterministic given the two
        manifests (backfillers racing a publisher write identical
        bytes, so create-if-absent needs no conflict handling). A
        ``data_change: false`` generation (compaction: bytes moved,
        content identical) yields an EMPTY payload — the feed log
        stays gap-free but streaming consumers see no rows, the Delta
        CDF contract for OPTIMIZE."""
        if not new_man.get("data_change", True):
            return b""
        lines = []
        for k, od, nd in self._manifest_diff(old_man["entries"],
                                             new_man["entries"]):
            m, s, change, od, nd = self._change_row(k, od, nd)
            lines.append(json.dumps(
                {"generation": int(generation),
                 "committed_at": new_man.get("committed_at"),
                 "mip": m, "slab": s, "change": change,
                 "from_dir": od, "to_dir": nd},
                sort_keys=True))
        return ("\n".join(lines) + ("\n" if lines else "")).encode()

    def _emit_feed(self, generation: int, old_man: dict,
                   new_man: dict, retained=None) -> None:
        """Write this generation's feed file (atomic create-if-absent)
        and heal any computable gaps. NEVER fails the commit: the
        manifest already published, so the data is durable — a feed
        write failure is repaired by the next publish or by
        :meth:`repair_feed`. ``retained`` is the generation listing
        the publisher already holds: the gap gate then costs ONE
        listdir of the feed dir (set difference against it) instead of
        re-listing the manifest log, and fires the full locked repair
        only when some retained generation actually lacks a feed file
        — so a gap at ANY depth keeps being retried on every
        subsequent commit until healed (a predecessor-only check would
        make deep gaps permanent for already-running streams, which
        never re-run the stream-start gap check)."""
        import warnings

        feed_dir = f"{self.chunks_path}/feed"
        try:
            self._fs.makedirs(feed_dir)
            self._fs.create_with_content(
                self._feed_file(generation),
                self._feed_payload(generation, old_man, new_man))
        except Exception as e:  # pragma: no cover - env-specific IO
            warnings.warn(
                f"commit published generation {generation} but its "
                f"streaming-feed file could not be written ({e!r}); "
                "run repair_feed() to heal the gap", RuntimeWarning)
            return
        try:
            if retained is None:
                retained = self._manifest_generations()
            have = set(self._fs.listdir(feed_dir))
            gens = set(int(g) for g in retained) | {int(generation)}
            if any(self._feed_file(g).rsplit("/", 1)[1] not in have
                   for g in gens):
                # cheap set-math says a feed file is absent — confirm
                # against the SINGLE eligibility rule before firing the
                # full repair: an unhealable gap (predecessor vacuumed,
                # torn husk) must not make every commit run a no-op
                # repair pass forever
                missing = self._missing_feed_entries()
                if missing:
                    # pass the computed list: the lock is already held
                    # re-entrantly, so there is no TOCTOU to re-guard,
                    # and recomputing would double the store reads on
                    # the commit critical path
                    self.repair_feed(_entries=missing)
        except Exception as e:  # pragma: no cover - env-specific IO
            warnings.warn(
                f"generation {generation}'s feed file was written, but "
                f"healing older feed gaps failed ({e!r}); a gap at an "
                "older generation may persist until the next commit or "
                "a manual repair_feed()", RuntimeWarning)

    def repair_feed(self, _entries=None) -> int:
        """Backfill missing feed files for every retained generation
        whose payload is still computable (a data-change generation N
        needs manifests N and N-1 on disk, N=1 diffs against the empty
        table; a ``data_change: false`` generation needs only its own
        manifest — its payload is empty regardless). Returns the
        number of files written. Publishers call this after every
        commit, so a crash between manifest publish and feed write
        heals on the next commit — consumers see a gap only while no
        writer is active, and can close it themselves by calling this
        or the batch :meth:`changes`.

        Takes the commit lock (re-entrant under a publishing commit):
        an unlocked backfill racing :meth:`vacuum` could resurrect a
        feed file for a generation whose manifest and data dirs were
        just reclaimed, leaving fresh streams serving rows that point
        at deleted dirs. Raises :class:`CommitConflictError` while
        another writer holds the lock — that writer's own publish
        repairs the feed, so just retry after it finishes."""
        fs = self._fs
        with self._commit_lock():
            fs.makedirs(f"{self.chunks_path}/feed")
            wrote = 0
            for g, old, new in (_entries if _entries is not None
                                else self._missing_feed_entries()):
                if fs.create_with_content(
                        self._feed_file(g),
                        self._feed_payload(g, old, new)):
                    wrote += 1
            return wrote

    def _missing_feed_entries(self) -> list:
        """``[(generation, old_manifest, new_manifest)]`` for every
        retained generation whose feed file is absent and whose payload
        is still computable — a data-change generation N needs
        manifests N and N-1 readable (N=1 diffs against the empty
        table), a ``data_change: false`` generation needs only its own
        manifest (empty payload), and a torn husk is a commit that
        never happened, not a gap. The SINGLE
        eligibility rule behind :meth:`repair_feed` and the
        stream-start gap gate, so the gate can never see a "gap" the
        repairer will not close (which would send every stream start
        to the commit lock for nothing). Read-only."""
        gens = sorted(self._manifest_generations())
        if not gens:
            return []
        have = set(self._fs.listdir(f"{self.chunks_path}/feed"))
        retained = set(gens)
        out = []
        for g in gens:
            if self._feed_file(g).rsplit("/", 1)[1] in have:
                continue
            try:
                new = self._load_manifest_generation(g)
            except Exception:
                continue  # torn husk: that commit never happened
            if not new.get("data_change", True):
                # compaction: the feed payload is empty regardless of
                # the predecessor, so a vacuumed g-1 is no obstacle
                out.append((g, {"entries": {}}, new))
                continue
            if g != 1 and (g - 1) not in retained:
                continue  # predecessor vacuumed: diff lost to history
            try:
                old = ({"entries": {}} if g == 1
                       else self._load_manifest_generation(g - 1))
            except Exception:
                continue  # torn predecessor husk
            out.append((g, old, new))
        return out

    def stream_changes(self) -> DataFrame:
        """The change feed as a Structured Streaming source: one row
        per ``(mip, slab)`` whose backing dir a commit changed, exactly
        the rows of :meth:`changes` plus the ``generation`` and
        ``committed_at`` of the commit that moved them. State-free by
        construction — each publish writes its own immutable JSONL
        feed file (the diff the committer already holds), so this is a
        plain file-source ``readStream`` with no stateful operator and
        no per-key state to grow with table size. Feed files follow
        manifest retention (:meth:`vacuum`), the Delta CDF contract: a
        stream that lags more than the retention window must restart
        from a fresh batch read. Rows within a micro-batch are not
        ordered across files — downstream order by ``generation``.

        ``trigger(availableNow=True)`` gives incremental batch
        consumption; a continuous trigger tails commits as they land.
        """
        self._read_manifest()  # fail fast on an unreadable table
        self._fs.makedirs(f"{self.chunks_path}/feed")
        # Backfill computable gaps BEFORE the source lists the dir: on
        # a table whose generations predate the feed (upgrade, or a
        # crashed feed write with no commit since), the stream would
        # otherwise silently drain nothing while changes() shows
        # history. Gap-check first (read-only listdir) so the common
        # no-gap stream start takes NO lock — repair_feed's commit
        # lock would otherwise make a reader's stream start spuriously
        # conflict a concurrent writer. Best-effort: a held lock means
        # an active writer whose own publish repairs the feed, and a
        # read-only or generation-pinned open cannot write — both
        # leave the stream serving whatever feed exists, loudly.
        try:
            if self._missing_feed_entries():
                self.repair_feed()
        except Exception as e:
            import warnings

            warnings.warn(
                f"stream_changes(): feed backfill skipped ({e!r}) "
                "— generations missing a feed file stay absent "
                "from the stream until a writer commits or "
                "repair_feed() runs", RuntimeWarning)
        return (
            self.spark.readStream
            .schema("generation long, committed_at double, mip int, "
                    "slab long, change string, from_dir string, "
                    "to_dir string")
            .json(f"{self.chunks_path}/feed")
        )

    def _publish_manifest(self, entries: dict, expect_generation: int,
                          old_entries: Optional[dict] = None,
                          data_change: bool = True) -> None:
        """Publish generation ``expect_generation + 1`` as a NEW
        numbered file. Two layers of conflict detection, both loud:

        1. If a newer generation than expected is already published,
           the snapshot this commit's survivors were computed from is
           stale (an interloper after a broken lock) — conflict.
        2. The numbered file itself is created with atomic
           create-if-absent, so even two writers racing the same
           target generation cannot both publish; a crashed
           publisher's empty/torn husk at the target generation is
           reclaimed under the held lock (readers already ignore it by
           the fall-back-one-generation rule).
        """
        current = self._manifest_generations()
        cur = current[0] if current else 0
        if cur > expect_generation:
            # a VALID newer generation means a real interleave only if
            # it parses; a torn husk is a crashed publish (not a commit)
            try:
                self._load_manifest_generation(cur)
                raise CommitConflictError(
                    f"manifest generation moved {expect_generation} -> "
                    f"{cur} during this commit: another writer "
                    "interleaved (a stale lock was broken mid-commit?); "
                    "retry the operation"
                )
            except CommitConflictError:
                raise
            except Exception:
                pass  # husk — fall through to reclaim
        target = int(expect_generation) + 1
        path = self._manifest_file(target)
        import time

        stamp = round(time.time(), 3)
        payload = json.dumps(
            {"version": 1, "generation": target,
             "slab_shift": int(self.slab_shift),
             # wall-clock publish stamp: drives history() display and
             # open(as_of=...) timestamp time-travel. Advisory (clock
             # skew between writers can reorder stamps vs generations);
             # the GENERATION number is the truth of commit order
             "committed_at": stamp,
             # False = bytes moved but content identical (compaction):
             # the change feed stays silent and incremental consumers
             # skip these commits — the Delta dataChange=false contract
             "data_change": bool(data_change),
             "entries": entries},
            sort_keys=True,
        ).encode()
        for attempt in range(3):
            # atomic create WITH content (local: hard-link of a fully
            # written tmp — a racer can never observe an empty file and
            # mistake an in-progress publish for a crashed husk)
            if self._fs.create_with_content(path, payload):
                if not getattr(self._fs, "atomic_create", True):
                    # Non-atomic store (object store without conditional
                    # writes): our "successful" PUT may have been
                    # overwritten by a racer who also saw no file.
                    # Read-back makes the lost update LOUD for the
                    # overwritten writer (a residual window remains if
                    # the overwrite lands after this read — see
                    # SCALE.md; such tables should be single-writer).
                    # A transient READ failure is NOT an overwrite:
                    # claiming a conflict for a commit that durably
                    # published would send the caller into a retry
                    # that then hits a genuine-looking generation
                    # collision with its own manifest.
                    seen, read_err = self._read_bytes_retry(path)
                    if read_err is not None:
                        raise ManifestError(
                            f"manifest generation {target} was "
                            f"published but read-back verification "
                            f"failed ({read_err!r}); the commit likely "
                            "succeeded — verify the manifest file "
                            "before retrying (a blind retry would "
                            "report a spurious publish conflict)"
                        )
                    if seen != payload:
                        raise CommitConflictError(
                            f"manifest generation {target} was "
                            "overwritten concurrently after publish "
                            "(non-atomic create-if-absent on this "
                            "store); this table must be single-writer "
                            "— retry the operation"
                        )
                if old_entries is not None:
                    self._emit_feed(
                        target,
                        {"entries": old_entries},
                        {"generation": target, "committed_at": stamp,
                         "data_change": bool(data_change),
                         "entries": entries},
                        retained=current)
                else:
                    try:
                        self.repair_feed()
                    except Exception:
                        pass
                return
            # existing file at the target: a valid one is a concurrent
            # publish (conflict); an unparseable one is a crashed
            # writer's torn husk — re-read a few times (a Hadoop racer
            # may still be writing), then reclaim once under OUR lock
            for _ in range(3):
                try:
                    json.loads(self._fs.read_bytes(path).decode())
                    raise CommitConflictError(
                        f"manifest generation {target} was published "
                        "concurrently; retry the operation"
                    )
                except CommitConflictError:
                    raise
                except Exception:
                    time.sleep(0.05)
            if attempt == 2:
                raise CommitConflictError(
                    f"cannot reclaim manifest husk {path!r}")
            self._fs.remove(path)

    @staticmethod
    def _retry_store_op(fn, attempts: int = 3, delay: float = 0.05):
        """``(result | None, last_error | None)`` — THE bounded-retry
        policy for manifest-sized store accesses (reads, existence
        probes) on stores with transient failures. Callers classify
        the final failure themselves, because the right error differs
        per site. (The husk re-read in ``_publish_manifest`` stays
        separate: it retries the PARSE, distinguishing torn-vs-valid,
        not the store op.)"""
        import time

        err = None
        for _ in range(attempts):
            try:
                return fn(), None
            except Exception as e:
                err = e
                time.sleep(delay)
        return None, err

    def _read_bytes_retry(self, path: str):
        """(bytes | None, last_error | None) via :meth:`_retry_store_op`."""
        return self._retry_store_op(lambda: self._fs.read_bytes(path))

    def _probe_generation_dirs(self, man: dict) -> None:
        """Liveness probe on a generation's referenced data: a
        retained manifest whose dirs were reclaimed (tables vacuumed
        by a pre-r8 version, whose retention kept manifest FILES but
        reclaimed every dir the current generation did not reference)
        must fail HERE with an actionable :class:`ManifestError`, not
        mid-job with an opaque Spark path-not-found. Probes every
        DISTINCT top-level ``data/commit-*`` dir the entries reference
        — the exact granularity vacuum reclaims at, so a generation
        mixing surviving and reclaimed commits cannot slip through on
        which dir a single sample happened to hit — PLUS one sampled
        leaf path PER commit (partial-reclamation detection is
        best-effort: an exists() sample cannot see a dir emptied
        bottom-up; full coverage is the scan's job). Bounded by the
        number of commits still referenced and probed in parallel
        (same fan-out as compact's listing); only pin/as_of/restore
        and the incremental-downsample old side pay it (pure
        manifest-diff readers skip it for the FROM side — they never
        open those dirs). Each exists() rides the shared store-op
        retry."""
        from concurrent.futures import ThreadPoolExecutor

        entries = man.get("entries") or {}
        by_commit: dict = {}
        for rel in entries.values():
            if rel.startswith("data/"):
                c = rel.split("/")[1]
                if c not in by_commit or rel < by_commit[c]:
                    by_commit[c] = rel
        # one top-level dir probe + one sampled leaf PER commit (same
        # cardinality, real per-commit coverage)
        probes = sorted(f"data/{c}" for c in by_commit)
        probes += sorted(by_commit.values())

        def probe(rel):
            return rel, self._retry_store_op(
                lambda: self._fs.exists(f"{self.chunks_path}/{rel}"))

        with ThreadPoolExecutor(max_workers=16) as ex:
            results = list(ex.map(probe, probes))
        for rel, (ok, err) in results:
            if err is not None:
                raise ManifestError(
                    f"cannot verify data dirs of generation "
                    f"{man.get('generation')} under {self.chunks_path!r} "
                    f"({err!r}) — transient store error; retry")
            if not ok:
                raise ManifestError(
                    f"manifest generation {man.get('generation')} under "
                    f"{self.chunks_path!r} is retained but its data dir "
                    f"{rel} was reclaimed (vacuumed by a pre-upgrade "
                    "version that kept manifests without their dirs, or "
                    "partially reclaimed by a crashed cleaner) — pick a "
                    "newer generation"
                )

    def _union_slab_scans(self, by_mip: dict, manifest) -> Optional[DataFrame]:
        """Union of manifest-pruned per-mip chunk scans — the one place
        that turns ``{mip: [slab, ...]}`` into a scan, shared by
        :meth:`changed_chunks_df` and :meth:`compact` so pruning
        semantics stay single-site."""
        out = None
        for m, slabs in sorted(by_mip.items()):
            df = self.chunks_df(mip=m, slabs=slabs, manifest=manifest)
            out = df if out is None else out.unionByName(df)
        return out

    def _generation_or_raise(self, generation: int,
                             probe_dirs: bool = True) -> dict:
        """Load a specific retained generation, loudly — manifest AND
        (by default) a data-dir liveness probe. Pure manifest-diff
        readers (:meth:`changes` — BOTH endpoints — and
        :meth:`changed_chunks_df`'s from side) pass
        ``probe_dirs=False``: they never open those dirs themselves,
        so a pre-upgrade-vacuumed table still gets its computable,
        correct diff instead of a refusal; a consumer that then opens
        ``from_dir``/``to_dir`` paths directly takes on the liveness
        risk (pin the generation with ``open(generation=N)`` to get
        the probe). Generation 0 is the empty table
        (before the first publish) — a valid diff base: ``changes(0)``
        is 'everything ever committed'."""
        g = int(generation)
        if g == 0:
            return {"generation": 0, "entries": {}}
        try:
            man = self._load_manifest_generation(g)
        except Exception as e:
            raise ManifestError(
                f"manifest generation {g} under {self.chunks_path!r} is "
                f"missing or unreadable ({e!r}) — it may have been "
                f"vacuumed; retained generations: "
                f"{self._manifest_generations()[:6]}"
            )
        if probe_dirs:
            self._probe_generation_dirs(man)
        return man

    @staticmethod
    def _change_row(k: str, od, nd) -> tuple:
        """``(mip, slab, change, from_dir, to_dir)`` for one
        :meth:`_manifest_diff` item — the SINGLE place a diff entry is
        labeled added/removed/rewritten, shared by the batch feed
        (:meth:`changes`) and the streaming feed (:meth:`_feed_payload`)
        so the two can never disagree on what a change is called."""
        m, s = k.split("/")
        change = ("added" if od is None
                  else "removed" if nd is None else "rewritten")
        return int(m), int(s), change, od, nd

    @staticmethod
    def _manifest_diff(old_entries: dict, new_entries: dict,
                       prefix: str = "") -> list:
        """Sorted ``(key, old_dir, new_dir)`` for every manifest entry
        that differs — the one diff both the change feed and incremental
        maintenance ride (shared so their semantics can never
        diverge)."""
        return [
            (k, old_entries.get(k), new_entries.get(k))
            for k in sorted(set(old_entries) | set(new_entries))
            if k.startswith(prefix)
            and old_entries.get(k) != new_entries.get(k)
        ]

    def _changed_keys(self, old_man: dict, new_man: dict,
                      prefix: str = "") -> list:
        """Endpoint manifest diff refined by per-commit ``data_change``
        flags: keys whose EVERY change between the two generations came
        from ``data_change: false`` commits (compaction — bytes moved,
        content identical) are dropped, the Delta CDF contract where
        OPTIMIZE emits no change rows. Falls back to the raw endpoint
        diff — a SAFE over-approximation (consumers re-read unchanged
        content, never miss changed content) — when any intermediate
        manifest is vacuumed/unreadable, so refinement never turns a
        retention hole into silent under-reporting."""
        diff = self._manifest_diff(old_man.get("entries", {}),
                                   new_man.get("entries", {}), prefix)
        g0 = int(old_man.get("generation", 0))
        g1 = int(new_man.get("generation", 0))
        if not diff or g1 <= g0:
            return diff
        diff_keys = {row[0] for row in diff}
        touched: set = set()
        prev = old_man
        # lazy walk with early exit: one manifest at a time, bail to
        # the endpoint diff on the first unreadable intermediate, and
        # stop as soon as every endpoint change is attributed to a
        # real commit (the common all-data_change case exits without
        # loading the tail of the chain)
        for g in range(g0 + 1, g1 + 1):
            if g == g1:
                cur = new_man
            else:
                try:
                    cur = self._load_manifest_generation(g)
                except Exception:
                    return diff  # vacuumed or torn: endpoint diff
            if cur.get("data_change", True):
                touched |= {
                    k for k, _, _ in self._manifest_diff(
                        prev["entries"], cur["entries"], prefix)
                }
                if touched >= diff_keys:
                    return diff
            prev = cur
        return [row for row in diff if row[0] in touched]

    def changes(self, from_generation: int,
                to_generation: Optional[int] = None) -> DataFrame:
        """Slab-granularity change feed between two retained manifest
        generations — the Delta CDF analog at the engine's rewrite
        granularity (the slab IS the unit of rewrite, so slab-level is
        exact, not an approximation): one row per ``(mip, slab)`` whose
        backing dir differs, ``change`` ∈ added/removed/rewritten, with
        the old and new data dirs. Drives incremental maintenance
        (``downsample(since_generation=...)`` re-reduces only parents
        of changed slabs) and downstream incremental pipelines (read
        just ``to_dir`` of added/rewritten rows for new chunk content).

        Driver-side manifest diff (entry counts are bounded by the
        ``slab_shift`` knob — the same bound that keeps the manifest
        readable per query) returned as a DataFrame for joining against
        chunk scans. Raises :class:`ManifestError` if either
        generation's MANIFEST fell out of vacuum retention;
        ``to_generation=None`` means the current generation. Dir
        LIVENESS is deliberately not checked (the diff itself opens no
        dirs, and refusing a computable diff because a pre-upgrade
        vacuum reclaimed old dirs would be worse) — a consumer reading
        ``from_dir``/``to_dir`` paths directly takes on that risk;
        :meth:`changed_chunks_df` reads through the live head and
        ``open(generation=N)`` probes before serving."""
        if (to_generation is not None
                and int(from_generation) > int(to_generation)):
            raise ValueError(
                f"changes({from_generation}, {to_generation}): "
                "from_generation must not exceed to_generation — an "
                "inverted feed would label additions as removals"
            )
        old = self._generation_or_raise(from_generation,
                                        probe_dirs=False)
        if to_generation is not None:
            new = self._generation_or_raise(to_generation,
                                            probe_dirs=False)
        else:
            new = self._read_manifest() or {"entries": {}}
        rows = [self._change_row(k, od, nd)
                for k, od, nd in self._changed_keys(old, new)]
        return self.spark.createDataFrame(
            rows,
            schema="mip int, slab long, change string, "
                   "from_dir string, to_dir string",
        )

    def changed_chunks_df(self, from_generation: int,
                          mip: Optional[int] = None) -> DataFrame:
        """Chunk rows of every slab added or rewritten since generation
        ``N`` — the read side of :meth:`changes` for downstream
        incremental pipelines (re-mesh, re-downsample, re-index only
        what moved). Slab-granularity: a rewritten slab returns ALL its
        current rows, the same contract as file-granularity CDF without
        per-row tracking cost. The scan is manifest-pruned to exactly
        the changed dirs; ``removed`` slabs have no current rows by
        definition (consult :meth:`changes` for them).

        The manifest is read ONCE and both the diff and the chunk scan
        ride that same snapshot — a commit landing mid-call can never
        make the feed inconsistent with the rows it returns. The diff
        itself is pure driver-side dict work (no Spark job)."""
        man = self._read_manifest() or {"entries": {}}
        old = self._generation_or_raise(from_generation,
                                        probe_dirs=False)
        by_mip: dict = {}
        for k, od, nd in self._changed_keys(old, man):
            if nd is None:
                continue  # removed slab: no current rows
            m, s = k.split("/")
            if mip is None or int(m) == int(mip):
                by_mip.setdefault(int(m), []).append(int(s))
        out = self._union_slab_scans(by_mip, man)
        if out is None:
            return self.spark.createDataFrame([], schema=CHUNK_SCHEMA)
        return out

    def history(self) -> list:
        """The retained manifest log, newest first — one dict per
        readable generation (``generation``, ``entries`` count,
        ``slab_shift``, ``mips`` present), the Delta ``DESCRIBE
        HISTORY`` analog. Torn husks are listed with ``readable:
        False`` rather than hidden (they explain why reads resolve an
        older generation). ``empty_mips`` names scales in the CURRENT
        info registry with zero chunks at that generation — the
        restore()-past-a-scale-registration case (restore rolls back
        chunk entries but not the scale registry, so a later-added mip
        stays registered and serves nothing; see restore()'s
        docstring) and the all-deleted/delete_black case both surface
        here instead of as a silently-empty cutout. Driver-side: the
        log is file-count bounded by vacuum retention."""
        registered = set(range(self.info.num_mips))
        out = []
        for g in self._manifest_generations():
            try:
                man = self._load_manifest_generation(g)
                entries = man.get("entries", {})
                present = sorted({int(k.split("/")[0]) for k in entries})
                out.append({
                    "generation": g,
                    "readable": True,
                    "entries": len(entries),
                    "slab_shift": man.get("slab_shift"),
                    "committed_at": man.get("committed_at"),
                    # False = compaction (Delta's operation=OPTIMIZE
                    # distinction): bytes moved, content identical
                    "data_change": man.get("data_change", True),
                    "mips": present,
                    "empty_mips": sorted(registered - set(present)),
                })
            except Exception:
                out.append({"generation": g, "readable": False,
                            "entries": None, "slab_shift": None,
                            "committed_at": None, "data_change": None,
                            "mips": None, "empty_mips": None})
        return out

    def fsck(self, repair: bool = False,
             break_lock_older_than: Optional[float] = None) -> dict:
        """Invariant check over the whole table — the operations tool
        every production table format ships (Delta's FSCK analog).
        Default is READ-ONLY. Verifies, without mutating anything:

        - every retained generation's referenced ``data/commit-*``
          dirs exist (``missing_dirs``: generations pointing at
          reclaimed dirs — unservable for time travel/restore);
        - unreferenced ``data/commit-*`` dirs (``orphan_dirs``:
          crashed commits' staging or vacuum candidates);
        - the feed log is gap-free, splitting gaps into ``healable``
          (``repair_feed()`` will close them) and ``lost`` (predecessor
          manifest vacuumed — consumers must batch-restart);
        - a held commit-lock file (``lock_held`` — a writer is active,
          or crashed without cleanup) and crash-orphaned publish tmps
          (``stale_tmps`` — vacuum reclaims them);
        - torn manifest husks (``torn_husks`` — crashed publishes,
          reclaimed at the next publish of that generation).

        Driver-side, bounded by retention × referenced-commit count
        (probes fan out 16-way like compact's listing). Returns the
        report dict; ``report["ok"]`` is True when nothing is wrong
        beyond normal operation (orphans awaiting vacuum and an
        actively-held lock do NOT fail it — they are states the
        protocol expects). Dirs whose existence probe ERRORED after
        retries (throttle, network) are UNKNOWN, not missing: they go
        to ``probe_errors`` — rerun fsck to resolve them — and never
        count as ``missing_dirs`` or fail ``ok`` (the same transient/
        confirmed-absent split ``_probe_generation_dirs`` makes by
        raising 'transient; retry'). A manifest whose READ erred gets
        the same treatment via ``manifest_read_errors``: that
        generation is UNVERIFIED (its dirs are excluded from every
        check and orphan classification is suppressed entirely), so a
        health check gating on ``ok`` MUST also require
        ``probe_errors`` and ``manifest_read_errors`` to be empty —
        ``ok=True`` means "nothing verified is wrong", not
        "everything was verified".

        ``repair=True`` routes each REPAIRABLE finding to its existing
        remedy, all under the commit lock (held = no live writer, so
        unreferenced dirs / tmps / torn husks are provably crash
        debris, and a husk can never be a racer's in-progress
        publish): orphan dirs and publish tmps are removed, torn
        manifest husks deleted (those commits never happened — the
        next publish of that generation would reclaim them anyway),
        healable feed gaps backfilled via :meth:`repair_feed`.
        ``missing_dirs`` (vacuum damage) and ``feed_gaps_lost`` have
        no remedy and stay findings. A held lock makes repair raise
        :class:`CommitConflictError` — pass ``break_lock_older_than``
        (seconds) to first break a lock whose file is older than that
        (a crashed writer; choose it longer than any legitimate
        commit). Returns the POST-repair report with a ``repaired``
        summary of actions taken."""
        if not repair:
            return self._fsck_scan()
        import time as _time

        fs = self._fs
        repaired: dict = {"orphan_dirs": [], "stale_tmps": [],
                          "torn_husks": [], "feed_gaps_healed": 0,
                          "lock_broken": False}
        # one exists() answers the only pre-lock question; the full
        # scan runs under the lock (and again after repairs)
        if (break_lock_older_than is not None
                and fs.exists(self._commit_lock_path)):
            try:
                age = _time.time() - fs.mtime(self._commit_lock_path)
            except Exception:
                age = None  # lock vanished: owner finished — proceed
            if age is not None and age <= float(break_lock_older_than):
                raise CommitConflictError(
                    f"commit lock {self._commit_lock_path!r} is only "
                    f"{age:.0f}s old (threshold "
                    f"{break_lock_older_than}s) — a writer may be "
                    "live; not breaking it")
            if age is not None:
                fs.remove(self._commit_lock_path)
                repaired["lock_broken"] = True
        with self._commit_lock():
            live = self._fsck_scan()
            # a manifest whose read ERRED leaves the referenced set
            # incomplete — "orphan" and "husk" classifications are
            # unsound then, and acting on them would delete a real
            # manifest / live data dirs. Destructive repairs are
            # skipped wholesale; tmps and feed healing stay safe (tmps
            # are never referenced; repair_feed re-reads what it
            # needs and refuses on its own errors).
            destructive_ok = not live["manifest_read_errors"]
            if destructive_ok:
                for d in live["orphan_dirs"]:
                    fs.rmtree(f"{self.chunks_path}/data/{d}")
                    repaired["orphan_dirs"].append(d)
                for g in live["torn_husks"]:
                    fs.remove(self._manifest_file(int(g)))
                    repaired["torn_husks"].append(int(g))
            else:
                repaired["skipped_destructive"] = (
                    "manifest read errors "
                    f"{live['manifest_read_errors']} make orphan/husk "
                    "classification unsound — rerun when the store "
                    "recovers")
            feed_dir = f"{self.chunks_path}/feed"
            for n in live["stale_tmps"]:
                for where in (self.chunks_path, feed_dir):
                    p = f"{where}/{n}"
                    if fs.exists(p):
                        fs.remove(p)
                if n not in repaired["stale_tmps"]:
                    repaired["stale_tmps"].append(n)
            if live["feed_gaps_healable"]:
                repaired["feed_gaps_healed"] = int(self.repair_feed())
        out = self._fsck_scan()
        out["repaired"] = repaired
        return out

    def _fsck_scan(self) -> dict:
        """One read-only pass of :meth:`fsck`'s checks."""
        from concurrent.futures import ThreadPoolExecutor

        fs = self._fs
        report: dict = {"generation": None, "missing_dirs": {},
                        "orphan_dirs": [], "feed_gaps_healable": [],
                        "feed_gaps_lost": [], "torn_husks": [],
                        "lock_held": False, "stale_tmps": [],
                        "probe_errors": [], "manifest_read_errors": []}
        man = self._read_manifest()
        if man is None:
            report["ok"] = True
            report["note"] = "no manifest: empty table"
            return report
        report["generation"] = int(man.get("generation", 0))
        gens = self._manifest_generations()
        referenced: set = set()
        mans: dict = {}
        for g in gens:
            # transient/confirmed split, same as the dir probes below:
            # a manifest whose READ errs after retries is UNKNOWN (a
            # throttle must not read as a torn husk — repair would
            # delete a real manifest and, with its dirs missing from
            # the referenced set, destroy live data as "orphans");
            # only bytes that arrive but do not PARSE are a husk
            raw, err = self._read_bytes_retry(self._manifest_file(g))
            if err is not None:
                report["manifest_read_errors"].append(int(g))
                continue
            try:
                m = json.loads(raw.decode())
                m["generation"] = int(g)
                mans[g] = m
            except Exception:
                report["torn_husks"].append(int(g))
        # dir liveness per retained generation, at vacuum's granularity
        probes = []
        for g, m in mans.items():
            for rel in m.get("entries", {}).values():
                if rel.startswith("data/"):
                    c = rel.split("/")[1]
                    referenced.add(c)
                    probes.append((g, c))
        uniq = sorted({c for _, c in probes})

        def exists_c(c):
            return c, self._retry_store_op(
                lambda: fs.exists(f"{self.chunks_path}/data/{c}"))

        with ThreadPoolExecutor(max_workers=16) as ex:
            outcome = {c: res for c, res in ex.map(exists_c, uniq)}
        # a probe that ERRORED (throttle, network) is UNKNOWN, not
        # absent — reporting it under missing_dirs would present a
        # transient store hiccup as vacuum damage (and flip ok False).
        # Such dirs go to probe_errors; rerun fsck to resolve them.
        failed = {c for c, (_, err) in outcome.items() if err is not None}
        report["probe_errors"] = sorted(failed)
        alive = {c: ok for c, (ok, err) in outcome.items() if err is None}
        for g, c in probes:
            if c not in failed and not alive.get(c, False):
                report["missing_dirs"].setdefault(int(g), []).append(c)
        for g in report["missing_dirs"]:
            report["missing_dirs"][g] = sorted(set(
                report["missing_dirs"][g]))
        # orphans: dirs no retained generation references. With any
        # manifest UNREAD (transient store error) the referenced set is
        # incomplete and this classification is unsound — report none
        # rather than label a live generation's dirs as crash debris
        # (repair additionally refuses destructive actions then)
        if not report["manifest_read_errors"]:
            for d in fs.listdir(f"{self.chunks_path}/data"):
                if d.startswith("commit-") and d not in referenced:
                    report["orphan_dirs"].append(d)
        # feed-log gaps, split by healability (the single rule)
        feed_dir = f"{self.chunks_path}/feed"
        have = set(fs.listdir(feed_dir)) if fs.exists(feed_dir) else set()
        healable = {g for g, _, _ in self._missing_feed_entries()}
        unread = set(report["manifest_read_errors"])
        for g in gens:
            if self._feed_file(g).rsplit("/", 1)[1] in have:
                continue
            if g in report["torn_husks"]:
                continue  # not a commit, so not a gap
            if g in unread:
                # healability needs this manifest; a transient read
                # error must not read as PERMANENT feed loss — the
                # generation already sits in manifest_read_errors,
                # rerun fsck when the store recovers
                continue
            (report["feed_gaps_healable"] if g in healable
             else report["feed_gaps_lost"]).append(int(g))
        # lock + crash tmps
        report["lock_held"] = fs.exists(self._commit_lock_path)
        for where in (self.chunks_path, feed_dir):
            if not fs.exists(where):
                continue
            for n in fs.listdir(where):
                if fs.is_publish_tmp(n):
                    report["stale_tmps"].append(n)
        # missing dirs on the CURRENT generation break live reads; on
        # older ones they break time travel — both are findings. Torn
        # husks, lost feed gaps: findings. Orphans/lock/tmps: normal
        # operation or awaiting vacuum.
        report["ok"] = not (report["missing_dirs"]
                            or report["feed_gaps_lost"]
                            or report["torn_husks"])
        return report

    def vacuum(self, keep_manifests: int = 3, dry_run: bool = False):
        """Reclaim data dirs and manifest files outside the retention
        window: the newest ``keep_manifests`` generations survive
        INTACT — manifest file AND every data dir any of them
        references — so retained generations stay fully servable
        (``open(generation=N)`` time travel works after vacuum).
        Everything else (older generations' files, dirs only they
        referenced, crashed commits' staging) is reclaimed. Takes the
        commit lock. In-flight readers of reclaimed snapshots lose
        their files — run vacuum when no long queries are active,
        exactly the Delta/Iceberg VACUUM contract. Returns dirs
        removed.

        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) deletes
        NOTHING and instead returns ``{"data_dirs": [...],
        "manifests": [gen, ...], "feed_files": [...], "tmps": [...]}``
        — exactly what a real run with the same ``keep_manifests``
        would reclaim, decided under the same commit lock so the
        answer cannot race a concurrent commit."""
        fs = self._fs
        plan = {"data_dirs": [], "manifests": [], "feed_files": [],
                "tmps": []}
        with self._commit_lock():
            man = self._read_manifest()
            if man is None:
                return plan if dry_run else 0
            gens = self._manifest_generations()
            # NEVER drop the generation reads currently resolve to —
            # torn husks above it count toward the keep window and must
            # not push the live manifest out of retention
            keep = set(gens[:max(keep_manifests, 1)])
            resolved = int(man.get("generation", 0))
            keep.add(resolved)
            live = {rel.split("/")[1] for rel in man["entries"].values()}
            for g in sorted(keep, reverse=True):
                if g == resolved:
                    continue  # already seeded
                try:
                    kept = self._load_manifest_generation(g)
                except Exception:
                    continue  # torn husk in the window: references nothing
                live |= {rel.split("/")[1] for rel in kept["entries"].values()}
            n = 0
            for d in fs.listdir(f"{self.chunks_path}/data"):
                if d.startswith("commit-") and d not in live:
                    if dry_run:
                        plan["data_dirs"].append(d)
                        continue
                    fs.rmtree(f"{self.chunks_path}/data/{d}")
                    n += 1
            for g in gens:
                if g not in keep:
                    if dry_run:
                        plan["manifests"].append(int(g))
                        continue
                    fs.remove(self._manifest_file(g))
            # publish tmps orphaned by crashes mid-write (dot-prefixed,
            # invisible to Spark file sources and to every name filter)
            # are reclaimable only here, under the lock that proves no
            # live publisher owns them — manifest tmps land in the
            # chunks root, feed tmps in feed/
            for n2 in fs.listdir(self.chunks_path):
                if fs.is_publish_tmp(n2):
                    if dry_run:
                        plan["tmps"].append(n2)
                        continue
                    fs.remove(f"{self.chunks_path}/{n2}")
            # streaming-feed files follow manifest retention: a feed
            # older than the retained window describes vacuumed data
            feed_dir = f"{self.chunks_path}/feed"
            if fs.exists(feed_dir):
                for n2 in fs.listdir(feed_dir):
                    if fs.is_publish_tmp(n2):
                        if dry_run:
                            plan["tmps"].append(n2)
                        else:
                            fs.remove(f"{feed_dir}/{n2}")
                        continue
                    if not (n2.startswith("gen-") and n2.endswith(".json")):
                        continue
                    try:
                        g = int(n2[4:-5])
                    except ValueError:
                        continue
                    if g not in keep:
                        if dry_run:
                            plan["feed_files"].append(n2)
                            continue
                        fs.remove(f"{feed_dir}/{n2}")
            return plan if dry_run else n

    def _check_writable(self) -> None:
        """Raise unless this handle may mutate the table — guards every
        commit entry point (enforced at lock acquisition) plus the
        driver-array upload path."""
        if self._pinned_generation is not None:
            raise PermissionError(
                f"volume is pinned to manifest generation "
                f"{self._pinned_generation} (time-travel open); writes "
                "are disabled — reopen without generation= to write"
            )
        if self.read_only:
            raise PermissionError(
                "volume was opened through an info redirect; writes are "
                "disabled (reference ReadOnlyException semantics)"
            )

    @property
    def _commit_lock_path(self) -> str:
        return self.chunks_path + ".commit-lock"

    def _commit_lock(self):
        """Exclusive whole-table commit lock (see _commit_generation).

        Re-entrant within one THREAD of one Volume instance so the
        commit entry points (delete_region, apply_remap, downsample)
        can take the lock BEFORE their read snapshot — the manifest
        resolve (and the file listing ``spark.read.parquet`` captures
        from it) must not predate another writer's slab swap, or the
        merge stages survivors from a stale listing and silently drops
        the other writer's chunks — while _commit_generation keeps its
        own guard for direct callers. The depth is thread-local: a
        second driver thread sharing this Volume contends on the lock
        file like any external writer (an instance-wide counter would
        let it ride the first thread's lock and race the
        stage-and-swap)."""
        from contextlib import contextmanager

        fs = self._fs
        lock = self._commit_lock_path

        @contextmanager
        def held():
            depth = getattr(self._lock_tls, "depth", 0)
            if depth > 0:
                self._lock_tls.depth = depth + 1
                try:
                    yield
                finally:
                    self._lock_tls.depth -= 1
                return
            self._check_writable()
            if not fs.create_exclusive(lock):
                raise CommitConflictError(
                    f"another writer holds the commit lock {lock!r}; "
                    "retry after its commit finishes, or delete the "
                    "file if the writer crashed"
                )
            self._lock_tls.depth = 1
            try:
                yield
            finally:
                self._lock_tls.depth = 0
                fs.remove(lock)

        return held()

    def write_blocks_df(self, blocks: DataFrame, mip: int = 0,
                        compression: Optional[str] = "gzip",
                        merge: bool = False,
                        _pre_deduped: bool = False) -> None:
        """Distributed ingest: a DataFrame of grid-aligned decoded blocks
        ``(x0..z1, blob raw-F-order bytes)`` → encoded chunk rows →
        table write. The scale path — no driver array involved.

        ``merge=False`` (default, the bulk-import contract) REPLACES
        every touched slab with exactly the staged rows — an initial
        load or full-region rewrite. ``merge=True`` preserves existing
        chunks the batch does not overwrite (the :meth:`upload` merge
        semantics, distributed): required for incremental writers like
        :meth:`stream_ingest` whose batches revisit slabs."""
        info = self.info
        info.check_mip_writable(mip)
        slab_shift = self.slab_shift
        cs = np.asarray(info.chunk_size(mip))
        voff = np.asarray(info.voxel_offset(mip))
        grid = [int(g) for g in info.grid_shape(mip)]
        bounds = info.bounds(mip)
        bmax = [int(v) for v in bounds.maxpt]
        encoding = info.encoding(mip)
        cparams = info.compression_params(mip)
        dtype = info.data_type
        itemsize = np.dtype(dtype).itemsize
        nc = info.num_channels
        seg = info.layer_type == "segmentation"
        comp = compression or ""

        def encode_blocks(batches):
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                    # refuse misaligned or mis-sized blocks HERE: a
                    # floor-assigned unaligned block would commit chunk
                    # rows overlapping its neighbors, and a wrong-length
                    # blob on the raw fast path would poison every later
                    # decode — corruption must not defer to read time
                    for axis in range(3):
                        lo = (r.x0, r.y0, r.z0)[axis]
                        hi = (r.x1, r.y1, r.z1)[axis]
                        if lo < voff[axis] or (lo - voff[axis]) % cs[axis] != 0:
                            raise ValueError(
                                f"block {lo}.. not on the chunk grid "
                                f"(axis {axis}, chunk {int(cs[axis])}, "
                                f"offset {int(voff[axis])})")
                        cell_hi = min(int(lo + cs[axis]), bmax[axis])
                        if hi != cell_hi:
                            # exact-extent, not <=: an interior block
                            # covering only part of its cell would
                            # commit a chunk row whose readers assume
                            # the grid-determined shape — voxels past
                            # the stored extent would silently read as
                            # background (or index out of range) at
                            # read time. Partial writes go through
                            # upload()'s read-modify-write, never here.
                            raise ValueError(
                                f"block extent [{lo},{hi}) must cover "
                                f"its whole chunk cell [{lo},{cell_hi}) "
                                f"on axis {axis} (bounds-clamped); "
                                f"partial writes belong to upload()")
                    want = int(np.prod(shape)) * itemsize
                    if len(r.blob) != want:
                        raise ValueError(
                            f"block blob is {len(r.blob)} bytes, expected "
                            f"{want} for shape {shape} {dtype}")
                    cx = int((r.x0 - voff[0]) // cs[0])
                    cy = int((r.y0 - voff[1]) // cs[1])
                    cz = int((r.z0 - voff[2]) // cs[2])
                    if encoding == "raw" and not seg:
                        # block bytes ARE the raw encoding — skip the
                        # decode/encode round trip entirely
                        blob = codecs.compress_stream(r.blob, comp or None)
                        stats = None
                    else:
                        arr = codecs.decode(r.blob, "raw", shape, dtype)
                        blob = codecs.compress_stream(
                            codecs.encode(arr, encoding, params=cparams),
                            comp or None,
                        )
                        if seg:
                            stats = _stats_list(np.unique(arr))
                        else:
                            stats = None
                    morton = int(compressed_morton_code((cx, cy, cz), grid))
                    out.append((
                        int(mip), _slab_of(morton, slab_shift), cx, cy, cz, morton,
                        int(r.x0), int(r.x1), int(r.y0), int(r.y1),
                        int(r.z0), int(r.z1), encoding, comp, blob, stats,
                    ))
                yield pd.DataFrame(out, columns=[f.name for f in CHUNK_SCHEMA.fields])

        rows_df = blocks.mapInPandas(encode_blocks, schema=CHUNK_SCHEMA)
        if not merge:
            self._overwrite_slabs(rows_df)
            return
        # writability FIRST (read-only redirect or generation-pinned
        # handle): an empty or invalid batch must still raise
        # PermissionError, not silently "succeed" against a snapshot —
        # and not burn validation jobs before failing
        self._check_writable()
        # distributed read-modify-write: same lock-before-snapshot
        # discipline as _commit_rows, with the new keys coming from a
        # DataFrame instead of a driver list. Batch-only validation
        # (dup keys, touched slabs — they depend on nothing but the
        # batch) runs BEFORE the lock: the non-blocking exclusive lock
        # must not be held across Spark jobs that mutate nothing. The
        # touched-slab collect is bounded by the slab count (the
        # manifest-readability bound).
        rows_df = rows_df.cache()
        try:
            # duplicate keys within one batch would commit duplicate
            # rows whose read order is nondeterministic — refuse
            # loudly (the Delta MERGE multiple-source-rows contract);
            # :meth:`stream_ingest` offers order_col keep-latest dedup
            # and passes _pre_deduped to skip this provably-passing
            # job on its latency-bound micro-batch path
            dup = [] if _pre_deduped else (
                rows_df.groupBy("mip", "cx", "cy", "cz").count()
                .where(F.col("count") > 1).limit(1).collect())
            if dup:
                r = dup[0]
                raise ValueError(
                    f"merge batch contains {r['count']} rows for "
                    f"chunk ({r.mip},{r.cx},{r.cy},{r.cz}) — "
                    "pre-aggregate the batch to one block per grid "
                    "cell (stream_ingest(order_col=...) does this) "
                    "before ingest; committing duplicates would make "
                    "reads nondeterministic")
            touched = sorted(
                r.slab for r in
                rows_df.select("slab").distinct().collect())
            if not touched:
                return  # empty batch: no no-op generation churn
            # existence check INSIDE the lock — outside it, a
            # concurrent writer's first commit would flip this merge
            # into a silent slab replace
            with self._commit_lock():
                if not self._fs.exists(self.chunks_path):
                    self._overwrite_slabs(rows_df)
                    return
                man0 = self._read_manifest()
                existing = self.chunks_df(mip=int(mip), slabs=touched,
                                          manifest=man0)
                survivors = existing.join(
                    rows_df.select("mip", "cx", "cy", "cz"),
                    on=["mip", "cx", "cy", "cz"], how="left_anti")
                self._overwrite_slabs(
                    survivors.unionByName(rows_df), snapshot=man0)
        finally:
            rows_df.unpersist()

    def stream_ingest(self, blocks, checkpoint: str, mip: int = 0,
                      compression: Optional[str] = "gzip",
                      order_col: Optional[str] = None):
        """Structured Streaming SINK: ingest grid-aligned decoded
        blocks (the :meth:`write_blocks_df` schema — ``x0..z1`` +
        raw-F-order ``blob``) from a streaming DataFrame, one snapshot
        commit per micro-batch via ``foreachBatch``. Returns the
        ``DataStreamWriter`` with the checkpoint set — pick a trigger
        and ``.start()`` it (``availableNow=True`` for incremental
        batch ingest, a processing-time trigger to tail a feed).

        Semantics at scale: each micro-batch is ONE manifest
        generation (merge commit — chunks the batch does not overwrite
        survive), so readers only ever see whole batches; the
        checkpoint gives at-least-once batch delivery and a replayed
        batch rewrites the same chunk keys with the same content —
        idempotent at the content level (an extra generation, never
        divergent data). The streaming analog of the reference's
        sequential upload loop (`frontends/precomputed.py:1080`),
        which has no streaming story at all.

        ``order_col`` names a column that orders rewrites of the same
        grid block; when a micro-batch holds several versions of one
        block (source batching packs pending files together — the
        availableNow restart case), only the rows at the greatest
        ``order_col`` per CHUNK cell are kept. Malformed batches are
        REFUSED loudly rather than silently losing a version — each of
        these is a hard in-batch failure (and therefore a poison batch
        until the producer is fixed): a NULL ``order_col`` value
        (unstamped rewrites cannot be ordered), mixed block extents
        inside one cell (sub-cell tiles — keep-latest would drop every
        tile but one), and equal-order rows with different bytes (the
        ordering column does not actually order the rewrites).
        Without ``order_col``, any duplicate chunk key in a batch is
        refused (duplicate-key ValueError), so feeds that can rewrite
        a block must pass ``order_col`` (or guarantee at most one
        rewrite per block per micro-batch — note that
        ``maxFilesPerTrigger=1`` does NOT guarantee this when one
        source file itself holds two versions)."""
        if order_col is not None:
            # fail at wiring time: discovering this inside foreachBatch
            # would poison the first checkpointed batch forever. Use
            # the analyzer's own resolution (case-insensitive under
            # the default caseSensitive=false, nested fields allowed)
            # rather than a stricter exact-name check.
            from pyspark.errors import AnalysisException

            try:
                blocks[order_col]
            except AnalysisException as e:
                raise ValueError(
                    f"order_col {order_col!r} does not resolve against "
                    f"the blocks stream (columns: {blocks.columns}): "
                    f"{e}") from None

        def write_batch(df, _id):
            if order_col is None:
                self.write_blocks_df(df, mip=mip,
                                     compression=compression, merge=True)
                return
            info = self.info
            cs = info.chunk_size(mip)
            voff = info.voxel_offset(mip)
            from pyspark.sql.window import Window

            # cell key mirrors encode_blocks' cx/cy/cz derivation —
            # keep the two in lockstep (the dedup must key on exactly
            # the chunk cell the commit will key on)
            keyed = (
                df.withColumn("_cvs_kx", F.floor(
                    (F.col("x0") - int(voff[0])) / int(cs[0])))
                .withColumn("_cvs_ky", F.floor(
                    (F.col("y0") - int(voff[1])) / int(cs[1])))
                .withColumn("_cvs_kz", F.floor(
                    (F.col("z0") - int(voff[2])) / int(cs[2])))
            ).persist()
            key = ["_cvs_kx", "_cvs_ky", "_cvs_kz"]
            try:
                # ONE validation job for ALL three per-cell invariants
                # (r8 verdict perf note — the sink is latency-bound, so
                # the fixed job count per micro-batch matters; this
                # was two collects before): null stamps (unstamped
                # rewrites cannot be ordered — max() would silently
                # drop them), mixed extents (sub-cell tiles: on a
                # fixed grid a cell's legitimate block extents are
                # grid-determined, so keep-latest would silently drop
                # every tile but one, at ANY order), and equal-MAX-
                # order content ambiguity. Content distinctness rides
                # md5 digests (the repo-wide dedup-decision hash) so
                # the aggregate shuffles 16-byte hashes, not chunk
                # bytes.
                bad = (keyed.groupBy(*key).agg(
                           F.sum(F.col(order_col).isNull()
                                 .cast("int")).alias("nulls"),
                           F.countDistinct(F.struct(
                               "x0", "x1", "y0", "y1", "z0", "z1"
                           )).alias("n_ext"),
                           F.max(F.col(order_col)).alias("_maxo"),
                           F.collect_set(F.struct(
                               F.col(order_col).alias("o"),
                               F.md5("blob").alias("h"))).alias("_p"))
                       .withColumn("n_amb", F.size(F.expr(
                           "filter(_p, x -> x.o <=> _maxo)")))
                       .where((F.col("nulls") > 0) | (F.col("n_ext") > 1)
                              | (F.col("n_amb") > 1))
                       .limit(1).collect())
                if bad:
                    r = bad[0]
                    cell = f"({r._cvs_kx},{r._cvs_ky},{r._cvs_kz})"
                    if r["nulls"]:
                        raise ValueError(
                            f"order_col {order_col!r} is NULL on some "
                            f"rows of this micro-batch (cell {cell}) — "
                            "unstamped rewrites cannot be ordered; fix "
                            "the producer")
                    if r["n_ext"] > 1:
                        raise ValueError(
                            f"micro-batch holds {r['n_ext']} different "
                            f"block extents inside chunk cell {cell} — "
                            "sub-cell tiles cannot be ordered per cell; "
                            "emit one grid-aligned block per cell")
                    raise ValueError(
                        f"micro-batch holds {r['n_amb']} DIFFERENT "
                        f"rewrites of chunk cell {cell} at the same "
                        f"{order_col!r} value — the ordering column "
                        "does not order these rewrites; supply a "
                        "strictly-ordering column")
                w = Window.partitionBy(*key)
                latest = (keyed.withColumn(
                              "_cvs_maxo", F.max(order_col).over(w))
                          .where(F.col(order_col) == F.col("_cvs_maxo")))
                out = (latest.dropDuplicates(key)
                       .drop(*key, "_cvs_maxo"))
                self.write_blocks_df(out, mip=mip,
                                     compression=compression, merge=True,
                                     _pre_deduped=True)
            finally:
                keyed.unpersist()

        return (
            blocks.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
        )

    def __setitem__(self, slices, value) -> None:
        bounds = self.info.bounds(self.default_mip)
        bbox, _ = reify_slices(slices, bounds, bounded=self.bounded,
                               autocrop=self.autocrop)
        shape = tuple(bbox.size3()) + (self.info.num_channels,)
        if np.isscalar(value):
            value = np.full(shape, value, dtype=self.info.dtype)
        else:
            value = np.asarray(value, dtype=self.info.dtype)
            if value.ndim == 3:
                value = value[..., np.newaxis]
            if tuple(value.shape) != shape:
                raise AlignmentError(
                    f"write shape {value.shape} != slice shape {shape}"
                )
        self.upload(value, offset=bbox.minpt, mip=self.default_mip)

    # ------------------------------------------------------------------
    # reads (reference rx.py)
    # ------------------------------------------------------------------

    def _decoded_pieces_df(self, bbox: Bbox, mip: int) -> DataFrame:
        """Pruned scan → decode UDF → pieces cropped to ``bbox``
        (one decode-crop implementation: :meth:`_decoded_pieces_from`
        over the standard pruned scan)."""
        return self._decoded_pieces_from(self._pruned(bbox, mip), bbox, mip)

    def cutout(
        self,
        bbox_or_slices,
        mip: int = 0,
        fill_missing: Optional[bool] = None,
        label: Optional[int] = None,
        mask_except: Optional[Iterable[int]] = None,
        renumber: bool = False,
    ):
        """Bounding-box read → assembled ndarray (reference
        ``rx.download:239-379``). ``label=`` returns a bool mask
        (reference ``rx.py:756-806``) using labels_stats skipping;
        ``renumber=`` returns ``(arr, remap_dict)`` (reference
        ``rx.py:126-143``)."""
        fill = self.fill_missing if fill_missing is None else fill_missing
        bbox = self._resolve_bbox(bbox_or_slices, mip)
        nc = self.info.num_channels
        dtype = self.info.dtype
        shape = tuple(bbox.size3()) + (nc,)
        nbytes = int(np.prod(shape)) * dtype.itemsize
        if nbytes > MAX_ASSEMBLE_VOXELS:
            raise MemoryError(
                f"cutout of {nbytes/1e9:.1f} GB exceeds driver assembly cap; "
                "use blocks_df()/voxels_df() for DataFrame output"
            )

        # Driver-decode fast path: the cutout is already driver-bounded
        # (MAX_ASSEMBLE_VOXELS), so collect the ENCODED blobs and
        # decode+shade locally — no executor Python stage, no second
        # 100 MB round trip. On local storage the collect itself runs
        # through pyarrow directly; blocks_df() remains the distributed
        # decode path for larger-than-driver outputs.
        sel = ["x0", "x1", "y0", "y1", "z0", "z1",
               "encoding", "compression", "blob"]
        bg = self.info.background_color()
        want_stats = label is not None
        # stats pruning leaves the skipped regions BACKGROUND-filled;
        # when the queried label IS the background color that would
        # make the mask wrongly True over chunks whose stats prove the
        # label absent — decode those chunks instead of pruning
        prune_stats = want_stats and (
            _label_to_signed(label) != _label_to_signed(bg))
        # n_present counts chunks BEFORE stats skipping, so the
        # fill_missing=False missing-chunk check still fires on label=
        # reads (stats-skipped is "present, label absent"; a missing
        # chunk is data loss and must stay loud)
        n_present = None
        rows = self._collect_encoded_rows(
            bbox, mip, sel + (["labels_stats"] if want_stats else [])
        )
        if rows is None:
            pruned = self._pruned(bbox, mip)
            if prune_stats:
                if not fill:
                    n_present = pruned.count()
                # stats-column data skipping before any decode (stats
                # hold the signed bit pattern — see _label_to_signed)
                pruned = pruned.where(
                    F.col("labels_stats").isNull()
                    | F.array_contains("labels_stats", _label_to_signed(label))
                )
            rows = list(pruned.select(*sel).toPandas().itertuples(index=False))
        elif prune_stats:
            n_present = len(rows)
            rows = [
                r for r in rows
                if r.labels_stats is None
                or _label_to_signed(label) in r.labels_stats
            ]
        if n_present is None:
            n_present = len(rows)

        out = np.full(shape, bg, dtype=dtype)

        if not fill:
            cs = self.info.chunk_size(mip)
            voff = self.info.voxel_offset(mip)
            expected = bbox.clamp(self.info.bounds(mip)).num_chunks(cs, voff)
            if n_present < expected:
                raise EmptyVolumeException(
                    f"{expected - n_present} missing chunks in {bbox} "
                    "(fill_missing=False)"
                )

        cparams = self.info.compression_params(mip)

        def decode_shade(r):
            piece_bbox = Bbox((r.x0, r.y0, r.z0), (r.x1, r.y1, r.z1))
            pshape = tuple(piece_bbox.size3()) + (nc,)
            raw = codecs.decompress_stream(r.blob, r.compression or None)
            arr = codecs.decode(raw, r.encoding, pshape, dtype,
                                params=cparams)
            shade(out, bbox, arr, piece_bbox)

        # chunks paint disjoint regions and gunzip/numpy release the
        # GIL, so driver assembly threads scale near-linearly
        if len(rows) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(rows))) as pool:
                list(pool.map(decode_shade, rows))
        else:
            for r in rows:
                decode_shade(r)

        if label is not None:
            return out == dtype.type(label)
        if mask_except is not None:
            out = codecs.mask_except(out, mask_except)
        if renumber:
            uniq = np.unique(out)
            mapping = {int(u): i + 1 for i, u in enumerate(uniq[uniq != bg])}
            mapping[int(bg)] = 0
            out = codecs.remap_array(out, mapping)
            return out, mapping
        return out

    def _decoded_pieces_from(self, pruned: DataFrame, bbox: Bbox, mip: int) -> DataFrame:
        """Same decode-crop UDF over an externally filtered chunk scan."""
        dtype = self.info.data_type
        nc = self.info.num_channels
        cparams = self.info.compression_params(mip)
        bxm = [int(v) for v in bbox.minpt]
        bxM = [int(v) for v in bbox.maxpt]

        def decode_crop(batches):
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                    raw = codecs.decompress_stream(r.blob, r.compression or None)
                    arr = codecs.decode(raw, r.encoding, shape, dtype,
                                        params=cparams)
                    lo = [max(bxm[i], [r.x0, r.y0, r.z0][i]) for i in range(3)]
                    hi = [min(bxM[i], [r.x1, r.y1, r.z1][i]) for i in range(3)]
                    if any(lo[i] >= hi[i] for i in range(3)):
                        continue
                    piece = arr[
                        lo[0] - r.x0:hi[0] - r.x0,
                        lo[1] - r.y0:hi[1] - r.y0,
                        lo[2] - r.z0:hi[2] - r.z0, :,
                    ]
                    out.append((
                        lo[0], hi[0], lo[1], hi[1], lo[2], hi[2],
                        np.ascontiguousarray(piece.transpose()).tobytes(),
                    ))
                yield pd.DataFrame(
                    out, columns=["x0", "x1", "y0", "y1", "z0", "z1", "blob"]
                )

        return pruned.mapInPandas(decode_crop, schema=BLOCK_SCHEMA)

    def __getitem__(self, slices):
        bounds = self.info.bounds(self.default_mip)
        bbox, channel = reify_slices(
            slices, bounds, bounded=self.bounded, autocrop=self.autocrop
        )
        out = self.cutout(bbox, mip=self.default_mip)
        return out[:, :, :, channel]

    def blocks_df(self, bbox_or_slices=None, mip: int = 0) -> DataFrame:
        """Large-cutout path: decoded blocks as a DataFrame (no driver
        assembly) — the ``to_dask`` analog and the 100 TB answer to the
        reference's shared-memory buffers."""
        bbox = self._resolve_bbox(bbox_or_slices, mip)  # None = bounds
        return self._decoded_pieces_df(bbox, mip)

    def voxels_df(self, bbox_or_slices=None, mip: int = 0) -> DataFrame:
        """Relational voxel view ``(x, y, z, c, value DOUBLE)`` — the
        explode-UDTF bridge from array-native to columnar."""
        blocks = self.blocks_df(bbox_or_slices, mip)
        dtype = self.info.data_type

        is_int = np.issubdtype(np.dtype(dtype), np.integer)
        # uint64 (graphene ids use the high bit) cannot live in a signed
        # LongType — ids above 2^63 would wrap negative. Decimal(20,0)
        # holds the full range; the slower conversion applies only to
        # uint64 volumes.
        is_u64 = np.dtype(dtype) == np.dtype("uint64")
        from pyspark.sql.types import DecimalType, DoubleType

        value_type = (
            DecimalType(20, 0) if is_u64
            else (LongType() if is_int else DoubleType())
        )
        schema = StructType([
            StructField("x", IntegerType(), False),
            StructField("y", IntegerType(), False),
            StructField("z", IntegerType(), False),
            StructField("c", IntegerType(), False),
            StructField("value", value_type, False),
        ])
        nc = self.info.num_channels

        def explode(batches):
            from decimal import Decimal
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                    arr = np.frombuffer(r.blob, dtype=dtype).reshape(shape[::-1]).transpose()
                    xs, ys, zs, cs_ = np.meshgrid(
                        np.arange(r.x0, r.x1), np.arange(r.y0, r.y1),
                        np.arange(r.z0, r.z1), np.arange(nc), indexing="ij",
                    )
                    vals = arr.ravel()
                    if is_u64:
                        value = pd.Series(
                            [Decimal(int(v)) for v in vals], dtype=object
                        )
                    else:
                        value = vals.astype(np.int64 if is_int else np.float64)
                    yield pd.DataFrame({
                        "x": xs.ravel().astype(np.int32),
                        "y": ys.ravel().astype(np.int32),
                        "z": zs.ravel().astype(np.int32),
                        "c": cs_.ravel().astype(np.int32),
                        "value": value,
                    })

        return blocks.mapInPandas(explode, schema=schema)

    # ------------------------------------------------------------------
    # point reads (reference rx.py:381-430, frontends scattered_points)
    # ------------------------------------------------------------------

    def enable_lru(self, max_bytes: int = 256 * 1024 * 1024) -> None:
        """Driver-side encoded-chunk LRU for the point-read serving
        path (reference ``lru.py:190-349`` wired at
        ``image/__init__.py:66-69``): repeated ``read_voxel`` calls
        that land in cached chunks skip storage entirely. Byte-bounded;
        invalidated on every write commit."""
        from collections import OrderedDict
        self._lru = OrderedDict()
        self._lru_bytes = 0
        self._lru_max_bytes = int(max_bytes)

    def _lru_get(self, key):
        lru = getattr(self, "_lru", None)
        if lru is None or key not in lru:
            return None
        lru.move_to_end(key)
        return lru[key]

    def _lru_put(self, key, row) -> None:
        lru = getattr(self, "_lru", None)
        if lru is None:
            return
        size = len(row.blob) + 64
        if size > self._lru_max_bytes:
            return
        if key in lru:
            self._lru_bytes -= len(lru[key].blob) + 64
        lru[key] = row
        lru.move_to_end(key)
        self._lru_bytes += size
        while self._lru_bytes > self._lru_max_bytes:
            _, old = lru.popitem(last=False)
            self._lru_bytes -= len(old.blob) + 64

    def _lru_clear(self) -> None:
        if getattr(self, "_lru", None) is not None:
            self._lru.clear()
            self._lru_bytes = 0

    def read_voxel(self, xyz: Sequence[int], mip: int = 0) -> np.ndarray:
        """Single-voxel fast path: prune to exactly one chunk, decode
        only that voxel (reference ``rx.py:381-430``); LRU-accelerated
        when :meth:`enable_lru` was called."""
        pt = np.asarray(xyz, dtype=np.int64)
        bbox = Bbox(pt, pt + 1)
        cs = self.info.chunk_size(mip)
        voff = self.info.voxel_offset(mip)
        (cx, _), (cy, _), (cz, _) = bbox.grid_ranges(cs, voff)
        key = (int(mip), int(cx), int(cy), int(cz))
        cached = self._lru_get(key)
        if cached is not None:
            row = [cached]
        else:
            row = self._collect_encoded_rows(
                bbox, mip,
                ["x0", "x1", "y0", "y1", "z0", "z1",
                 "encoding", "compression", "blob"],
            )
            if row is None:
                row = self._pruned(bbox, mip).collect()
            if row:
                self._lru_put(key, row[0])
        if not row:
            if self.fill_missing:
                return np.full(
                    (self.info.num_channels,), self.info.background_color(),
                    dtype=self.info.dtype,
                )
            raise EmptyVolumeException(f"no chunk for voxel {xyz}")
        r = row[0]
        raw = codecs.decompress_stream(bytes(r.blob), r.compression or None)
        shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, self.info.num_channels)
        rel = (pt[0] - r.x0, pt[1] - r.y0, pt[2] - r.z0)
        return codecs.read_voxel(raw, r.encoding, shape, self.info.data_type,
                                 rel, params=self.info.compression_params(mip))

    def download_points(self, pts, mip: int = 0, channel: int = 0,
                        fill_missing: Optional[bool] = None) -> DataFrame:
        """Scattered-point lookup as the classic annotate-points-from-
        raster join (reference ``frontends/precomputed.py:873-907``):
        points keyed by chunk coords ⨝ chunk table → per-chunk extract
        UDF. Returns DataFrame (x, y, z, value).

        Value fidelity matches the sibling readers: DOUBLE for float
        volumes, BIGINT for integer volumes, true-unsigned
        DECIMAL(20,0) for uint64 (the ``unique``/``voxels_df``
        convention).  Out-of-bounds points raise up front (they would
        otherwise index past the clamped edge-chunk extent inside the
        UDF); points in unwritten chunks follow ``fill_missing`` —
        background value when True, EmptyVolumeException when False."""
        info = self.info
        cs = [int(c) for c in info.chunk_size(mip)]
        voff = [int(v) for v in info.voxel_offset(mip)]
        dtype = info.data_type
        nc = info.num_channels
        if not (0 <= int(channel) < nc):
            raise ValueError(f"channel {channel} out of range (0..{nc - 1})")
        channel = int(channel)
        cparams = info.compression_params(mip)
        fill = self.fill_missing if fill_missing is None else fill_missing
        bg = info.background_color()

        bounds = info.bounds(mip)
        pts = [(int(p[0]), int(p[1]), int(p[2])) for p in pts]
        oob = [p for p in pts if not all(
            bounds.minpt[i] <= p[i] < bounds.maxpt[i] for i in range(3))]
        if oob:
            raise ValueError(
                f"{len(oob)} point(s) outside volume bounds {bounds} "
                f"at mip {mip}: {oob[:5]}")

        is_float = np.dtype(dtype).kind == "f"
        is_u64 = np.dtype(dtype) == np.dtype("uint64")
        out_schema = StructType([
            StructField("x", IntegerType(), False),
            StructField("y", IntegerType(), False),
            StructField("z", IntegerType(), False),
            StructField("value",
                        DoubleType() if is_float else LongType(), False),
        ])

        def present(out: DataFrame) -> DataFrame:
            # uint64 rides the LongType column as a signed bit pattern;
            # re-present true-unsigned (the unique/voxels_df convention)
            if not is_u64:
                return out
            return out.select(
                "x", "y", "z",
                F.expr(
                    "CASE WHEN value < 0 THEN CAST(value AS DECIMAL(20,0)) "
                    "+ 18446744073709551616 "
                    "ELSE CAST(value AS DECIMAL(20,0)) END"
                ).alias("value"),
            )

        if not pts:
            # empty request -> empty result, not a min()-over-nothing crash
            return present(self.spark.createDataFrame([], out_schema))

        pts_df = self.spark.createDataFrame(
            pts, schema="x int, y int, z int",
        ).dropDuplicates()
        pts_df = (
            pts_df
            .withColumn("cx", F.floor((F.col("x") - voff[0]) / cs[0]).cast("int"))
            .withColumn("cy", F.floor((F.col("y") - voff[1]) / cs[1]).cast("int"))
            .withColumn("cz", F.floor((F.col("z") - voff[2]) / cs[2]).cast("int"))
        )
        pbox = Bbox(
            [min(p[i] for p in pts) for i in range(3)],
            [max(p[i] for p in pts) + 1 for i in range(3)],
        )
        cells = {(
            (p[0] - voff[0]) // cs[0],
            (p[1] - voff[1]) // cs[1],
            (p[2] - voff[2]) // cs[2],
        ) for p in pts}
        # two-stage chunk pruning: the per-axis IN-lists reach the
        # parquet scan (row-group pruning) but admit the CROSS PRODUCT
        # of the coordinate sets — 50 diagonal points would admit up to
        # 50^3 chunks; the semi-join against the broadcast cell set then
        # keeps exactly the requested cells. Only int cell triples are
        # ever broadcast — the blob-carrying chunk side stays distributed
        # (broadcasting it would collect unbounded encoded blobs to the
        # driver).
        cells_df = pts_df.select("cx", "cy", "cz").distinct()
        chunks = (
            self._pruned(pbox, mip)
            .where(
                F.col("cx").isin([c[0] for c in cells])
                & F.col("cy").isin([c[1] for c in cells])
                & F.col("cz").isin([c[2] for c in cells])
            )
            .join(F.broadcast(cells_df), ["cx", "cy", "cz"], "left_semi")
            .select("cx", "cy", "cz", "x0", "y0", "z0", "x1", "y1", "z1",
                    "encoding", "compression", "blob")
        )
        if not fill:
            # missing chunks are data loss, not background: probe for a
            # requested cell with no chunk row (cells <= n_points keeps
            # the anti-join bounded; the probe projects cell coords only,
            # so its scan never reads the blob column)
            missing = (
                cells_df
                .join(chunks.select("cx", "cy", "cz"),
                      ["cx", "cy", "cz"], "left_anti")
                .limit(1).count()
            )
            if missing:
                raise EmptyVolumeException(
                    f"point(s) fall in unwritten chunks (fill_missing"
                    f"=False) in {pbox} at mip {mip}")
        # one row per touched CHUNK (that chunk's points grouped into an
        # array) so the join moves each encoded blob exactly once —
        # joining raw point rows against the chunk table would replicate
        # a chunk's blob once PER POINT through the exchange
        pts_cell = pts_df.groupBy("cx", "cy", "cz").agg(
            F.collect_list(F.struct("x", "y", "z")).alias("cell_pts"))
        joined = chunks.join(F.broadcast(pts_cell),
                             ["cx", "cy", "cz"], "inner")

        def extract(batches):
            for pdf in batches:
                frames = []
                for r in pdf.itertuples():
                    shape = (int(r.x1 - r.x0), int(r.y1 - r.y0),
                             int(r.z1 - r.z0), nc)
                    raw = codecs.decompress_stream(
                        r.blob, r.compression or None)
                    arr = codecs.decode(raw, r.encoding, shape, dtype,
                                        params=cparams)
                    cp = r.cell_pts
                    xs = np.array([p["x"] for p in cp], dtype=np.int64)
                    ys = np.array([p["y"] for p in cp], dtype=np.int64)
                    zs = np.array([p["z"] for p in cp], dtype=np.int64)
                    vals = arr[xs - int(r.x0), ys - int(r.y0),
                               zs - int(r.z0), channel]
                    if is_float:
                        vals = vals.astype(np.float64)
                    elif vals.dtype == np.uint64:
                        # signed bit pattern through the LongType column;
                        # re-presented unsigned in present()
                        vals = vals.view(np.int64)
                    else:
                        vals = vals.astype(np.int64)
                    frames.append(pd.DataFrame({
                        "x": xs.astype(np.int32),
                        "y": ys.astype(np.int32),
                        "z": zs.astype(np.int32),
                        "value": vals,
                    }))
                if frames:
                    yield pd.concat(frames)

        hit = joined.mapInPandas(extract, out_schema)
        if not fill:
            # the eager probe above proved no cell is missing — the
            # background leg would execute a second pruned scan +
            # anti-join just to produce zero rows, so skip it entirely
            return present(hit)
        # points whose cell has no chunk row: background fill
        bg_np = np.full(1, bg, dtype=dtype)
        if is_float:
            bg_lit = F.lit(float(bg_np[0])).cast("double")
        elif is_u64:
            bg_lit = F.lit(int(bg_np.view(np.int64)[0])).cast("long")
        else:
            bg_lit = F.lit(int(bg_np.astype(np.int64)[0])).cast("long")
        bg_rows = (
            pts_df.join(F.broadcast(chunks.select("cx", "cy", "cz")),
                        ["cx", "cy", "cz"], "left_anti")
            .select("x", "y", "z", bg_lit.alias("value"))
        )
        return present(hit.unionByName(bg_rows))

    # ------------------------------------------------------------------
    # aggregations (reference rx.unique, frontends.unique)
    # ------------------------------------------------------------------

    def unique(self, bbox_or_slices=None, mip: int = 0, approx: bool = False) -> DataFrame:
        """Distinct labels in a region (reference
        ``frontends/precomputed.py:590-628``, ``rx.py:898-1079``).

        Core/shell split done relationally: interior chunks answer from
        the ``labels_stats`` stats column (no blob decode — the scan
        doesn't even read the blob column, so Parquet column pruning
        skips the bytes); boundary chunks decode + crop. Returns a
        one-column DataFrame ``label BIGINT``; ``approx=True`` gives
        ``approx_count_distinct`` instead of the exact set.
        """
        bbox = self._resolve_bbox(bbox_or_slices, mip)  # None = bounds
        cs = self.info.chunk_size(mip)
        voff = self.info.voxel_offset(mip)
        pruned = self._pruned(bbox, mip)

        interior = pruned.where(
            (F.col("x0") >= int(bbox.minpt[0])) & (F.col("x1") <= int(bbox.maxpt[0]))
            & (F.col("y0") >= int(bbox.minpt[1])) & (F.col("y1") <= int(bbox.maxpt[1]))
            & (F.col("z0") >= int(bbox.minpt[2])) & (F.col("z1") <= int(bbox.maxpt[2]))
        )
        boundary = pruned.where(
            ~(
                (F.col("x0") >= int(bbox.minpt[0])) & (F.col("x1") <= int(bbox.maxpt[0]))
                & (F.col("y0") >= int(bbox.minpt[1])) & (F.col("y1") <= int(bbox.maxpt[1]))
                & (F.col("z0") >= int(bbox.minpt[2])) & (F.col("z1") <= int(bbox.maxpt[2]))
            )
        )

        # interior, stats present: explode stats — column-pruned scan
        fast = (
            interior.where(F.col("labels_stats").isNotNull())
            .select(F.explode("labels_stats").alias("label"))
        )
        # interior without stats: full decode
        slow_interior = interior.where(F.col("labels_stats").isNull())

        dtype = self.info.data_type
        nc = self.info.num_channels
        cparams = self.info.compression_params(mip)
        bxm = [int(v) for v in bbox.minpt]
        bxM = [int(v) for v in bbox.maxpt]

        def chunk_labels(batches):
            for pdf in batches:
                vals = []
                for r in pdf.itertuples(index=False):
                    shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                    raw = codecs.decompress_stream(r.blob, r.compression or None)
                    arr = codecs.decode(raw, r.encoding, shape, dtype,
                                        params=cparams)
                    lo = [max(bxm[i], [r.x0, r.y0, r.z0][i]) for i in range(3)]
                    hi = [min(bxM[i], [r.x1, r.y1, r.z1][i]) for i in range(3)]
                    if any(lo[i] >= hi[i] for i in range(3)):
                        continue
                    piece = arr[
                        lo[0] - r.x0:hi[0] - r.x0,
                        lo[1] - r.y0:hi[1] - r.y0,
                        lo[2] - r.z0:hi[2] - r.z0, :,
                    ]
                    vals.append(np.unique(piece).astype(np.int64))
                if vals:
                    yield pd.DataFrame({"label": np.unique(np.concatenate(vals))})
                else:
                    yield pd.DataFrame({"label": np.array([], dtype=np.int64)})

        lbl_schema = StructType([StructField("label", LongType(), False)])
        slow = boundary.unionByName(slow_interior).mapInPandas(
            chunk_labels, schema=lbl_schema
        )
        labels = fast.unionByName(slow)
        if approx:
            return labels.agg(F.approx_count_distinct("label").alias("approx_labels"))
        labels = labels.distinct()
        if np.dtype(dtype) == np.dtype("uint64"):
            # internal representation is the signed bit pattern; present
            # true unsigned values at the API edge (ids above 2^63 need
            # Decimal(20,0) — LongType cannot hold them)
            labels = labels.select(
                F.expr(
                    "CASE WHEN label < 0 THEN CAST(label AS DECIMAL(20,0)) "
                    "+ 18446744073709551616 "
                    "ELSE CAST(label AS DECIMAL(20,0)) END"
                ).alias("label")
            )
        return labels

    # ------------------------------------------------------------------
    # existence / delete (reference image/__init__.py:484-557)
    # ------------------------------------------------------------------

    def exists(self, bbox_or_slices, mip: int = 0) -> dict:
        """Map of chunk grid coord → present? (reference
        ``image/__init__.py:484-513``) — anti-join of the generated grid
        vs the chunk table."""
        bbox = self._resolve_bbox(bbox_or_slices, mip)
        cs = self.info.chunk_size(mip)
        voff = self.info.voxel_offset(mip)
        present = {
            (r.cx, r.cy, r.cz)
            for r in self._pruned(bbox, mip).select("cx", "cy", "cz").collect()
        }
        return {
            coord: coord in present for coord in bbox.grid_coords(cs, voff)
        }

    def delete(self, bbox_or_slices, mip: int = 0) -> None:
        """Chunk-aligned region delete (reference
        ``image/__init__.py:516-557``)."""
        if bbox_or_slices is None:
            # the read surfaces treat None as "whole volume"; for a
            # DESTRUCTIVE call that convenience is a footgun — wiping a
            # mip must be spelled out (delete(vol.info.bounds(mip)))
            raise ValueError(
                "delete() requires an explicit bbox; to clear a whole "
                "mip pass vol.info.bounds(mip)")
        self.info.check_mip_writable(mip)
        bbox = self._resolve_bbox(bbox_or_slices, mip)
        cs = self.info.chunk_size(mip)
        voff = self.info.voxel_offset(mip)
        shrunk = bbox.shrink_to_chunk_size(cs, voff)
        aligned = bbox.expand_to_chunk_size(cs, voff).clamp(self.info.bounds(mip))
        if shrunk != aligned and bbox != aligned:
            raise AlignmentError(f"delete bbox {bbox} is not chunk aligned")
        doomed = set(bbox.grid_coords(cs, voff))
        grid = [int(g) for g in self.info.grid_shape(mip)]
        slabs = sorted({
            _slab_of(int(compressed_morton_code(c, grid)), self.slab_shift)
            for c in doomed
        })
        if not self._fs.exists(self.chunks_path):
            return
        # lock before the read snapshot (see _commit_lock); the
        # snapshot manifest is threaded to the publish so its CAS
        # covers the survivors read
        with self._commit_lock():
            man0 = self._read_manifest()
            existing = self.chunks_df(mip=int(mip), slabs=slabs,
                                      manifest=man0)
            keys = self.spark.createDataFrame(
                [(int(mip), int(cx), int(cy), int(cz)) for (cx, cy, cz) in doomed],
                schema="mip int, cx int, cy int, cz int",
            )
            survivors = existing.join(
                F.broadcast(keys), on=["mip", "cx", "cy", "cz"], how="left_anti"
            ).cache()
            try:
                live_slabs = {
                    r.slab for r in survivors.select("slab").distinct().collect()
                }
                if live_slabs:
                    self._overwrite_slabs(
                        survivors,
                        drop=[(mip, s) for s in set(slabs) - live_slabs],
                        snapshot=man0,
                    )
                else:
                    # every chunk in the touched slabs was deleted
                    self._lru_clear()
                    if man0 is not None:
                        entries = dict(man0["entries"])
                        for s in slabs:
                            entries.pop(f"{int(mip)}/{int(s)}", None)
                        self._publish_manifest(
                            entries,
                            expect_generation=int(man0["generation"]),
                            old_entries=dict(man0["entries"]))
            finally:
                survivors.unpersist()

    def delete_all(self) -> None:
        # under the lock: dropping the table out from under a live
        # commit's staging write would corrupt that commit
        self._lru_clear()
        with self._commit_lock():
            if self._fs.exists(self.chunks_path):
                self._fs.rmtree(self.chunks_path)

    # ------------------------------------------------------------------
    # label rewrites (reference chunks.remap / frontends mask)
    # ------------------------------------------------------------------

    def apply_remap(self, mapping: dict, mip: int = 0,
                    preserve_missing: bool = True) -> None:
        """Rewrite every chunk's labels through ``{old: new}`` — the
        broadcast-join remap job (reference ``chunks.py:395-421``
        applied volume-wide). Mapping is broadcast to executors;
        per-chunk rewrite is a vectorized numpy remap."""
        self._check_writable()
        self.info.check_mip_writable(mip)
        bmap = self.spark.sparkContext.broadcast(
            {int(k): int(v) for k, v in mapping.items()}
        )
        dtype = self.info.data_type
        nc = self.info.num_channels
        cparams = self.info.compression_params(mip)

        def rewrite(batches):
            m = bmap.value
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                    raw = codecs.decompress_stream(r.blob, r.compression or None)
                    arr = codecs.decode(raw, r.encoding, shape, dtype,
                                        params=cparams)
                    arr = codecs.remap_array(arr, m, preserve_missing=preserve_missing)
                    blob = codecs.compress_stream(
                        codecs.encode(arr, r.encoding, params=cparams),
                        r.compression or None,
                    )
                    uniq = np.unique(arr)
                    stats = _stats_list(uniq)
                    rows.append((
                        r.mip, r.slab, r.cx, r.cy, r.cz, r.morton,
                        r.x0, r.x1, r.y0, r.y1, r.z0, r.z1,
                        r.encoding, r.compression, blob, stats,
                    ))
                yield pd.DataFrame(rows, columns=[f.name for f in CHUNK_SCHEMA.fields])

        # full-mip rewrite committed as a snapshot generation that
        # REPLACES every previous entry of this mip; lock held
        # across the read snapshot AND the publish (see _commit_lock);
        # clear the point-read LRU or it would serve stale pre-remap
        # labels afterwards
        self._lru_clear()
        fs = self._fs
        with self._commit_lock():
            man0 = self._read_manifest()
            src = self.chunks_df(mip=int(mip), manifest=man0)
            out = src.mapInPandas(rewrite, schema=CHUNK_SCHEMA)
            # ONE commit path: never an in-place rmtree-then-rename of
            # the mip, whose failed rename would destroy its only copy
            self._overwrite_slabs(out, replace_mips=[int(mip)],
                                  snapshot=man0)

    # ------------------------------------------------------------------
    # downsample (beyond-reference: the actual reduction job)
    # ------------------------------------------------------------------

    # incremental downsample falls back to a full recompute past this
    # many affected parent chunks — the driver-side slab/key enumeration
    # is the bounded piece (≈2M ints at the cap); beyond it the changed
    # region is most of the table and full recompute is the right plan
    _INCR_PARENT_CAP = 1 << 18

    def downsample(self, from_mip: int = 0, factor: Sequence[int] = (2, 2, 1),
                   compression: Optional[str] = "gzip",
                   since_generation: Optional[int] = None) -> int:
        """Materialize mip ``from_mip+1`` by reducing ``from_mip``:
        2×2×1 mean for images, mode for segmentations. The reference
        only registers scales (``metadata.py:743-838``, actual pixels
        produced by the sibling Igneous project); here it is one
        ``groupBy(parent_chunk).applyInPandas`` job.

        ``since_generation=N`` makes the job INCREMENTAL: only parent
        chunks whose source slabs changed between manifest generation
        ``N`` and the current one (see :meth:`changes`) are re-reduced
        — the 100 TB maintenance path, where a patch write must not
        trigger a full-pyramid recompute. The source scan is pruned to
        the child slabs of affected parents, recomputed parents replace
        their old rows (survivor merge per touched target slab), and
        parents whose every child was deleted are dropped. Falls back
        loudly to a full recompute when the affected-parent count
        exceeds the documented cap (the change covers most of the
        table) and raises if generation ``N`` fell out of vacuum
        retention."""
        # the WHOLE operation — since_generation validation, scale
        # registration, reduce, publish — runs under one lock hold
        # (re-entrant for the inner commit): validating outside it
        # would let a concurrent vacuum reclaim the base generation
        # after the check, leaving a phantom empty scale registered in
        # live info when the incremental leg then fails
        self._check_writable()
        with self._commit_lock():
            return self._downsample_impl(
                from_mip, factor, compression, since_generation)

    def _downsample_impl(self, from_mip, factor, compression,
                         since_generation):
        old_man = None
        if since_generation is not None:
            old_man = self._generation_or_raise(since_generation)
        info = self.info
        factor = np.asarray(factor, dtype=np.int64)
        cs_from = np.asarray(info.chunk_size(from_mip), dtype=np.int64)
        voff_from = np.asarray(info.voxel_offset(from_mip), dtype=np.int64)
        for axis in range(3):
            f = int(factor[axis])
            if int(cs_from[axis]) % f or int(voff_from[axis]) % f:
                # an interior chunk whose extent or origin is not a
                # factor multiple reduces to a parent window that
                # OVERLAPS its neighbor's — which child wins a shared
                # parent voxel would depend on reduce iteration order
                raise ValueError(
                    f"downsample factor {tuple(int(x) for x in factor)} "
                    f"must divide the source chunk size "
                    f"{tuple(int(c) for c in cs_from)} and voxel offset "
                    f"{tuple(int(v) for v in voff_from)} on every axis"
                )
        prev_scales = json.loads(json.dumps(info.info["scales"]))
        scale = info.add_scale(
            factor * np.asarray(info.downsample_ratio(from_mip), dtype=np.int64)
        )
        to_mip = [s["key"] for s in info.info["scales"]].index(scale["key"])
        try:
            return self._downsample_run(
                info, from_mip, to_mip, factor, compression, old_man)
        except BaseException:
            # roll back the in-memory registration: the info file only
            # commits after the data publishes, but without this a later
            # unrelated info.commit on the SAME handle (another
            # downsample, lock_mips, provenance edit) would publish the
            # phantom dataless scale this ordering exists to prevent
            info.info["scales"] = prev_scales
            raise

    def _downsample_run(self, info, from_mip, to_mip, factor,
                        compression, old_man):
        info.check_mip_writable(to_mip)  # maintenance must honor mip locks
        # the scale is registered IN MEMORY only at this point; the
        # info file commits AFTER the reduce job publishes its data —
        # committing first would advertise a phantom empty mip forever
        # if the job dies (a crash between data and info commit is
        # repaired by re-running downsample, which overwrites)

        slab_shift = self.slab_shift
        cs_to = np.asarray(info.chunk_size(to_mip))
        voff_to = np.asarray(info.voxel_offset(to_mip))
        grid_to = [int(g) for g in info.grid_shape(to_mip)]
        bounds_to = info.bounds(to_mip)
        dtype = info.data_type
        nc = info.num_channels
        seg = info.layer_type == "segmentation"
        bg_value = info.background_color()
        encoding = info.encoding(to_mip)
        src_params = info.compression_params(from_mip)
        dst_params = info.compression_params(to_mip)
        comp = compression or ""
        fx, fy, fz = (int(f) for f in factor)

        def build_src(man0):
            return self.chunks_df(mip=int(from_mip), manifest=man0)

        # child chunk → its parent target chunk key, on the offset-relative
        # grid (cell = voff_to + tc*cs_to below must invert this exactly;
        # a nonzero voxel_offset would otherwise shift every key)
        def with_parent_keys(src):
            return (
                src.withColumn(
                    "tcx",
                    F.floor((F.floor(F.col("x0") / fx) - int(voff_to[0]))
                            / int(cs_to[0])).cast("int"))
                .withColumn(
                    "tcy",
                    F.floor((F.floor(F.col("y0") / fy) - int(voff_to[1]))
                            / int(cs_to[1])).cast("int"))
                .withColumn(
                    "tcz",
                    F.floor((F.floor(F.col("z0") / fz) - int(voff_to[2]))
                            / int(cs_to[2])).cast("int"))
            )

        def reduce_group(key, pdf):
            tcx, tcy, tcz = (int(k) for k in key)
            cell = Bbox.from_delta(
                voff_to + np.array([tcx, tcy, tcz]) * cs_to, cs_to
            ).clamp(bounds_to)
            # background init, not zeros: a sparsely-covered parent
            # must agree with what cutout(fill) serves at the base mip
            out = np.full(tuple(cell.size3()) + (nc,), bg_value, dtype=dtype)
            for r in pdf.itertuples(index=False):
                shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                raw = codecs.decompress_stream(r.blob, r.compression or None)
                arr = codecs.decode(raw, r.encoding, shape, dtype,
                                    params=src_params)
                # mean (images) / mode (segmentations) per block, with
                # partial edge blocks reduced over present voxels
                red = _block_reduce(arr, (fx, fy, fz), seg)
                child = Bbox(
                    (r.x0 // fx, r.y0 // fy, r.z0 // fz),
                    (r.x0 // fx + red.shape[0], r.y0 // fy + red.shape[1],
                     r.z0 // fz + red.shape[2]),
                )
                shade(out, cell, red, child)
            blob = codecs.compress_stream(
                codecs.encode(out, encoding, params=dst_params), comp or None)
            if seg:
                uniq = np.unique(out)
                stats = _stats_list(uniq)
            else:
                stats = None
            morton = int(compressed_morton_code((tcx, tcy, tcz), grid_to))
            return pd.DataFrame([(
                int(to_mip), _slab_of(morton, slab_shift), tcx, tcy, tcz, morton,
                int(cell.minpt[0]), int(cell.maxpt[0]),
                int(cell.minpt[1]), int(cell.maxpt[1]),
                int(cell.minpt[2]), int(cell.maxpt[2]),
                encoding, comp, blob, stats,
            )], columns=[f.name for f in CHUNK_SCHEMA.fields])

        # lock covers the from_mip source listing (spark.read.parquet
        # captures the file index eagerly) as well as the to_mip swap, so
        # the scan cannot race a concurrent writer's slab swap
        with self._commit_lock():
            man0 = self._read_manifest()
            if old_man is not None and man0 is not None:
                done = self._downsample_incremental(
                    man0, old_man, int(from_mip),
                    int(to_mip), (fx, fy, fz), with_parent_keys,
                    reduce_group)
                if done:
                    info.commit(self.base_path)
                    return to_mip
            out = with_parent_keys(build_src(man0)).groupBy(
                "tcx", "tcy", "tcz"
            ).applyInPandas(reduce_group, schema=CHUNK_SCHEMA)
            # replace_mips: a FULL downsample REBUILDS the target level
            # from source — target slabs whose every parent vanished
            # (source deleted) lose their entries rather than serving
            # pre-delete data, and chunks uploaded DIRECTLY at the
            # target mip are replaced (use since_generation= to
            # maintain a level without touching unrelated slabs)
            self._overwrite_slabs(out, replace_mips=[int(to_mip)],
                                  snapshot=man0)
            # scale registration publishes only after the data did
            info.commit(self.base_path)
        return to_mip

    def _downsample_incremental(self, man0: dict, old_man: dict,
                                from_mip: int, to_mip: int, factor,
                                with_parent_keys, reduce_group) -> bool:
        """The incremental leg of :meth:`downsample` (caller holds the
        commit lock and passes its resolved snapshot + reduce
        machinery). Returns False to request a full recompute (parent
        cap exceeded); True when the incremental commit published (or
        nothing changed)."""
        import logging

        info = self.info
        if not any(k.startswith(f"{to_mip}/") for k in man0["entries"]):
            # the target level was never built: "maintaining" it
            # incrementally would publish a level holding ONLY the
            # changed parents — silently partial. Build it fully.
            return False
        old = old_man
        # compaction-aware diff: slabs whose only movement since N was
        # data_change=false (bytes re-packed, content identical) are
        # NOT re-reduced — the point of flagging compactions
        changed = sorted(
            int(k.split("/")[1])
            for k, _, _ in self._changed_keys(
                old, man0, prefix=f"{from_mip}/")
        )
        if not changed:
            return True  # source untouched since N: nothing to do

        # affected parents = parents of every chunk that EXISTS in a
        # changed slab now, plus every chunk that existed there at N
        # (covers deletions: a vanished child forces its parent's
        # recompute, possibly to nothing). Old dirs are retained with
        # their manifest by vacuum, so the old-side scan is servable
        # exactly when _generation_or_raise succeeded. ids-only scan:
        # column pruning keeps blob bytes unread.
        coords = ["x0", "y0", "z0"]
        new_side = self.chunks_df(mip=from_mip, slabs=changed,
                                  manifest=man0).select(*coords)
        old_side = self.chunks_df(mip=from_mip, slabs=changed,
                                  manifest=old).select(*coords)
        parents_rows = (
            with_parent_keys(new_side.unionByName(old_side))
            .select("tcx", "tcy", "tcz").distinct()
            .limit(self._INCR_PARENT_CAP + 1).collect()
        )
        if len(parents_rows) > self._INCR_PARENT_CAP:
            logging.getLogger(__name__).warning(
                "incremental downsample: >%d parent chunks affected "
                "since generation %d — the change covers most of the "
                "table; falling back to a FULL recompute",
                self._INCR_PARENT_CAP, old.get("generation"))
            return False
        if not parents_rows:
            return True  # changed slabs held no chunks on either side

        parents_np = np.array([(r.tcx, r.tcy, r.tcz)
                               for r in parents_rows], dtype=np.int64)
        fx, fy, fz = factor
        f3 = np.array([fx, fy, fz], dtype=np.int64)
        cs_to = np.asarray(info.chunk_size(to_mip), dtype=np.int64)
        voff_to = np.asarray(info.voxel_offset(to_mip), dtype=np.int64)
        grid_to = [int(g) for g in info.grid_shape(to_mip)]
        cs_from = np.asarray(info.chunk_size(from_mip), dtype=np.int64)
        voff_from = np.asarray(info.voxel_offset(from_mip),
                               dtype=np.int64)
        grid_from = [int(g) for g in info.grid_shape(from_mip)]

        # child chunk grid range per parent: the parent cell mapped back
        # to from_mip voxels, then to chunk coords (inclusive). Batched:
        # per-parent candidate count is prod(cs_to*factor/cs_from) —
        # 512 offsets at factor (8,8,8) — so a dense parents×offsets
        # grid at the parent cap would be GBs on the driver
        lo = (voff_to + parents_np * cs_to) * f3 - voff_from
        hi = lo + cs_to * f3  # exclusive
        clo = np.maximum(lo // cs_from, 0)
        chi = np.minimum(-((-hi) // cs_from) - 1,
                         np.asarray(grid_from) - 1)
        slab_ids: set = set()
        batch = 1 << 12
        for i in range(0, len(parents_np), batch):
            blo, bhi = clo[i:i + batch], chi[i:i + batch]
            spans = np.maximum((bhi - blo + 1).max(axis=0), 0)
            if not spans.all():
                continue
            offs = np.stack(np.meshgrid(
                np.arange(spans[0]), np.arange(spans[1]),
                np.arange(spans[2]), indexing="ij",
            ), axis=-1).reshape(-1, 3)
            cand = blo[:, None, :] + offs[None, :, :]
            children = cand[(cand <= bhi[:, None, :]).all(-1)]
            if len(children):
                slab_ids.update(
                    int(s) for s in np.unique(
                        compressed_morton_code(children, grid_from)
                        .astype(np.int64) >> self.slab_shift))
        child_slabs = sorted(slab_ids)

        # recompute exactly the affected parents from their (pruned)
        # child scan — broadcast semi-join, ids shuffled only
        parents_df = self.spark.createDataFrame(
            [(int(x), int(y), int(z)) for x, y, z in parents_np],
            schema="tcx int, tcy int, tcz int")
        src = self.chunks_df(mip=from_mip, slabs=child_slabs,
                             manifest=man0)
        new_rows = (
            with_parent_keys(src)
            .join(F.broadcast(parents_df), on=["tcx", "tcy", "tcz"],
                  how="leftsemi")
            .groupBy("tcx", "tcy", "tcz")
            .applyInPandas(reduce_group, schema=CHUNK_SCHEMA)
        )

        # survivor merge at to_mip: untouched parents in rewritten
        # target slabs ride along; recomputed/vanished parents replaced
        touched_tslabs = sorted(int(s) for s in np.unique(
            compressed_morton_code(parents_np, grid_to).astype(np.int64)
            >> self.slab_shift))
        keys = self.spark.createDataFrame(
            [(int(to_mip), int(x), int(y), int(z))
             for x, y, z in parents_np],
            schema="mip int, cx int, cy int, cz int")
        existing = self.chunks_df(mip=to_mip, slabs=touched_tslabs,
                                  manifest=man0)
        survivors = existing.join(F.broadcast(keys),
                                  on=["mip", "cx", "cy", "cz"],
                                  how="left_anti")
        out = survivors.unionByName(new_rows).cache()
        try:
            live = {r.slab for r in out.select("slab").distinct().collect()}
            # a touched target slab with no remaining rows (every parent
            # recomputed to nothing) must lose its manifest entry
            drop = [(to_mip, s) for s in touched_tslabs
                    if s not in live
                    and f"{to_mip}/{s}" in man0["entries"]]
            self._overwrite_slabs(out, drop=drop, snapshot=man0)
        finally:
            out.unpersist()
        return True

    def generate_pyramid(self, num_mips: int, factor: Sequence[int] = (2, 2, 1),
                         compression: Optional[str] = "gzip",
                         since_generation: Optional[int] = None) -> list:
        """Materialize ``num_mips`` additional downsample levels (the
        full mip hierarchy the reference's ``add_scale`` registers but
        leaves to Igneous to fill). Each level is one reduction job over
        the previous; returns the new mip indices.

        ``since_generation=N`` maintains an EXISTING pyramid
        incrementally after base-level writes: level ``i+1`` re-reduces
        only the parents of slabs that changed at level ``i`` since
        generation ``N`` — and because each incremental level commits a
        new generation whose diff-vs-N covers exactly the slabs it
        rewrote, the single ``N`` propagates the patch up the whole
        pyramid. Start from mip 0 in that mode (the changed set, not
        the topmost filled mip, decides the work)."""
        made = []
        mip = 0 if since_generation is not None else max(
            (i for i in range(len(self.info.info["scales"]))
             if self.has_data(i)),
            default=0,
        )
        for _ in range(int(num_mips)):
            mip = self.downsample(mip, factor, compression=compression,
                                  since_generation=since_generation)
            made.append(mip)
        return made

    # ------------------------------------------------------------------
    # transfer (reference image/xfer.py — one read→transform→write job)
    # ------------------------------------------------------------------

    def transfer_to(
        self,
        dest_base: str,
        bbox_or_slices=None,
        mip: int = 0,
        encoding: Optional[str] = None,
        compression: Optional[str] = "gzip",
        encoding_level: Optional[int] = None,
    ) -> "Volume":
        """Bulk copy (optionally transcode) into a new volume — the
        reference's five transfer strategies (``xfer.py:59-493``)
        collapse to one scan→reencode→write plan. ``encoding_level``
        sets the destination scales' codec tuning key (jpeg_quality /
        png_level / fpzip_precision, reference ``metadata.py:807-815``)
        and drives the re-encode."""
        bbox = self._resolve_bbox(bbox_or_slices, mip)  # None = bounds
        dst_info = self.info.clone()
        dst_enc = encoding or self.info.encoding(mip)
        level_key = ENCODING_LEVEL_KEYS.get(dst_enc)
        for s in dst_info.info["scales"]:
            s["encoding"] = dst_enc
            if encoding_level is not None and level_key is not None:
                s[level_key] = int(encoding_level)
        dest = Volume.create(self.spark, dest_base, dst_info,
                             slab_shift=self.slab_shift)

        src_enc = self.info.encoding(mip)
        src_params = self.info.compression_params(mip)
        dst_params = dst_info.compression_params(mip)
        dtype = self.info.data_type
        nc = self.info.num_channels
        comp = compression or ""
        needs_transcode = (
            (dst_enc != src_enc) or ((comp or None) != None)
            or (encoding_level is not None)
        )

        def transcode(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    if (r.encoding == dst_enc and (r.compression or "") == comp
                            and encoding_level is None):
                        blob = r.blob
                        stats = r.labels_stats
                    else:
                        shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                        raw = codecs.decompress_stream(r.blob, r.compression or None)
                        arr = codecs.decode(raw, r.encoding, shape, dtype,
                                            params=src_params)
                        blob = codecs.compress_stream(
                            codecs.encode(arr, dst_enc, params=dst_params),
                            comp or None,
                        )
                        stats = r.labels_stats
                    rows.append((
                        r.mip, r.slab, r.cx, r.cy, r.cz, r.morton,
                        r.x0, r.x1, r.y0, r.y1, r.z0, r.z1,
                        dst_enc, comp, blob, stats,
                    ))
                yield pd.DataFrame(rows, columns=[f.name for f in CHUNK_SCHEMA.fields])

        out = self._pruned(bbox, mip).mapInPandas(transcode, schema=CHUNK_SCHEMA)
        dest._overwrite_slabs(out)
        return dest

    # ------------------------------------------------------------------
    # raw reads / cache views (reference frontends download_files,
    # memory_cutout; image/__init__.py:303-358, :559-601)
    # ------------------------------------------------------------------

    def download_files(self, bbox_or_slices=None, mip: int = 0) -> DataFrame:
        """Raw chunk rows for a region, blobs untouched (reference
        ``download_files`` — cache warming / transfers). Column-pruned
        scan; filename column mirrors the precomputed naming."""
        bbox = self._resolve_bbox(bbox_or_slices, mip)  # None = bounds
        return self._pruned(bbox, mip).select(
            F.concat_ws(
                "_",
                F.concat_ws("-", "x0", "x1"),
                F.concat_ws("-", "y0", "y1"),
                F.concat_ws("-", "z0", "z1"),
            ).alias("filename"),
            "cx", "cy", "cz", "morton", "encoding", "compression", "blob",
        )

    def memory_cutout(self, bbox_or_slices=None, mip: int = 0) -> DataFrame:
        """Materialized in-memory view of a region's decoded blocks —
        the ``mem://`` throwaway-volume analog (reference
        ``frontends/precomputed.py:712-747``): a cached DataFrame
        instead of a second storage backend."""
        df = self.blocks_df(bbox_or_slices, mip).persist()
        df.count()  # force materialization
        return df

    def save_images(self, bbox_or_slices=None, mip: int = 0,
                    directory: str | None = None, axis: str = "z",
                    channel: int | None = None, global_norm: bool = True,
                    image_format: str = "PNG") -> str:
        """Cutout → per-slice image export (the reference's
        ``vol[...]`` + ``save_images`` workflow, ``lib.py:1015-1118``):
        materializes the region and writes one PNG/JPEG per slice via
        :func:`cloud_volume_spark.images.save_images`; returns the
        output directory."""
        from cloud_volume_spark.images import save_images as _save

        arr = self.cutout(bbox_or_slices, mip=mip)
        return _save(
            arr, directory=directory, axis=axis, channel=channel,
            global_norm=global_norm, image_format=image_format,
        )

    def shard_stats(self, mip: int = 0) -> DataFrame:
        """Per-slab chunk counts and byte sizes from the table alone —
        the ``ShardReader.list_labels``-style index-only statistics scan
        (reference ``sharding.py:790-820``); no blob is DECODED
        (``length(blob)`` still scans the column's pages — byte-count
        without decompress/parse, not a metadata-only read)."""
        return (
            self.chunks_df()
            .where(F.col("mip") == int(mip))
            .groupBy("slab")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.length("blob")).alias("stored_bytes"),
                F.min("morton").alias("morton_lo"),
                F.max("morton").alias("morton_hi"),
            )
        )

    def table_stats(self) -> DataFrame:
        """ANALYZE TABLE analog: per-(mip, encoding, compression) chunk
        counts, stored bytes, logical voxels and slab spread from the
        chunk table alone — no decode, one partial-aggregating scan.
        The reference computes the same numbers one HEAD/list call at a
        time (``cacheservice:98``-style accounting); here the 100 TB
        answer is a single groupBy whose partial aggregates collapse
        each task to the tiny (mip × codec) key space. Logical voxels
        use the stored extents, so non-aligned edge chunks count their
        true (clipped) size."""
        vox = (
            (F.col("x1") - F.col("x0")).cast("long")
            * (F.col("y1") - F.col("y0")).cast("long")
            * (F.col("z1") - F.col("z0")).cast("long")
        )
        return (
            self.chunks_df()
            .groupBy("mip", "encoding", "compression")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.length("blob")).alias("stored_bytes"),
                F.sum(vox).alias("logical_voxels"),
                F.countDistinct("slab").alias("n_slabs"),
            )
            .orderBy("mip", "encoding", "compression")
        )

    # ------------------------------------------------------------------
    # re-chunk transfer (reference xfer rerender strategy, xfer.py:59-102)
    # ------------------------------------------------------------------

    def rechunk_to(
        self,
        dest_base: str,
        new_chunk_size: Sequence[int],
        mip: int = 0,
        compression: Optional[str] = "gzip",
    ) -> "Volume":
        """Transfer into a volume with a different chunk geometry — the
        reference's "rerender" strategy as one shuffle-on-target-cell
        job: decode each source chunk, split it across the target grid,
        groupBy target cell, assemble + encode. Scales as a single
        exchange keyed by target chunk."""
        info = self.info.clone()
        new_cs = [int(c) for c in new_chunk_size]
        for s in info.info["scales"]:
            s["chunk_sizes"] = [list(new_cs)]
        dest = Volume.create(self.spark, dest_base, info,
                             slab_shift=self.slab_shift)
        slab_shift = dest.slab_shift

        cs_to = np.asarray(new_cs)
        voff = np.asarray(info.voxel_offset(mip))
        bounds_to = info.bounds(mip)
        grid_to = [int(g) for g in info.grid_shape(mip)]
        dtype = info.data_type
        nc = info.num_channels
        seg = info.layer_type == "segmentation"
        encoding = self.info.encoding(mip)
        cparams = self.info.compression_params(mip)
        comp = compression or ""

        piece_schema = StructType([
            StructField("tcx", IntegerType(), False),
            StructField("tcy", IntegerType(), False),
            StructField("tcz", IntegerType(), False),
            StructField("x0", IntegerType(), False),
            StructField("x1", IntegerType(), False),
            StructField("y0", IntegerType(), False),
            StructField("y1", IntegerType(), False),
            StructField("z0", IntegerType(), False),
            StructField("z1", IntegerType(), False),
            StructField("blob", BinaryType(), False),
        ])

        def split_pieces(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0, nc)
                    raw = codecs.decompress_stream(r.blob, r.compression or None)
                    arr = codecs.decode(raw, r.encoding, shape, dtype,
                                        params=cparams)
                    src_bbox = Bbox((r.x0, r.y0, r.z0), (r.x1, r.y1, r.z1))
                    for (tcx, tcy, tcz) in src_bbox.grid_coords(cs_to, voff):
                        cell = Bbox.from_delta(
                            voff + np.array([tcx, tcy, tcz]) * cs_to, cs_to
                        ).clamp(bounds_to)
                        inter = Bbox.intersection(cell, src_bbox)
                        if inter.empty():
                            continue
                        lo = np.asarray(inter.minpt) - np.asarray(src_bbox.minpt)
                        hi = np.asarray(inter.maxpt) - np.asarray(src_bbox.minpt)
                        piece = np.ascontiguousarray(
                            arr[lo[0]:hi[0], lo[1]:hi[1], lo[2]:hi[2], :]
                            .transpose()
                        ).tobytes()
                        rows.append((
                            int(tcx), int(tcy), int(tcz),
                            int(inter.minpt[0]), int(inter.maxpt[0]),
                            int(inter.minpt[1]), int(inter.maxpt[1]),
                            int(inter.minpt[2]), int(inter.maxpt[2]),
                            piece,
                        ))
                yield pd.DataFrame(
                    rows, columns=[f.name for f in piece_schema.fields]
                )

        def assemble_cell(key, pdf):
            tcx, tcy, tcz = (int(k) for k in key)
            cell = Bbox.from_delta(
                voff + np.array([tcx, tcy, tcz]) * cs_to, cs_to
            ).clamp(bounds_to)
            out = np.zeros(tuple(cell.size3()) + (nc,), dtype=dtype)
            for r in pdf.itertuples(index=False):
                pb = Bbox((r.x0, r.y0, r.z0), (r.x1, r.y1, r.z1))
                pshape = tuple(pb.size3()) + (nc,)
                arr = np.frombuffer(r.blob, dtype=dtype).reshape(
                    pshape[::-1]
                ).transpose()
                shade(out, cell, arr, pb)
            blob = codecs.compress_stream(
                codecs.encode(out, encoding, params=cparams), comp or None)
            if seg:
                uniq = np.unique(out)
                stats = _stats_list(uniq)
            else:
                stats = None
            morton = int(compressed_morton_code((tcx, tcy, tcz), grid_to))
            return pd.DataFrame([(
                int(mip), _slab_of(morton, slab_shift), tcx, tcy, tcz,
                morton,
                int(cell.minpt[0]), int(cell.maxpt[0]),
                int(cell.minpt[1]), int(cell.maxpt[1]),
                int(cell.minpt[2]), int(cell.maxpt[2]),
                encoding, comp, blob, stats,
            )], columns=[f.name for f in CHUNK_SCHEMA.fields])

        src = self.chunks_df().where(F.col("mip") == int(mip))
        pieces = src.mapInPandas(split_pieces, schema=piece_schema)
        out = pieces.groupBy("tcx", "tcy", "tcz").applyInPandas(
            assemble_cell, CHUNK_SCHEMA
        )
        dest._overwrite_slabs(out)
        return dest
