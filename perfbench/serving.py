"""``volume_serving``: interactive random access to a 64^3-chunk
segmentation volume with the driver LRU on, point writes beside the
reads, and spatial-index / annotation lookups."""

from __future__ import annotations

import os

import numpy as np

from perfbench import gen
from perfbench.etl import dir_bytes
from perfbench.harness import Phases, check_equal, rchar

SHAPE = (256, 256, 192)
CHUNK = (64, 64, 64)
CUTOUT = (128, 128, 64)
LRU_SHARE = 0.25          # LRU byte budget / encoded chunk bytes
# one pass: the op mix in a seeded order (67.5% point reads, 20% cutouts,
# 5% uploads, 7.5% lookups), fixed per pass so passes are comparable
PASS_MIX = {"point_read": 27, "cutout": 8, "upload": 2, "lookup": 3}
LOOKUPS = ("get_bbox", "query", "ann_bbox")
# Zipf exponent of the hot half of the point reads, over the 48 chunk
# ranks (bounded: p(rank k) ~ k^-ZIPF_A). An unverified choice, not taken
# from a trace: it puts ~82% of the Zipf half (~53% of all point reads)
# on the top quarter of the ranks; each run reports the share it produced.
ZIPF_A = 1.3
N_POINTS = 100_000
N_LABELS = 1_000
N_ANNOTATIONS = 20_000
INDEX_CELL = (128, 128, 64)
ANN_CELL = (128, 128, 64)
LOOKUP_BOX = (96, 96, 48)
# rchar (this process) below which a point read counts as an LRU hit: a hit
# reads ~120 B (the /proc/self/io probe itself), a miss at least the
# chunk's blob (~3 KB gzip); measured misses read ~270 KB (manifest
# resolve and parquet footers)
HIT_RCHAR = 1024


def schedule(seed: int, n_passes: int):
    """The seeded op list, ``n_passes`` passes of ``(kind, args)``, and the
    seeded chunk ranking (chunk ids, hottest first). Point reads are half
    bounded Zipf over that ranking (hot chunks), half uniform over the
    volume."""
    rng = gen.rng_for(seed, "schedule")
    grid = [s // c for s, c in zip(SHAPE, CHUNK)]
    n_chunks = int(np.prod(grid))
    rank = rng.permutation(n_chunks)
    zipf_p = zipf_weights(n_chunks, ZIPF_A)
    kinds = [k for k, n in PASS_MIX.items() for _ in range(n)]
    ops = []
    for _ in range(n_passes):
        ops += _pass_ops(rng, [kinds[i] for i in rng.permutation(len(kinds))],
                         grid, rank, zipf_p)
    return ops, rank


def zipf_weights(n: int, a: float) -> np.ndarray:
    """Bounded Zipf: probability of rank ``k`` (1..n) proportional to
    ``k**-a``."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -a
    return w / w.sum()


def _cutout_lo(rng) -> tuple:
    """An unaligned corner: a chunk-grid point plus 1..CHUNK-1 per axis, so
    every cutout touches the same number of chunks (3x3x2)."""
    lo = []
    for a in range(3):
        starts = (SHAPE[a] - CUTOUT[a] - 1) // CHUNK[a] + 1
        lo.append(int(rng.integers(0, starts)) * CHUNK[a]
                  + int(rng.integers(1, CHUNK[a])))
    return tuple(lo)


def _pass_ops(rng, kinds, grid, rank, zipf_p) -> list:
    ops, n_lookup = [], 0
    for kind in kinds:
        if kind == "point_read":
            if rng.random() < 0.5:
                c = int(rank[rng.choice(len(rank), p=zipf_p)])
                cxyz = np.unravel_index(c, grid)
                xyz = [int(cxyz[a] * CHUNK[a] + rng.integers(0, CHUNK[a]))
                       for a in range(3)]
            else:
                xyz = [int(rng.integers(0, SHAPE[a])) for a in range(3)]
            ops.append((kind, tuple(xyz)))
        elif kind == "cutout":
            ops.append((kind, _cutout_lo(rng)))
        elif kind == "upload":
            c = [int(rng.integers(0, g)) for g in grid]
            ops.append((kind, (tuple(a * s for a, s in zip(c, CHUNK)),
                               int(rng.integers(0, 2**31)))))
        else:
            which = LOOKUPS[n_lookup % len(LOOKUPS)]
            n_lookup += 1
            lo = [int(rng.integers(0, SHAPE[a] - LOOKUP_BOX[a]))
                  for a in range(3)]
            ops.append((kind, (which, tuple(lo),
                               int(rng.integers(1, N_LABELS + 1)))))
    return ops


def chunk_of(xyz) -> int:
    """Flat chunk id of a voxel, in the ranking's numbering."""
    grid = [s // c for s, c in zip(SHAPE, CHUNK)]
    return int(np.ravel_multi_index(
        [int(v) // c for v, c in zip(xyz, CHUNK)], grid))


class VolumeServing:
    name = "volume_serving"
    # wall_s pools samples by op class: the three lookup kinds run once
    # per pass each, so a per-kind median would rest on 3-4 samples
    wall_by = "cls"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.next_op = 0
        self.point_reads = []      # (chunk id, rchar delta) per point read
        self.phases = Phases()

    def generate(self) -> None:
        """Every input, from the seed, before the session starts."""
        with self.phases("generate"):
            self.mirror = gen.seg_volume(gen.rng_for(self.seed, "seg"), SHAPE,
                                         cell=(16, 16, 16))
            self.labels, self.xyz = gen.labeled_points(
                gen.rng_for(self.seed, "points"), N_POINTS, SHAPE, N_LABELS)
            self.envelopes = cell_envelopes(self.labels, self.xyz, INDEX_CELL)
            self.points_path = os.path.join(self.work, "points.parquet")
            gen.write_points(self.labels, self.xyz, self.points_path)
            self.ann = gen.point_annotations(gen.rng_for(self.seed, "ann"),
                                             N_ANNOTATIONS, SHAPE)
            self.ann_path = os.path.join(self.work, "ann.parquet")
            gen.write_table(self.ann, self.ann_path)
            self.ops, rank = schedule(self.seed, 200)
            n_hot = int(len(rank) * LRU_SHARE)
            self.hot = set(int(c) for c in rank[:n_hot])

    def setup(self, spark, tag: str) -> None:
        """The engine's set-up, into a fresh directory ``tag``: ingest the
        volume, build the spatial index and write the annotation layer.
        Run several times; the last one serves the ops."""
        from cloud_volume_spark import SpatialIndex, Volume
        from cloud_volume_spark.annotations import AnnotationLayer

        ph, base = self.phases, os.path.join(self.work, tag)
        with ph("ingest"):
            self.vol = Volume.from_numpy(
                spark, self.mirror, os.path.join(base, "seg"),
                chunk_size=CHUNK, encoding="raw", layer_type="segmentation",
                compression="gzip")
        with ph("index_build"):
            self.si_dir = os.path.join(base, "si")
            self.index = SpatialIndex(spark, self.si_dir, cell_size=INDEX_CELL)
            self.index.build_from_points(spark.read.parquet(self.points_path))
        with ph("annotation_write"):
            self.layer = AnnotationLayer(
                spark, os.path.join(base, "ann_layer"),
                annotation_type="POINT", grid_cell=ANN_CELL)
            self.layer.write(spark.read.parquet(self.ann_path))

    def ready(self) -> None:
        """After the timed set-up: size the LRU from the encoded chunk
        bytes (blob lengths plus the LRU's 64 B per entry) and turn it on."""
        with self.phases("lru_sizing"):
            st = self.vol.table_stats().collect()
            self.blob_bytes = int(sum(r["stored_bytes"] for r in st))
            self.n_chunks = int(sum(r["n_chunks"] for r in st))
            self.disk_bytes = dir_bytes(self.vol.chunks_path)
        self.lru_bytes = int((self.blob_bytes + 64 * self.n_chunks) * LRU_SHARE)
        self.vol.enable_lru(self.lru_bytes)

    def warm_up(self, rec) -> None:
        """One pass before the clock starts. The first uses of the upload
        and lookup jobs run 1.5-3x slower than later ones, and a run
        measures only three to five passes, so leaving them in would let
        the pass count move the medians. The pass's ops are checked like
        any other (``rec`` counts them), but are in no latency figure."""
        self.run_pass(rec)
        self.point_reads.clear()

    def position(self) -> int:
        return self.next_op

    def seek(self, pos: int) -> None:
        """Replay the schedule from ``pos`` (the tracing-overhead loops)."""
        self.next_op = pos

    # -- ops ---------------------------------------------------------------

    def run_pass(self, rec) -> None:
        for _ in range(sum(PASS_MIX.values())):
            kind, args = self.ops[self.next_op % len(self.ops)]
            self.next_op += 1
            getattr(self, f"_{kind}")(rec, args)

    def _point_read(self, rec, xyz):
        r0 = rchar()
        rec.run("point_read", "point_read", "volume",
                lambda: self.vol.read_voxel(xyz),
                lambda v: check_equal(v[0], self.mirror[xyz], "voxel"))
        self.point_reads.append((chunk_of(xyz), rchar() - r0))

    def _cutout(self, rec, lo):
        from cloud_volume_spark import Bbox

        hi = tuple(a + s for a, s in zip(lo, CUTOUT))
        want = self.mirror[lo[0]:hi[0], lo[1]:hi[1], lo[2]:hi[2]]
        rec.run("cutout", "cutout", "volume",
                lambda: self.vol.cutout(Bbox(lo, hi)),
                lambda a: check_equal(a[..., 0], want, "cutout"))

    def _upload(self, rec, args):
        lo, salt = args
        block = gen.seg_volume(np.random.default_rng(salt), CHUNK,
                               cell=(16, 16, 16))

        def fn():
            self.vol.upload(block, offset=lo)
            return True

        if rec.run("upload", "upload", "volume", fn) is not None:
            hi = [a + s for a, s in zip(lo, CHUNK)]
            self.mirror[lo[0]:hi[0], lo[1]:hi[1], lo[2]:hi[2]] = block

    def _lookup(self, rec, args):
        from cloud_volume_spark import Bbox

        which, lo, label = args
        hi = tuple(a + s for a, s in zip(lo, LOOKUP_BOX))
        box = Bbox(lo, hi)
        if which == "get_bbox":
            rec.run("si_get_bbox", "lookup", "spatial_index",
                    lambda: self.index.get_bbox(label),
                    lambda b: self._check_bbox(label, b))
        elif which == "query":
            rec.run("si_query", "lookup", "spatial_index",
                    lambda: self.index.query(box).toPandas(),
                    lambda df: check_equal(
                        np.sort(df["label"].to_numpy()),
                        self._labels_in(lo, hi), "si_query"))
        else:
            rec.run("ann_get_by_bbox", "lookup", "annotations",
                    lambda: self.layer.get_by_bbox(box).toPandas(),
                    lambda df: check_equal(
                        np.sort(df["id"].to_numpy()),
                        self._ann_in(lo, hi), "ann_get_by_bbox"))

    # -- numpy oracles over the generated points ------------------------------

    def _check_bbox(self, label, got):
        sel = self.xyz[self.labels == label]
        if not len(sel):
            return f"label {label} has no points but returned {got}"
        want = (tuple(sel.min(0).astype(float)), tuple(sel.max(0).astype(float)))
        have = (tuple(map(float, got.minpt)), tuple(map(float, got.maxpt)))
        return None if have == want else f"label {label}: {have} != {want}"

    def _labels_in(self, lo, hi):
        """Labels whose per-cell point envelope meets the box, the index's
        exact-query semantics."""
        lab, mn, mx = self.envelopes
        hit = np.all((mn < np.asarray(hi)) & (mx >= np.asarray(lo)), axis=1)
        return np.unique(lab[hit])

    def _ann_in(self, lo, hi):
        pts = np.column_stack([self.ann["x"], self.ann["y"], self.ann["z"]])
        hit = np.all((pts >= np.asarray(lo)) & (pts < np.asarray(hi)), axis=1)
        return self.ann["id"][hit]

    # -- reporting ---------------------------------------------------------

    def layer_facts(self) -> dict:
        reads = [r for _, r in self.point_reads]
        return {
            "volume.generations_end": len(self.vol.history()),
            "volume.stored_bytes_ratio": self.disk_bytes / self.mirror.nbytes,
            "volume.driver_read_bytes_per_point_read":
                float(np.mean(reads)) if reads else 0.0,
            "volume.lru_hit_ratio":
                self.cache_figures().get("lru_hit_ratio", (0.0,))[0],
            "spatial_index.index_mb": dir_bytes(self.si_dir) / 1e6,
        }

    def cache_figures(self) -> dict:
        """Share of point reads that landed in the hot chunks (the top
        quarter of the ranking), and the LRU hit ratio: a hit reads no
        storage, so this process's rchar over the call stays below
        ``HIT_RCHAR`` (a miss reads at least the chunk's blob)."""
        n = len(self.point_reads)
        if not n:
            return {}
        hot = sum(c in self.hot for c, _ in self.point_reads)
        hits = sum(r < HIT_RCHAR for _, r in self.point_reads)
        return {"hot_share": (hot / n, "ratio", n),
                "lru_hit_ratio": (hits / n, "ratio", n)}

    def report(self, rec) -> dict:
        from perfbench.stats import summarize

        out = {}
        names = {"point_read": "point_read", "cutout": "cutout",
                 "commit": "upload", "lookup": "lookup"}
        for key, cls in names.items():
            s = summarize([v * 1e3 for v in rec.samples.get(cls, [])])
            for q in ("p50", "p90"):
                if q in s and not (key in ("commit", "lookup") and q == "p90"):
                    out[f"{key}_{q}_ms"] = (s[q], "ms", s["n"])
        out.update(self.cache_figures())
        out["lru_budget_bytes"] = (self.lru_bytes, "B")
        out["encoded_chunk_bytes"] = (self.blob_bytes, "B")
        out["encoded_chunks"] = (self.n_chunks, "count")
        return out


def cell_envelopes(labels, xyz, cell):
    """``(label, min, max)`` of the points of each (label, grid cell)."""
    key = np.column_stack([labels, np.floor_divide(xyz, cell)])
    _, inv = np.unique(key, axis=0, return_inverse=True)
    inv = inv.ravel()
    n = inv.max() + 1
    mn = np.full((n, 3), np.inf)
    mx = np.full((n, 3), -np.inf)
    np.minimum.at(mn, inv, xyz)
    np.maximum.at(mx, inv, xyz)
    lab = np.zeros(n, dtype=np.int64)
    lab[inv] = labels
    return lab, mn, mx


