"""``batch_etl``: one bulk pass early in a session. Bulk volume ETL at the
reference benchmark's chunk geometry (256x256x50 chunks, gzip, raw
encoding): write an image and a segmentation volume from pre-built
blocks, read both back whole, ``unique`` and a (2,2,1) downsample of the
segmentation, a spatial-index build and a precomputed annotation
export. Then one pass of registered operator queries (``queries.py``)."""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench import gen
from perfbench.harness import Phases, check_equal
from perfbench.queries import QuerySet

SHAPE = (512, 512, 100)
CHUNK = (256, 256, 50)
N_POINTS = 100_000
N_LABELS = 2_000
N_ANNOTATIONS = 10_000
INDEX_CELL = (128, 128, 50)
ANN_CELL = (128, 128, 50)


class BatchEtl:
    name = "batch_etl"
    # one pass, every op once: wall_s is the sum of the op times
    wall_by = "name"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.pass_index = 0        # seeks back for the overhead replay
        self.runs = 0              # pass directories, never reused
        self.phases = Phases()
        self.queries = QuerySet(work, seed)
        self.last = None

    def generate(self) -> None:
        """Every input, the numpy expectations and the oracle digests,
        from the seed, before the session starts."""
        with self.phases("generate"):
            self.img = gen.image_volume(gen.rng_for(self.seed, "image"), SHAPE)
            self.seg = gen.seg_volume(gen.rng_for(self.seed, "seg"), SHAPE)
            self.img_blocks = os.path.join(self.work, "img_blocks.parquet")
            self.seg_blocks = os.path.join(self.work, "seg_blocks.parquet")
            gen.write_blocks(self.img, CHUNK, self.img_blocks)
            gen.write_blocks(self.seg, CHUNK, self.seg_blocks)
            self.seg_unique = np.flatnonzero(np.bincount(self.seg.ravel()))
            self.seg_mip1 = self.seg[::2, ::2, :]
            self.labels, self.xyz = gen.labeled_points(
                gen.rng_for(self.seed, "points"), N_POINTS, SHAPE, N_LABELS)
            self.points_path = os.path.join(self.work, "points.parquet")
            gen.write_points(self.labels, self.xyz, self.points_path)
            self.probe_label = int(self.labels[0])
            ann = gen.point_annotations(gen.rng_for(self.seed, "ann"),
                                        N_ANNOTATIONS, SHAPE)
            self.ann_path = os.path.join(self.work, "ann.parquet")
            gen.write_table(ann, self.ann_path)
            self.logical_bytes = self.img.nbytes + self.seg.nbytes
        with self.phases("query_tables_and_oracle"):
            self.queries.generate()

    def setup(self, spark, tag: str) -> None:
        """The engine's set-up, into a fresh directory ``tag``: write the
        annotation layer the export reads. Run several times; the last
        layer is exported."""
        from cloud_volume_spark.annotations import AnnotationLayer

        self.spark = spark
        with self.phases("annotation_write"):
            self.layer = AnnotationLayer(
                spark, os.path.join(self.work, tag, "ann_layer"),
                annotation_type="POINT", grid_cell=ANN_CELL)
            self.layer.write(spark.read.parquet(self.ann_path))

    def ready(self) -> None:
        pass

    def warm_up(self, rec) -> None:
        """No warm-up: the pass is a batch job run once, early in a
        session, first-use costs included."""

    def position(self) -> int:
        return self.pass_index

    def seek(self, pos: int) -> None:
        """Replay from pass ``pos``: the same ops and query order."""
        self.pass_index = pos

    def _volume(self, path, dtype, layer_type):
        from cloud_volume_spark import Volume, VolumeInfo

        info = VolumeInfo.create(
            layer_type=layer_type, data_type=dtype, num_channels=1,
            resolution=(1, 1, 1), voxel_offset=(0, 0, 0), volume_size=SHAPE,
            chunk_size=CHUNK, encoding="raw")
        return Volume.create(self.spark, path, info)

    def run_pass(self, rec) -> None:
        from cloud_volume_spark import Bbox, SpatialIndex
        from cloud_volume_spark.annotation_io import export_precomputed

        p = self.runs
        self.runs += 1
        pdir = os.path.join(self.work, f"pass{p}")
        spark = self.spark
        box = Bbox((0, 0, 0), SHAPE)

        def write(name, dtype, lt, blocks):
            def fn():
                vol = self._volume(os.path.join(pdir, name), dtype, lt)
                vol.write_blocks_df(spark.read.parquet(blocks), mip=0,
                                    compression="gzip")
                return vol
            return fn

        vi = rec.run("write_image", "write", "volume",
                     write("img", "uint8", "image", self.img_blocks))
        vs = rec.run("write_seg", "write", "volume",
                     write("seg", "uint16", "segmentation", self.seg_blocks))
        if vi is not None:
            rec.run("read_image", "read", "volume", lambda: vi.cutout(box),
                    lambda a: check_equal(a[..., 0], self.img, "image"))
        if vs is not None:
            rec.run("read_seg", "read", "volume", lambda: vs.cutout(box),
                    lambda a: check_equal(a[..., 0], self.seg, "seg"))
            rec.run("unique", "unique", "volume",
                    lambda: vs.unique().toPandas(),
                    lambda df: check_equal(np.sort(df.iloc[:, 0].to_numpy()),
                                           self.seg_unique, "unique"))
            rec.run("downsample", "downsample", "volume",
                    lambda: vs.downsample(0, (2, 2, 1)),
                    lambda _: check_equal(
                        vs.cutout(Bbox((0, 0, 0), self.seg_mip1.shape),
                                  mip=1)[..., 0],
                        self.seg_mip1, "downsample"))

        def build_index():
            si = SpatialIndex(spark, os.path.join(pdir, "si"),
                              cell_size=INDEX_CELL)
            si.build_from_points(spark.read.parquet(self.points_path))
            return si

        rec.run("index_build", "index_build", "spatial_index", build_index,
                self._check_index)
        st = rec.run("export", "export", "annotation_io",
                     lambda: export_precomputed(
                         self.layer, os.path.join(pdir, "ann_export")),
                     lambda st: None if st.get("annotations") == N_ANNOTATIONS
                     else f"exported {st.get('annotations')} of {N_ANNOTATIONS}")
        self.queries.run_pass(rec, spark, self.pass_index)
        self.pass_index += 1
        self.last = {"img": vi, "seg": vs, "si_dir": os.path.join(pdir, "si"),
                     "export": st}
        if p > 0:
            shutil.rmtree(os.path.join(self.work, f"pass{p - 1}"),
                          ignore_errors=True)

    def _check_index(self, si):
        lab = self.probe_label
        sel = self.xyz[self.labels == lab]
        want = (tuple(sel.min(0).astype(float)), tuple(sel.max(0).astype(float)))
        got = si.get_bbox(lab)
        have = (tuple(map(float, got.minpt)), tuple(map(float, got.maxpt)))
        return None if have == want else f"label {lab}: bbox {have} != {want}"

    def layer_facts(self) -> dict:
        """Storage-side per-layer figures of the last pass, read after the
        timed loop."""
        if not self.last:
            return {}
        last, out = self.last, {}
        out["volume.stored_bytes_ratio"] = sum(
            dir_bytes(v.chunks_path) for v in (last["img"], last["seg"])
            if v is not None) / self.logical_bytes
        if last["img"] is not None:
            # the image volume saw exactly one write (seg also downsampled)
            out["volume.files_per_write"] = dir_files(last["img"].chunks_path)
        if last["seg"] is not None:
            out["volume.generations_end"] = len(last["seg"].history())
        out["spatial_index.index_mb"] = dir_bytes(last["si_dir"]) / 1e6
        if last["export"]:
            out["annotation_io.cells"] = last["export"]["cells"]
        return out

    def report(self, rec) -> dict:
        """The workload's named end-to-end figures: medians over passes,
        with the pass count."""
        from perfbench.stats import median

        s = rec.by_name
        n = self.runs
        mb = self.logical_bytes / 1e6
        med = {k: median(v) for k, v in s.items()}
        out = {}
        if "write_image" in med and "write_seg" in med:
            out["write_mb_s"] = (mb / (med["write_image"] + med["write_seg"]),
                                 "MB/s", n)
        if "read_image" in med and "read_seg" in med:
            out["read_mb_s"] = (mb / (med["read_image"] + med["read_seg"]),
                                "MB/s", n)
        for key, name in (("unique_s", "unique"),
                          ("downsample_s", "downsample")):
            if name in med:
                out[key] = (med[name], "s", len(s[name]))
        if "index_build" in med and "export" in med:
            out["index_build_s"] = (med["index_build"] + med["export"], "s", n)
        out.update(self.queries.report(rec))
        return out


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(path) for f in fs)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)
