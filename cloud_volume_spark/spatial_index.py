"""Distributed spatial index — the replacement for the reference's
JSON-files-plus-SQL-database design.

The reference maintains ``(label → covering index-cell files)`` as
``.spatial`` JSON per grid cell, optionally bulk-loaded into
SQLite/MySQL/Postgres (``datasource/precomputed/spatial_index.py:248``,
SQL schema :421-452, query :837-923). Its own docstring reports the
pain: ~140k index files → >1 h build, 42 GB database (:680-684).

Here the index is one DataFrame:

    spatial_index(label LONG, gx INT, gy INT, gz INT,
                  x0 DOUBLE, y0 DOUBLE, z0 DOUBLE,
                  x1 DOUBLE, y1 DOUBLE, z1 DOUBLE)

one row per (label, covering cell) with that label's bbox within the
cell. Build = a groupBy over the source table (seconds, distributed).
The lookups are client-side, as in the reference: ``query`` (cell
filter + exact filter + distinct) and ``get_bbox`` (min/max) read the
index files on the driver with pyarrow, pruning row groups on the
sorted cell columns, and run no Spark job. ``df``, ``all_labels`` and
``file_locations_per_label`` stay distributed.
"""

from __future__ import annotations

import math
import os
import re
from typing import Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from cloud_volume_spark.fs import PathOps, is_local, parquet_files, read_parquet
from cloud_volume_spark.geometry import Bbox


class SpatialIndex:
    """``cell_size``/``grid_origin`` define the grid: cell ``g`` covers
    ``[origin + g*cs, origin + (g+1)*cs)`` per axis. The reference
    anchors its grid at the dataset's ``physical_bounds.minpt``
    (reference ``spatial_index.py:367``), NOT at zero — indexes
    imported from offset datasets carry their origin here. Both
    parameters persist in a ``_spatial_meta.json`` sidecar written by
    every build/import; reopening with explicit values that contradict
    the sidecar raises instead of silently querying the wrong grid."""

    def __init__(self, spark: SparkSession, base_path: str,
                 cell_size: Sequence[float] = None,
                 grid_origin: Sequence[float] = None):
        from cloud_volume_spark.paths import resolve_cloudpath

        self.spark = spark
        self.base_path = resolve_cloudpath(base_path)
        meta = self._load_meta()
        self.cell_size = self._resolve(
            "cell_size", cell_size, meta, (128.0, 128.0, 128.0))
        self.grid_origin = self._resolve(
            "grid_origin", grid_origin, meta, (0.0, 0.0, 0.0))
        # import-time name-fidelity facts (reference round-tripping):
        # whether the source rendered coordinates float-style, and the
        # per-axis clamp the reference applies to edge-cell names
        self.float_names = bool((meta or {}).get("float_names", False))
        bm = (meta or {}).get("bounds_max")
        self.bounds_max = tuple(float(v) for v in bm) if bm else None

    @property
    def meta_path(self) -> str:
        return os.path.join(self.base_path, "_spatial_meta.json")

    def _ops(self):
        # PathOps, not raw open(): the index data already reads/writes
        # through Spark (remote URIs work), so the sidecar must ride the
        # same store layer — a gs://-rooted index would otherwise get
        # its grid facts written to a LOCAL './gs:/...' dir and a
        # reopen elsewhere would silently fall back to the default
        # grid, the exact wrong-grid failure the sidecar exists to stop
        return PathOps(self.base_path, spark=self.spark)

    def _load_meta(self):
        import json as _json

        try:
            ops = self._ops()
            if not ops.exists(self.meta_path):
                return None
            return _json.loads(ops.read_bytes(self.meta_path))
        except (OSError, ValueError):
            return None

    @staticmethod
    def _resolve(key, explicit, meta, default):
        stored = tuple(float(v) for v in meta[key]) if (
            meta and key in meta) else None
        if explicit is not None:
            explicit = tuple(float(v) for v in explicit)
            if stored is not None and stored != explicit:
                raise ValueError(
                    f"spatial index {key} mismatch: stored {stored}, "
                    f"caller passed {explicit} — the stored grid is a "
                    "fact of the data; reopen without the argument")
            return explicit
        return stored if stored is not None else default

    def _write_meta(self) -> None:
        import json as _json

        ops = self._ops()
        ops.makedirs(self.base_path)
        meta = {"cell_size": list(self.cell_size),
                "grid_origin": list(self.grid_origin),
                "float_names": self.float_names}
        if self.bounds_max is not None:
            meta["bounds_max"] = list(self.bounds_max)
        ops.write_bytes(self.meta_path,
                        _json.dumps(meta).encode("utf-8"))

    @property
    def data_path(self) -> str:
        return os.path.join(self.base_path, "spatial_index")

    # ---- build (replaces to_sql/to_sqlite..., :385-696) ---------------

    def build_from_points(self, df: DataFrame, label_col: str = "label",
                          x: str = "x", y: str = "y", z: str = "z") -> None:
        """Index any point-shaped table (voxels, annotation points,
        skeleton vertices): one groupBy produces the whole index."""
        cs, og = self.cell_size, self.grid_origin
        cells = df.select(
            F.col(label_col).cast("long").alias("label"),
            F.col(x).cast("double").alias("px"),
            F.col(y).cast("double").alias("py"),
            F.col(z).cast("double").alias("pz"),
        ).withColumns({
            "gx": F.floor((F.col("px") - og[0]) / cs[0]).cast("int"),
            "gy": F.floor((F.col("py") - og[1]) / cs[1]).cast("int"),
            "gz": F.floor((F.col("pz") - og[2]) / cs[2]).cast("int"),
        })
        index = cells.groupBy("label", "gx", "gy", "gz").agg(
            F.min("px").alias("x0"), F.min("py").alias("y0"),
            F.min("pz").alias("z0"),
            F.max("px").alias("x1"), F.max("py").alias("y1"),
            F.max("pz").alias("z1"),
        )
        (
            index.repartitionByRange("gz", "gy", "gx")
            .sortWithinPartitions("gz", "gy", "gx", "label")
            .write.mode("overwrite").parquet(self.data_path)
        )
        self._write_meta()

    def df(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path)

    # ---- queries (reference :697-923) ---------------------------------

    def _read(self, columns: list, filters: list) -> pa.Table:
        ops = self._ops()
        return read_parquet(ops, parquet_files(ops, self.data_path),
                            columns, filters)

    def _cell_filters(self, bbox: Bbox) -> list:
        cs, og = self.cell_size, self.grid_origin
        lo = [int(math.floor((float(v) - og[i]) / cs[i]))
              for i, v in enumerate(bbox.minpt)]
        # exclusive max → last intersecting cell is ceil(v/cs)-1: the
        # old int((x1-1)//cs) assumed integer coords and dropped the
        # final cell for fractional maxpts (the index stores DOUBLEs)
        hi = [int(math.ceil((float(v) - og[i]) / cs[i])) - 1
              for i, v in enumerate(bbox.maxpt)]
        return [f for i, g in enumerate(("gx", "gy", "gz"))
                for f in ((g, ">=", lo[i]), (g, "<=", hi[i]))]

    def query(self, bbox: Bbox, exact: bool = True) -> DataFrame:
        """Labels intersecting the box (``query``, :837-923): cell
        filter → optional per-label bbox intersection test → distinct,
        on the driver; returned as a one-column ``label`` DataFrame."""
        filters = self._cell_filters(bbox)
        if exact:
            for i, a in enumerate("xyz"):
                filters += [(f"{a}0", "<", float(bbox.maxpt[i])),
                            (f"{a}1", ">=", float(bbox.minpt[i]))]
        labels = self._read(["label"], filters)["label"]
        return self.spark.createDataFrame(
            pa.table({"label": pc.unique(labels)}))

    def file_locations_per_label(self, labels: Iterable[int]) -> DataFrame:
        """Inverse index (:763-835): label → covering cells."""
        return (
            self.df()
            .where(F.col("label").isin([int(l) for l in labels]))
            .groupBy("label")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("gx", "gy", "gz"))
                ).alias("cells"),
                F.count(F.lit(1)).alias("n_cells"),
            )
        )

    def get_bbox(self, label: int) -> Bbox:
        """Union envelope of a label's per-cell bboxes (:697-761),
        computed on the driver."""
        t = self._read(["x0", "y0", "z0", "x1", "y1", "z1"],
                       [("label", "==", int(label))])
        lo = [pc.min(t[f"{a}0"]).as_py() for a in "xyz"]
        hi = [pc.max(t[f"{a}1"]).as_py() for a in "xyz"]
        if lo[0] is None:
            raise KeyError(f"label {label} not in spatial index")
        return Bbox(lo, hi, dtype=np.float64)

    def all_labels(self) -> DataFrame:
        """Whole-dataset fast path (:857-888) — plain distinct."""
        return self.df().select("label").distinct()


def _cell_filename(gx: int, gy: int, gz: int, cs, og, bmax,
                   float_names: bool) -> str:
    """Reference-format cell filename for grid cell (gx, gy, gz).

    Matches the reference's Bbox.to_filename (lib.py:584-601): plain
    str() of the coordinate in the bounds' own dtype — integral values
    render bare for int-dtype bounds and as '8192.0' for float-dtype
    bounds (non-integer resolutions); an imported index remembers
    which style its source used (float_names). A ':g' format would
    switch to 6-significant-digit scientific notation at >= 1e6
    ('1.00762e+06' for 1007616), producing names the reference's
    exact-string lookups could never match. Edge-cell names clamp to
    the dataset's physical bounds.maxpt (reference
    spatial_index.py:379-381), carried in bounds_max."""
    def fmt(v) -> str:
        fv = float(v)
        if float_names:
            return str(fv)
        return str(int(fv)) if fv == int(fv) else repr(fv)

    def axis_hi(g: int, i: int) -> float:
        hi = og[i] + (g + 1) * cs[i]
        return min(hi, bmax[i]) if bmax is not None else hi

    return (
        f"{fmt(og[0] + gx * cs[0])}-{fmt(axis_hi(gx, 0))}_"
        f"{fmt(og[1] + gy * cs[1])}-{fmt(axis_hi(gy, 1))}_"
        f"{fmt(og[2] + gz * cs[2])}-{fmt(axis_hi(gz, 2))}.spatial"
    )


def export_spatial_files(index: SpatialIndex, out_dir: str) -> int:
    """Write the parquet index back out as reference-format ``.spatial``
    JSON files (one per grid cell, ``{label: [x0,y0,z0,x1,y1,z1]}``,
    named by the cell's physical range) — the files the reference's
    own readers and SQL bulk-loaders consume. Returns the cell count.

    Two write strategies by target:

    - scheme-less local dir: one applyInPandas group per cell writes
      its file executor-parallel (single-machine semantics — in
      local mode every executor shares the filesystem).
    - any ``scheme://`` URI (``file://`` included): the grouped cells
      stream to the DRIVER (``toLocalIterator`` — one cell in memory
      at a time) and write through :class:`~cloud_volume_spark.fs.
      PathOps`' Hadoop branch. Executor-side ``open()`` against a
      joined URI would land each cell in a stray local dir on
      whichever machine ran the task — the exact remote-sidecar bug
      class this module already fixed for ``_spatial_meta.json``; a
      driver-serial write is the correct (and reference-parity:
      the reference writes these serially too) shape for a
      small-files interop format."""
    import json as _json

    cs, og = index.cell_size, index.grid_origin
    bmax = index.bounds_max
    float_names = index.float_names

    if not is_local(out_dir):
        ops = PathOps(out_dir, index.spark)
        ops.makedirs(out_dir)
        grouped = (
            index.df().groupBy("gx", "gy", "gz")
            .agg(F.sort_array(F.collect_list(F.struct(
                "label", "x0", "y0", "z0", "x1", "y1", "z1")))
                .alias("rows"))
        )
        n_cells = 0
        for row in grouped.toLocalIterator():
            name = _cell_filename(int(row["gx"]), int(row["gy"]),
                                  int(row["gz"]), cs, og, bmax,
                                  float_names)
            data = {
                str(int(r["label"])): [r["x0"], r["y0"], r["z0"],
                                       r["x1"], r["y1"], r["z1"]]
                for r in row["rows"]
            }
            ops.write_bytes(f"{out_dir}/{name}",
                            _json.dumps(data).encode("utf-8"))
            n_cells += 1
        return n_cells

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)

    def write_cell(keyvals, pdf):
        gx, gy, gz = (int(k) for k in keyvals)
        name = _cell_filename(gx, gy, gz, cs, og, bmax, float_names)
        data = {
            str(int(r.label)): [r.x0, r.y0, r.z0, r.x1, r.y1, r.z1]
            for r in pdf.itertuples(index=False)
        }
        with open(os.path.join(out_dir, name), "w") as f:
            _json.dump(data, f)
        return pd.DataFrame({"cell": [name], "n": [len(pdf)]})

    return int(
        index.df().groupBy("gx", "gy", "gz")
        .applyInPandas(write_cell, schema="cell string, n long")
        .count()
    )


def import_spatial_files(spark: SparkSession, src_dir: str,
                         base_path: str) -> SpatialIndex:
    """Ingest a foreign directory of reference ``.spatial`` JSON files
    into the parquet index.

    Each file is ``{label: [x0,y0,z0,x1,y1,z1]}`` and its name encodes
    the covering cell's physical range (``x0-x1_y0-y1_z0-z1.spatial``,
    reference ``spatial_index.py:320`` file naming / :697-761 bbox
    reads). The reference bulk-loads ~140k of these into SQLite in
    >1 h single-threaded (:680-684); here the whole directory is ONE
    distributed ``spark.read.text(wholetext)`` scan — file contents
    travel through Hadoop's FileSystem layer, so any ``scheme://``
    source works (no executor-side ``open()`` against a joined local
    path: that would read a stray per-executor dir on a real cluster,
    the remote-sidecar bug class) — parsed executor-side per file.
    """
    import json as _json

    import pandas as pd

    src_ops = PathOps(src_dir, spark)
    names = sorted(
        f for f in src_ops.listdir(src_dir) if f.endswith(".spatial")
    )
    if not names:
        raise FileNotFoundError(f"no .spatial files under {src_dir}")

    # each axis range is 'lo-hi' where either bound may itself be
    # negative ('-128-0' per the reference's str()-rendered
    # Bbox.to_filename) — a bare split('-') mis-lexes those
    range_re = re.compile(
        r"^(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"
        r"-(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)$"
    )

    def parse_name(name: str):
        ranges = []
        for part in name[: -len(".spatial")].split("_"):
            m = range_re.match(part)
            if m is None:
                raise ValueError(
                    f"unparseable .spatial axis range {part!r} in {name!r}"
                )
            ranges.append((float(m.group(1)), float(m.group(2))))
        return ranges  # [(x0,x1),(y0,y1),(z0,z1)]

    # Grid geometry from the WHOLE file set, not the first filename:
    # the reference anchors cells at physical_bounds.minpt (:367) and
    # clamps edge-cell names to bounds.maxpt (:379-381), so (a) the
    # grid origin is the per-axis minimum file origin — NOT zero —
    # and (b) a clipped edge cell can sort lexicographically first
    # ('118784-120000' < '53248-61440'), so taking cell_size from
    # names[0] can corrupt every grid coordinate. Cell size is the
    # per-axis MAX extent (full cells dominate clipped ones),
    # validated by requiring every origin to land on the grid.
    all_ranges = [parse_name(n) for n in names]
    grid_origin = tuple(
        min(rr[i][0] for rr in all_ranges) for i in range(3))
    cell_size = tuple(
        max(rr[i][1] - rr[i][0] for rr in all_ranges) for i in range(3))
    for i in range(3):
        offs = sorted({rr[i][0] - grid_origin[i] for rr in all_ranges})
        deltas = [b - a for a, b in zip(offs, offs[1:]) if b > a]
        if deltas and min(deltas) < cell_size[i] - 1e-9:
            # the max-extent guess skipped a finer grid (possible only
            # if EVERY cell on this axis is clipped) — the spacing of
            # observed origins is then the truth
            cell_size = tuple(
                min(deltas) if j == i else cell_size[j] for j in range(3))
        bad = [o for o in offs
               if abs(o / cell_size[i] - round(o / cell_size[i])) > 1e-6]
        if bad:
            raise ValueError(
                f"axis {i}: .spatial file origins {bad[:3]} do not land "
                f"on a grid of cell size {cell_size[i]} anchored at "
                f"{grid_origin[i]} — unrecognized spatial layout")
    bounds_max = tuple(
        max(rr[i][1] for rr in all_ranges) for i in range(3))
    float_names = any(
        "." in n[: -len(".spatial")] for n in names)

    def parse(batches):
        from urllib.parse import unquote, urlparse

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                # input_file_name() yields a (URL-encoded) URI; the
                # grid facts live in the basename
                name = unquote(
                    os.path.basename(urlparse(r.src_file).path))
                ranges = parse_name(name)
                gx = int(round((ranges[0][0] - grid_origin[0])
                               / cell_size[0]))
                gy = int(round((ranges[1][0] - grid_origin[1])
                               / cell_size[1]))
                gz = int(round((ranges[2][0] - grid_origin[2])
                               / cell_size[2]))
                data = _json.loads(r.value)
                if not data:
                    continue
                rows = [
                    (int(label), gx, gy, gz,
                     float(bb[0]), float(bb[1]), float(bb[2]),
                     float(bb[3]), float(bb[4]), float(bb[5]))
                    for label, bb in data.items()
                ]
                yield pd.DataFrame(
                    rows,
                    columns=["label", "gx", "gy", "gz",
                             "x0", "y0", "z0", "x1", "y1", "z1"],
                )

    # a re-import overwrites the parquet — the sidecar must follow it,
    # not veto it through the constructor's mismatch guard
    base_ops = PathOps(base_path, spark)
    stale = os.path.join(base_path, "_spatial_meta.json")
    if base_ops.exists(stale):
        base_ops.remove(stale)

    # ONE distributed text scan of the whole directory: file bytes
    # ride Hadoop's FileSystem on the executors (works for any
    # scheme), one row per file via wholetext
    files_df = (
        spark.read.option("wholetext", True)
        .text(f"{src_dir}/*.spatial")
        .withColumn("src_file", F.input_file_name())
    )
    if len(names) > 1:
        files_df = files_df.repartition(min(len(names), 256))
    rows = files_df.mapInPandas(
        parse,
        schema="label long, gx int, gy int, gz int, "
               "x0 double, y0 double, z0 double, "
               "x1 double, y1 double, z1 double",
    )
    idx = SpatialIndex(spark, base_path, cell_size=cell_size,
                       grid_origin=grid_origin)
    idx.float_names = float_names
    idx.bounds_max = bounds_max
    (
        rows.repartitionByRange("gz", "gy", "gx")
        .sortWithinPartitions("gz", "gy", "gx", "label")
        .write.mode("overwrite").parquet(idx.data_path)
    )
    idx._write_meta()
    return idx
