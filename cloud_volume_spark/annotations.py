"""Annotation layers as first-class DataFrames.

The reference stores typed geometry sets (POINT/LINE/AABB/ELLIPSOID/
POLYLINE) with typed properties and named relationships, indexed three
ways: by id, by spatial grid cell, by relationship
(``datasource/precomputed/annotation/metadata.py:18-39``,
``reader.py:193/:224/:308``). Its own ``pandas()`` exporter
(``annotation/metadata.py:129,233``) shows the model is already
tabular — here the table IS the layer:

    annotations(id LONG, x DOUBLE, y DOUBLE, z DOUBLE,
                [x2,y2,z2 | rx,ry,rz | points], <props...>,
                rel_<name> ARRAY<LONG>)

- by-id lookup        → ``WHERE id IN (...)``       (reader.py:193)
- bbox query          → half-open coordinate range filter, read on the
                        driver like the reference's client-side lookup
                        (reader.py:224); no Spark job
- relationship query  → explode(rel_) filter / join  (reader.py:308)
- spatial grid        → derived (gx,gy,gz) cell cols; parquet min/max
                        stats prune row groups exactly like the
                        reference's ``.spatial`` cell files
"""

from __future__ import annotations

import json
import math
import os
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from cloud_volume_spark.fs import PathOps, parquet_files, read_parquet
from cloud_volume_spark.geometry import Bbox

ANNOTATION_TYPES = (
    "POINT", "LINE", "AXIS_ALIGNED_BOUNDING_BOX", "ELLIPSOID", "POLYLINE",
)

# reference annotation/metadata.py:27-39
PROPERTY_DTYPES = (
    "uint8", "int8", "uint16", "int16", "uint32", "int32",
    "float32", "rgb", "rgba",
)


def _normalize_property(spec) -> dict:
    """A property spec is either a dtype string or a dict
    ``{"type": dtype[, "enum_values": [...], "enum_labels": [...]]}``
    (reference annotation/metadata.py:356-399: enum_values are the
    stored numbers, enum_labels the display strings)."""
    if isinstance(spec, str):
        spec = {"type": spec}
    spec = dict(spec)
    if spec.get("type") not in PROPERTY_DTYPES:
        raise ValueError(f"unsupported property dtype {spec.get('type')}")
    has_vals = "enum_values" in spec
    has_labels = "enum_labels" in spec
    if has_vals != has_labels:
        raise ValueError("enum_values and enum_labels must come together")
    if has_vals and len(spec["enum_values"]) != len(spec["enum_labels"]):
        raise ValueError("enum_values and enum_labels must be same length")
    return spec


class AnnotationLayer:
    """One annotation layer = a DataFrame + a small JSON catalog."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        annotation_type: str = "POINT",
        properties: Optional[dict] = None,
        relationships: Optional[Sequence[str]] = None,
        grid_cell: Sequence[float] = (128, 128, 128),
    ):
        if annotation_type not in ANNOTATION_TYPES:
            raise ValueError(f"unsupported annotation type {annotation_type}")
        self.spark = spark
        self.base_path = base_path
        self.annotation_type = annotation_type
        self.properties = {
            k: _normalize_property(v) for k, v in (properties or {}).items()
        }
        self.relationships = list(relationships or [])
        self.grid_cell = tuple(float(g) for g in grid_cell)

    # ---- catalog ------------------------------------------------------

    @property
    def data_path(self) -> str:
        return os.path.join(self.base_path, "annotations")

    def commit_info(self) -> None:
        info = {
            "@type": "neuroglancer_annotations_v1",
            "annotation_type": self.annotation_type,
            "properties": [
                {"id": k, **v} for k, v in self.properties.items()
            ],
            "relationships": [{"id": r, "key": f"rel_{r}"} for r in self.relationships],
            "spatial": [{
                "key": "grid",
                "chunk_size": list(self.grid_cell),
            }],
        }
        PathOps(self.base_path, self.spark).write_bytes(
            f"{self.base_path}/info",
            json.dumps(info, sort_keys=True).encode("utf-8"))

    @classmethod
    def open(cls, spark: SparkSession, base_path: str) -> "AnnotationLayer":
        info = json.loads(
            PathOps(base_path, spark).read_bytes(f"{base_path}/info"))
        return cls(
            spark, base_path,
            annotation_type=info["annotation_type"],
            properties={
                p["id"]: {k: v for k, v in p.items() if k != "id"}
                for p in info.get("properties", [])
            },
            relationships=[r["id"] for r in info.get("relationships", [])],
            grid_cell=info["spatial"][0]["chunk_size"],
        )

    # ---- write --------------------------------------------------------

    def grid_cell_cols(self) -> dict:
        """{gx,gy,gz} cell-derivation expressions — THE single source
        for both the batch writer and the streaming ingest
        (streaming/windowed.ingest_annotations_stream): divergent
        copies would let get_by_bbox's pruning silently drop rows
        written by the other path."""
        return {
            "gx": F.floor(F.col("x") / self.grid_cell[0]).cast("int"),
            "gy": F.floor(F.col("y") / self.grid_cell[1]).cast("int"),
            "gz": F.floor(F.col("z") / self.grid_cell[2]).cast("int"),
        }

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        """Persist annotations; derives the spatial-grid cell columns so
        parquet stats give the same pruning the reference's grid files
        do. Cluster by cell so a bbox query touches few row groups.

        POLYLINE layers carry the flattened vertex run in ``points``
        (array<double>, [x0,y0,z0,x1,...]); the axis columns hold the
        FIRST vertex (derived here when absent) — the cell-placement
        and bbox-filter convention the binary export shares."""
        if self.annotation_type == "POLYLINE":
            if "points" not in df.columns:
                raise ValueError(
                    "POLYLINE layers require a `points` array<double> "
                    "column of flattened vertices"
                )
            # validate at write time, inside the plan: a zero-vertex or
            # non-multiple-of-3 run would otherwise crash readers and
            # the binary export deep inside executor tasks. Both the
            # flat [x0,y0,z0,x1,...] run and nested [[x,y,z],...]
            # vertex lists are accepted.
            from cloud_volume_spark.annotation_io import points_are_nested

            nested = points_are_nested(df)
            flat = F.flatten("points") if nested else F.col("points")
            bad = (
                F.col("points").isNull()
                | (F.size(flat) < 3)
                | (F.size(flat) % 3 != 0)
            )
            if nested:
                bad = bad | ~F.forall(
                    "points",
                    lambda v: v.isNotNull() & (F.size(v) == F.lit(3)),
                )
            df = df.withColumn(
                "points",
                F.when(
                    bad,
                    F.raise_error(F.concat(
                        F.lit("POLYLINE annotation id "),
                        F.col("id").cast("string"),
                        F.lit(" has an invalid points run of "),
                        F.coalesce(F.size(flat).cast("string"),
                                   F.lit("NULL")),
                        F.lit(" floats (need a non-empty multiple of 3; "
                              "nested vertices must each hold 3)"),
                    )),
                ).otherwise(flat.cast("array<double>")),
            )
            # canonicalize: STORAGE is always the flat [x0,y0,z0,...]
            # run the docstring promises — persisting the nested input
            # form would leave two on-disk dialects for one layer type
            # (readers/exporters still accept legacy nested tables)
            if "x" not in df.columns:
                df = df.withColumns({
                    "x": F.element_at("points", 1).cast("double"),
                    "y": F.element_at("points", 2).cast("double"),
                    "z": F.element_at("points", 3).cast("double"),
                })
        cells = self.grid_cell_cols()
        out = (
            df.withColumns(cells)
            .repartitionByRange("gz", "gy", "gx")
            .sortWithinPartitions("gz", "gy", "gx", "id")
        )
        out.write.mode(mode).parquet(self.data_path)
        self.commit_info()

    # ---- reads (reference annotation/reader.py) -----------------------

    def df(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path)

    def ids(self) -> DataFrame:
        """reader.py:58-105."""
        return self.df().select("id")

    def get_by_id(self, ids: Iterable[int]) -> DataFrame:
        """reader.py:193-222."""
        return self.df().where(F.col("id").isin([int(i) for i in ids]))

    def get_by_bbox(self, bbox: Bbox, exact: bool = True) -> DataFrame:
        """reader.py:224-306, a client-side lookup as in the reference:
        the layer's files are read on the driver (no Spark job) with
        the grid-cell ranges as row-group filters; ``exact`` crops to
        the precise box like the reference's post-filter
        (annotation/metadata.py:62-111). Returned as a DataFrame with
        :meth:`df`'s columns."""
        gcell = self.grid_cell
        # exclusive max → last intersecting cell is ceil(hi/cs)-1: the
        # old int((x1-1)//cs) assumed >=1-unit integer boxes and made
        # sub-unit float boxes straddling a cell boundary return EMPTY
        filters = []
        for i, a in enumerate("xyz"):
            lo, hi = float(bbox.minpt[i]), float(bbox.maxpt[i])
            filters += [(f"g{a}", ">=", int(math.floor(lo / gcell[i]))),
                        (f"g{a}", "<=", int(math.ceil(hi / gcell[i])) - 1)]
            if exact:
                # half-open [minpt, maxpt), the rule of Bbox.contains:
                # strict < for the exclusive max (an epsilon is absorbed
                # by double rounding at nm-scale coordinates)
                filters += [(a, ">=", lo), (a, "<", hi)]
        ops = PathOps(self.data_path, self.spark)
        return self.spark.createDataFrame(read_parquet(
            ops, parquet_files(ops, self.data_path), filters=filters))

    def get_by_relationship(self, relationship: str, labels: Iterable[int]) -> DataFrame:
        """reader.py:308-354: all annotations related to these segids."""
        col = f"rel_{relationship}"
        if relationship not in self.relationships:
            raise KeyError(f"unknown relationship {relationship}")
        labels = [int(l) for l in labels]
        return self.df().where(
            F.arrays_overlap(F.col(col), F.array(*[F.lit(l) for l in labels]))
        )

    def relationship_index(self, relationship: str) -> DataFrame:
        """Inverted (segid → annotation ids) table — the materialized
        form of the reference's by-relationship key-value dir."""
        col = f"rel_{relationship}"
        return (
            self.df()
            .select("id", F.explode(F.array_distinct(col)).alias("segid"))
            .groupBy("segid")
            .agg(F.sort_array(F.collect_list("id")).alias("annotation_ids"))
        )

    def split_by_id(self) -> DataFrame:
        """annotation/metadata.py:261-282 — per-id grouping."""
        return self.df().groupBy("id").agg(
            F.count(F.lit(1)).alias("n"),
        )

    def count(self) -> int:
        return self.df().count()

    def properties_enum(self) -> dict:
        """{prop: {stored_value: label}} for enum-labeled properties
        (reference annotation/metadata.py:390-399)."""
        return {
            k: dict(zip(v["enum_values"], v["enum_labels"]))
            for k, v in self.properties.items() if "enum_values" in v
        }

    def to_pandas(self):
        """The reference's own export shape (annotation/metadata.py:129):
        enum-labeled properties surface as pandas categoricals mapped
        through their labels (metadata.py:141-143)."""
        pdf = self.df().drop("gx", "gy", "gz").toPandas()
        for name, enum_dict in self.properties_enum().items():
            if name in pdf.columns:
                pdf[name] = pdf[name].map(enum_dict).astype("category")
        return pdf
