"""Precomputed (neuroglancer) annotation-layer binary interop.

The reference decodes on-disk multi-annotation buffers and per-id
records (``datasource/precomputed/annotation/reader.py:107-181``) laid
out per the public neuroglancer ``annotations_v1`` spec:

- multi-annotation buffer (spatial cell / relationship value):
  ``uint64le count`` + ``count`` records + ``count × uint64le`` ids
- per-id buffer (``by_id`` value): ONE record (no count) followed, for
  each relationship in info order, by ``uint32le m`` + ``m × uint64le``
- record = geometry (``float32 × ndim``, twice for LINE / AABB /
  ELLIPSOID) + properties in info order + zero-padding of the property
  block to a 4-byte multiple
  (``annotation/metadata.py:41-60, 432-457``)

Spark-first design: cells/ids/relationship keys become a DataFrame and
each executor decodes its keys via ``mapInPandas`` — a layer with
millions of spatial cells ingests as one distributed scan, where the
reference walks the key-value store from a single process. Sharded
indices reuse the repo's ``ShardingSpecification``/``ShardFileReader``
(the same public ``neuroglancer_uint64_sharded_v1`` machinery as image
shards). Export writes a layer the reference reader accepts: ``info``
+ unsharded ``by_id`` + relationship dirs + one spatial level, each
value gzip-compressed with the CloudFiles ``.gz`` suffix convention.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import zlib
from typing import Iterable, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from cloud_volume_spark.chunking import compressed_morton_code
from cloud_volume_spark.geometry import Bbox
from cloud_volume_spark.sharding import ShardFileReader, ShardingSpecification

ANNOTATION_INFO_TYPE = "neuroglancer_annotations_v1"

TWO_POINT_TYPES = ("LINE", "AXIS_ALIGNED_BOUNDING_BOX", "ELLIPSOID")

# property dtype name -> (numpy dtype descr, spark sql type)
_PROP_NUMPY = {
    "uint8": ("|u1", "int"),
    "uint16": ("<u2", "int"),
    "uint32": ("<u4", "long"),
    "int8": ("|i1", "int"),
    "int16": ("<i2", "int"),
    "int32": ("<i4", "int"),
    "float32": ("<f4", "float"),
    "rgb": (("|u1", (3,)), "array<int>"),
    "rgba": (("|u1", (4,)), "array<int>"),
}


class AnnotationFormatError(ValueError):
    """Malformed annotation buffer or unsupported layer config."""


def annotation_record_dtype(annotation_type: str, ndim: int,
                            properties: Sequence[dict]) -> np.dtype:
    """Structured dtype of one annotation record: geometry + properties
    in info order + property-block padding to 4 bytes (reference
    ``annotation/metadata.py:41-60,432-457``)."""
    if annotation_type == "POLYLINE":
        raise AnnotationFormatError(
            "POLYLINE records are variable-length and have no fixed "
            "record dtype; use the decode/encode_polyline_* codecs "
            "(the reference's own POLYLINE branch NameErrors, "
            "annotation/metadata.py:436-444)"
        )
    fields = [("_pt1", "<f4", (ndim,))]
    if annotation_type in TWO_POINT_TYPES:
        fields.append(("_pt2", "<f4", (ndim,)))
    fields.extend(_prop_fields(properties))
    return np.dtype(fields)


def points_are_nested(df) -> bool:
    """True when the ``points`` column holds nested ``[[x,y,z], ...]``
    vertex lists rather than the canonical flat run — the ONE place
    the accepted shapes are defined, shared by the parquet writer's
    validation and the binary export."""
    from pyspark.sql.types import ArrayType

    ptype = df.schema["points"].dataType
    return isinstance(ptype, ArrayType) and isinstance(
        ptype.elementType, ArrayType)


def _prop_fields(properties: Sequence[dict]) -> list:
    """Structured-dtype fields of the property block (info order,
    padded to 4 bytes) — the tail every record shares regardless of
    geometry arity."""
    fields: list = []
    offset = 0
    for p in properties:
        if p["type"] not in _PROP_NUMPY:
            raise AnnotationFormatError(
                f"unsupported property type {p['type']}")
        descr = _PROP_NUMPY[p["type"]][0]
        if isinstance(descr, tuple):
            fields.append((p["id"], descr[0], descr[1]))
        else:
            fields.append((p["id"], descr))
        offset += np.dtype([fields[-1]]).itemsize
    if fields and offset % 4:
        fields.append((f"padding{offset}", "|u1", (4 - offset % 4,)))
    return fields


def _prop_block_dtype(properties: Sequence[dict]) -> Optional[np.dtype]:
    """Property block alone as a dtype; ``None`` when no properties."""
    fields = _prop_fields(properties)
    return np.dtype(fields) if fields else None


def decode_polyline_record(binary: bytes, offset: int, ndim: int,
                           prop_dtype: Optional[np.dtype]):
    """One POLYLINE record at ``offset``: ``uint32le num_points`` +
    ``num_points×ndim float32le`` vertices + property block. Returns
    ``(vertices (k, ndim) f4, prop record or None, next_offset)`` —
    the layout the reference's broken branch intends
    (``annotation/metadata.py:436-444``: count-prefixed ``_pt1`` of
    ``num_points * rank`` floats, then the property dtypes)."""
    if len(binary) < offset + 4:
        raise AnnotationFormatError("POLYLINE record truncated at count")
    k = int.from_bytes(binary[offset:offset + 4], "little")
    offset += 4
    geo_bytes = 4 * k * ndim
    if len(binary) < offset + geo_bytes:
        raise AnnotationFormatError(
            f"POLYLINE record truncated: {k} points need {geo_bytes} bytes"
        )
    pts = np.frombuffer(binary, offset=offset, count=k * ndim,
                        dtype="<f4").reshape(k, ndim)
    offset += geo_bytes
    rec = None
    if prop_dtype is not None:
        if len(binary) < offset + prop_dtype.itemsize:
            raise AnnotationFormatError(
                "POLYLINE record truncated in property block")
        rec = np.frombuffer(binary, offset=offset, count=1,
                            dtype=prop_dtype)[0]
        offset += prop_dtype.itemsize
    return pts, rec, offset


def _encode_polyline_record(pts, props: dict, ndim: int,
                            prop_dtype: Optional[np.dtype],
                            properties: Sequence[dict]) -> bytes:
    pts = np.asarray(pts, dtype="<f4").ravel()
    if pts.size == 0 or pts.size % ndim != 0:
        raise ValueError(
            f"POLYLINE vertices must be a non-empty flat run of "
            f"ndim={ndim} coordinates; got {pts.size} floats"
        )
    pts = pts.reshape(-1, ndim)
    out = [len(pts).to_bytes(4, "little"), pts.tobytes()]
    if prop_dtype is not None:
        rec = np.zeros(1, dtype=prop_dtype)
        for p in properties:
            rec[p["id"]][0] = props[p["id"]]
        out.append(rec.tobytes())
    return b"".join(out)


def decode_polyline_multi_buffer(binary: bytes, ndim: int,
                                 properties: Sequence[dict]):
    """Multi-annotation buffer of POLYLINEs → (list of (k_i, ndim) f4
    vertex arrays, ids (N,) u8, {prop: array}). Records are variable
    length so the walk is sequential — buffers are per-spatial-cell and
    bounded by the layer's ``limit``, so N is small per call and the
    distributed shape (one cell per task) is unchanged."""
    if len(binary) < 8:
        raise AnnotationFormatError("buffer shorter than its count header")
    n = int.from_bytes(binary[:8], "little")
    prop_dtype = _prop_block_dtype(properties)
    offset = 8
    lines, recs = [], []
    for _ in range(n):
        pts, rec, offset = decode_polyline_record(
            binary, offset, ndim, prop_dtype)
        lines.append(pts)
        recs.append(rec)
    if len(binary) != offset + 8 * n:
        raise AnnotationFormatError(
            f"buffer length {len(binary)} != expected {offset + 8 * n} "
            f"for {n} polyline records"
        )
    ids = np.frombuffer(binary, offset=offset, count=n, dtype="<u8")
    props = {}
    if prop_dtype is not None:
        arr = np.array(recs, dtype=prop_dtype)
        props = {p["id"]: np.asarray(arr[p["id"]]) for p in properties}
    return lines, ids, props


def encode_polyline_multi_buffer(lines: Sequence, ids,
                                 props: dict, ndim: int,
                                 properties: Sequence[dict]) -> bytes:
    """Inverse of :func:`decode_polyline_multi_buffer` — mixed-length
    polylines in one buffer."""
    prop_dtype = _prop_block_dtype(properties)
    n = len(lines)
    out = [int(n).to_bytes(8, "little")]
    for i, pts in enumerate(lines):
        per = {p["id"]: np.asarray(props[p["id"]])[i] for p in properties}
        out.append(_encode_polyline_record(pts, per, ndim, prop_dtype,
                                           properties))
    out.append(np.asarray(ids, dtype="<u8").tobytes())
    return b"".join(out)


def decode_polyline_single_buffer(binary: bytes, ndim: int,
                                  properties: Sequence[dict],
                                  relationships: Sequence[str]):
    """Per-id POLYLINE buffer → (vertices, {prop: scalar}, {rel: ids})."""
    prop_dtype = _prop_block_dtype(properties)
    pts, rec, offset = decode_polyline_record(binary, 0, ndim, prop_dtype)
    rels = {}
    for name in relationships:
        if len(binary) < offset + 4:
            raise AnnotationFormatError(f"truncated relationship {name}")
        m = int.from_bytes(binary[offset:offset + 4], "little")
        offset += 4
        if len(binary) < offset + 8 * m:
            raise AnnotationFormatError(f"truncated relationship {name}")
        rels[name] = np.frombuffer(binary, offset=offset, count=m,
                                   dtype="<u8")
        offset += 8 * m
    if offset != len(binary):
        raise AnnotationFormatError(
            f"{len(binary) - offset} trailing bytes after relationships"
        )
    props = ({p["id"]: rec[p["id"]] for p in properties}
             if rec is not None else {})
    return pts, props, rels


def encode_polyline_single_buffer(pts, props: dict, rels: dict, ndim: int,
                                  properties: Sequence[dict],
                                  relationships: Sequence[str]) -> bytes:
    """Inverse of :func:`decode_polyline_single_buffer`."""
    prop_dtype = _prop_block_dtype(properties)
    out = [_encode_polyline_record(pts, props, ndim, prop_dtype,
                                   properties)]
    for name in relationships:
        ids = np.asarray(rels.get(name, []), dtype="<u8")
        out.append(len(ids).to_bytes(4, "little"))
        out.append(ids.tobytes())
    return b"".join(out)


def decode_multi_buffer(binary: bytes, annotation_type: str, ndim: int,
                        properties: Sequence[dict]):
    """Multi-annotation buffer → (geometry (N,ndim[,2]) f4, ids (N,) u8,
    {prop: array}) — reference ``reader.py:152-181``."""
    dtype = annotation_record_dtype(annotation_type, ndim, properties)
    if len(binary) < 8:
        raise AnnotationFormatError("buffer shorter than its count header")
    n = int.from_bytes(binary[:8], "little")
    need = 8 + n * dtype.itemsize + n * 8
    if len(binary) != need:
        raise AnnotationFormatError(
            f"buffer length {len(binary)} != expected {need} for {n} records"
        )
    recs = np.frombuffer(binary, offset=8, count=n, dtype=dtype)
    geometry = recs["_pt1"]
    if "_pt2" in (recs.dtype.names or ()):
        geometry = np.stack([recs["_pt1"], recs["_pt2"]], axis=-1)
    ids = np.frombuffer(binary, offset=8 + n * dtype.itemsize, count=n,
                        dtype="<u8")
    props = {p["id"]: np.asarray(recs[p["id"]]) for p in properties}
    return geometry, ids, props


def encode_multi_buffer(geometry: np.ndarray, ids: np.ndarray,
                        props: dict, annotation_type: str, ndim: int,
                        properties: Sequence[dict]) -> bytes:
    """Inverse of :func:`decode_multi_buffer`."""
    dtype = annotation_record_dtype(annotation_type, ndim, properties)
    n = len(ids)
    recs = np.zeros(n, dtype=dtype)
    geometry = np.asarray(geometry, dtype=np.float32)
    if annotation_type in TWO_POINT_TYPES:
        recs["_pt1"] = geometry[..., 0]
        recs["_pt2"] = geometry[..., 1]
    else:
        recs["_pt1"] = geometry.reshape(n, ndim)
    for p in properties:
        recs[p["id"]] = np.asarray(props[p["id"]])
    return (
        int(n).to_bytes(8, "little")
        + recs.tobytes()
        + np.asarray(ids, dtype="<u8").tobytes()
    )


def decode_single_buffer(binary: bytes, annotation_type: str, ndim: int,
                         properties: Sequence[dict],
                         relationships: Sequence[str]):
    """Per-id buffer → (geometry, {prop: scalar}, {rel: ids}) —
    reference ``reader.py:107-137``."""
    dtype = annotation_record_dtype(annotation_type, ndim, properties)
    if len(binary) < dtype.itemsize:
        raise AnnotationFormatError("buffer shorter than one record")
    rec = np.frombuffer(binary, count=1, dtype=dtype)
    geometry = rec["_pt1"][0]
    if "_pt2" in (rec.dtype.names or ()):
        geometry = np.stack([rec["_pt1"][0], rec["_pt2"][0]], axis=-1)
    offset = dtype.itemsize
    rels = {}
    for name in relationships:
        if len(binary) < offset + 4:
            raise AnnotationFormatError(f"truncated relationship {name}")
        m = int.from_bytes(binary[offset:offset + 4], "little")
        offset += 4
        if len(binary) < offset + 8 * m:
            raise AnnotationFormatError(f"truncated relationship {name}")
        rels[name] = np.frombuffer(binary, offset=offset, count=m, dtype="<u8")
        offset += 8 * m
    if offset != len(binary):
        raise AnnotationFormatError(
            f"{len(binary) - offset} trailing bytes after relationships"
        )
    props = {p["id"]: rec[p["id"]][0] for p in properties}
    return geometry, props, rels


def encode_single_buffer(geometry, props: dict, rels: dict,
                         annotation_type: str, ndim: int,
                         properties: Sequence[dict],
                         relationships: Sequence[str]) -> bytes:
    """Inverse of :func:`decode_single_buffer`."""
    dtype = annotation_record_dtype(annotation_type, ndim, properties)
    rec = np.zeros(1, dtype=dtype)
    geometry = np.asarray(geometry, dtype=np.float32)
    if annotation_type in TWO_POINT_TYPES:
        rec["_pt1"][0] = geometry[..., 0]
        rec["_pt2"][0] = geometry[..., 1]
    else:
        rec["_pt1"][0] = geometry.reshape(ndim)
    for p in properties:
        rec[p["id"]][0] = props[p["id"]]
    out = [rec.tobytes()]
    for name in relationships:
        ids = np.asarray(rels.get(name, []), dtype="<u8")
        out.append(len(ids).to_bytes(4, "little"))
        out.append(ids.tobytes())
    return b"".join(out)


def _read_value(dirpath: str, name: str) -> Optional[bytes]:
    """Key-value read with the CloudFiles local-storage convention: a
    key may be stored verbatim or as ``<key>.gz`` holding gzip bytes."""
    plain = os.path.join(dirpath, name)
    if os.path.exists(plain):
        with open(plain, "rb") as f:
            data = f.read()
        if data[:2] == b"\x1f\x8b":
            # the gzip magic can also occur as the first two bytes of a
            # legitimate uncompressed buffer (a uint64le count with
            # n % 65536 == 35615) — sniff, but fall back to raw bytes
            # rather than crashing on the 1-in-65536 coincidence
            try:
                return gzip.decompress(data)
            except (OSError, EOFError, zlib.error):
                # gzip raises any of these when the payload merely
                # starts with 1f 8b but has a non-gzip body — the exact
                # coincidence this fallback targets
                return data
        return data
    gzpath = plain + ".gz"
    if os.path.exists(gzpath):
        with open(gzpath, "rb") as f:
            return gzip.decompress(f.read())
    return None


def _list_keys(dirpath: str) -> list[str]:
    if not os.path.isdir(dirpath):
        return []
    return sorted(
        f[:-3] if f.endswith(".gz") else f
        for f in os.listdir(dirpath)
        if not f.endswith(".shard")
    )


def _list_int_keys(dirpath: str) -> list[int]:
    """Numeric keys only — foreign layers can carry stray files
    ('.DS_Store', editor backups) that must not crash the listing."""
    out = []
    for k in _list_keys(dirpath):
        try:
            out.append(int(k))
        except ValueError:
            continue
    return sorted(out)


from functools import lru_cache  # noqa: E402  (helper-local import)


@lru_cache(maxsize=4)
def _cached_shard_reader(path: str, spec_json: str, mtime_ns: int,
                         size: int) -> ShardFileReader:
    """One blob read + one ShardFileReader (with its minishard-index
    cache) per shard file — per-label loops (ids → get_by_id,
    relationship_segids → get_by_relationship) would otherwise re-read
    and re-decode the whole shard once per label, quadratic per
    minishard. Keyed on (mtime, size) so a rewritten shard refreshes."""
    spec = ShardingSpecification.from_dict(json.loads(spec_json))
    with open(path, "rb") as f:
        return ShardFileReader(spec, f.read())


def _sharded_value(base: str, key: str, spec_dict: dict,
                   label: int) -> Optional[bytes]:
    spec = ShardingSpecification.from_dict(spec_dict)
    shard_no, _ = spec.compute_shard_location(label)
    path = os.path.join(base, key, f"{shard_no}.shard")
    if not os.path.exists(path):
        return None
    st = os.stat(path)
    rdr = _cached_shard_reader(
        path, json.dumps(spec_dict, sort_keys=True),
        st.st_mtime_ns, st.st_size)
    return rdr.get(label)


def _rows_frame(axes: Sequence[str], properties: Sequence[dict],
                geometry, ids, props) -> pd.DataFrame:
    """Decoded buffer → pandas rows (executor-side; no session state)."""
    data = {"id": ids.astype(np.int64)}
    if geometry.ndim == 3:  # (N, ndim, 2)
        for j in range(2):
            for i, ax in enumerate(axes):
                name = ax if j == 0 else f"{ax}2"
                data[name] = geometry[:, i, j].astype(np.float64)
    else:
        for i, ax in enumerate(axes):
            data[ax] = geometry[:, i].astype(np.float64)
    for p in properties:
        v = props[p["id"]]
        data[p["id"]] = list(v) if v.ndim > 1 else v
    return pd.DataFrame(data)


def _polyline_rows_frame(axes: Sequence[str], properties: Sequence[dict],
                         lines, ids, props) -> pd.DataFrame:
    """Decoded POLYLINE buffer → pandas rows: the first vertex fills
    the axis columns (the cell-placement / bbox-filter convention, same
    as the writer) and the full flattened vertex run rides a
    ``points`` list column."""
    data = {"id": np.asarray(ids).astype(np.int64)}
    for i, ax in enumerate(axes):
        data[ax] = [float(l[0, i]) for l in lines]
    data["points"] = [
        [float(v) for v in l.reshape(-1)] for l in lines
    ]
    for p in properties:
        v = props[p["id"]]
        data[p["id"]] = list(v) if v.ndim > 1 else v
    return pd.DataFrame(data)


class PrecomputedAnnotationReader:
    """Read a foreign neuroglancer precomputed annotation layer.

    Mirrors the reference reader's query surface (``ids`` /
    ``get_by_id`` / ``get_by_bbox`` / ``get_all`` /
    ``get_by_relationship``, ``reader.py:58-354``) but returns
    DataFrames: cell/id/relationship keys fan out over executors and
    each worker decodes its buffers with the codec above.
    """

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        info = _read_value(base_path, "info")
        if info is None:
            raise FileNotFoundError(f"no info file under {base_path}")
        self.info = json.loads(info)
        typ = self.info.get("@type", "")
        if typ != ANNOTATION_INFO_TYPE:
            raise AnnotationFormatError(
                f"info @type must be {ANNOTATION_INFO_TYPE}, got {typ!r}"
            )

    # ---- metadata -----------------------------------------------------

    @property
    def annotation_type(self) -> str:
        return str(self.info["annotation_type"]).upper()

    @property
    def dimensions(self) -> dict:
        return dict(self.info["dimensions"])

    @property
    def ndim(self) -> int:
        return len(self.info["dimensions"])

    @property
    def properties(self) -> list[dict]:
        return self.info.get("properties", [])

    @property
    def relationships(self) -> list[dict]:
        return self.info.get("relationships", [])

    def properties_enum(self) -> dict[str, dict[int, str]]:
        """{prop: {stored_value: label}} (reference metadata.py:390-399)."""
        return {
            p["id"]: dict(zip(p["enum_values"], p["enum_labels"]))
            for p in self.properties if "enum_labels" in p
        }

    def _row_schema(self, with_ndim_names: bool = True) -> str:
        axes = list(self.dimensions.keys())
        two = self.annotation_type in TWO_POINT_TYPES
        cols = ["id long"]
        for j in ([0, 1] if two else [0]):
            for ax in axes:
                name = ax if j == 0 else f"{ax}2"
                cols.append(f"{name} double")
        if self.annotation_type == "POLYLINE":
            # axis cols hold the FIRST vertex (placement convention);
            # the full flattened vertex run rides `points`
            cols.append("points array<double>")
        for p in self.properties:
            cols.append(f"{p['id']} {_PROP_NUMPY[p['type']][1]}")
        return ", ".join(cols)


    # ---- spatial index ------------------------------------------------

    def _spatial(self, mip: int) -> dict:
        spatial = self.info.get("spatial")
        if not spatial:
            raise AnnotationFormatError("layer has no spatial index")
        return spatial[mip]

    def grid_shape(self, mip: int) -> np.ndarray:
        return np.array(self._spatial(mip)["grid_shape"], dtype=int)

    def chunk_size(self, mip: int) -> np.ndarray:
        return np.array(self._spatial(mip)["chunk_size"], dtype=float)

    def get_all(self, mip: int = -1) -> DataFrame:
        """All annotations at one spatial level (reference
        ``get_all``/``get_by_bbox`` with full-extent slices)."""
        shape = self.grid_shape(mip)
        cells = [
            (int(gx), int(gy), int(gz))
            for gz in range(shape[2] if len(shape) > 2 else 1)
            for gy in range(shape[1] if len(shape) > 1 else 1)
            for gx in range(shape[0])
        ]
        return self._decode_cells(cells, mip)

    def get_union(self) -> DataFrame:
        """The COMPLETE annotation set of a multi-level layer: each
        spatial level holds a disjoint density subsample (coarse levels
        are what neuroglancer renders zoomed out), so completeness
        means the union over every level."""
        spatial = self.info.get("spatial") or []
        out = None
        for mip in range(len(spatial)):
            df = self.get_all(mip=mip)
            out = df if out is None else out.unionByName(df)
        if out is None:
            raise AnnotationFormatError("layer has no spatial index")
        return out

    def get_by_bbox(self, bbox: Bbox, mip: int = -1,
                    exact: bool = True) -> DataFrame:
        """Grid cells overlapping ``bbox`` decode in parallel; ``exact``
        post-filters to the half-open box ``[minpt, maxpt)`` — the rule
        of ``Bbox.contains`` and ``AnnotationLayer.get_by_bbox``
        (reference ``reader.py:224-306`` + ``metadata.py:62-111`` crop)."""
        lower = np.array(self.info["lower_bound"], dtype=float)
        cs = self.chunk_size(mip)
        shape = self.grid_shape(mip)
        # rank-2 layers are legal (get_all and _decode_cells already
        # support them) — prune only the axes the grid actually has
        rank = len(shape)
        mn = np.array(bbox.minpt, dtype=float)[:rank]
        mx = np.array(bbox.maxpt, dtype=float)[:rank]
        lo = np.clip(((mn - lower[:rank]) // cs).astype(int),
                     0, shape - 1)
        hi = np.clip(((mx - lower[:rank]) // cs).astype(int),
                     0, shape - 1)

        def axis(i):
            return range(lo[i], hi[i] + 1) if rank > i else (0,)

        cells = [
            (gx, gy, gz)
            for gz in axis(2)
            for gy in axis(1)
            for gx in axis(0)
        ]
        df = self._decode_cells(cells, mip)
        if exact:
            axes = list(self.dimensions.keys())
            for i, ax in enumerate(axes[:rank]):
                df = df.where((F.col(ax) >= float(bbox.minpt[i]))
                              & (F.col(ax) < float(bbox.maxpt[i])))
        return df

    def _decode_cells(self, cells: list[tuple], mip: int) -> DataFrame:
        spatial = self._spatial(mip)
        key = spatial["key"]
        sharding = spatial.get("sharding")
        grid_shape = [int(x) for x in spatial["grid_shape"]]
        base, atype, ndim = self.base_path, self.annotation_type, self.ndim
        props, schema = self.properties, self._row_schema()
        axes = list(self.dimensions.keys())

        def decode(batches):
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    cell = (int(r.gx), int(r.gy), int(r.gz))
                    if sharding is not None:
                        code = int(compressed_morton_code(
                            np.array(cell[:len(grid_shape)]), grid_shape
                        ))
                        binary = _sharded_value(base, key, sharding, code)
                    else:
                        name = "_".join(str(c) for c in cell[:len(grid_shape)])
                        binary = _read_value(os.path.join(base, key), name)
                    if binary is None:
                        continue
                    if atype == "POLYLINE":
                        lines, ids, pr = decode_polyline_multi_buffer(
                            binary, ndim, props)
                        if len(ids):
                            yield _polyline_rows_frame(
                                axes, props, lines, ids, pr)
                        continue
                    geo, ids, pr = decode_multi_buffer(binary, atype, ndim, props)
                    if len(ids):
                        yield _rows_frame(axes, props, geo, ids, pr)

        cells_df = self.spark.createDataFrame(
            cells, "gx int, gy int, gz int"
        )
        if len(cells) > 1:
            cells_df = cells_df.repartition(min(len(cells), 256))
        return cells_df.mapInPandas(decode, schema=schema)

    # ---- id index -----------------------------------------------------

    def ids(self) -> list[int]:
        """All annotation ids (reference ``reader.py:58-105``)."""
        by_id = self.info["by_id"]
        sharding = by_id.get("sharding")
        if sharding is not None:
            spec = ShardingSpecification.from_dict(sharding)
            out = []
            shard_dir = os.path.join(self.base_path, by_id["key"])
            for f in sorted(os.listdir(shard_dir)):
                if f.endswith(".shard"):
                    with open(os.path.join(shard_dir, f), "rb") as fh:
                        out.append(ShardFileReader(spec, fh.read()).list_labels())
            return sorted(int(x) for x in np.concatenate(out)) if out else []
        return _list_int_keys(os.path.join(self.base_path, by_id["key"]))

    def get_by_id(self, ids: Iterable[int]) -> DataFrame:
        """Per-id records incl. relationship arrays, decoded on
        executors (reference ``reader.py:193-222``)."""
        by_id = self.info["by_id"]
        key, sharding = by_id["key"], by_id.get("sharding")
        base, atype, ndim = self.base_path, self.annotation_type, self.ndim
        props = self.properties
        rel_names = [r["id"] for r in self.relationships]
        axes = list(self.dimensions.keys())
        two = atype in TWO_POINT_TYPES
        schema = self._row_schema() + "".join(
            f", rel_{r} array<long>" for r in rel_names
        )

        def decode(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    segid = int(r.id)
                    if sharding is not None:
                        binary = _sharded_value(base, key, sharding, segid)
                    else:
                        binary = _read_value(os.path.join(base, key), str(segid))
                    if binary is None:
                        continue
                    row = {"id": segid}
                    if atype == "POLYLINE":
                        pts, pr, rels = decode_polyline_single_buffer(
                            binary, ndim, props, rel_names
                        )
                        for i, ax in enumerate(axes):
                            row[ax] = float(pts[0, i])
                        row["points"] = [float(v)
                                         for v in pts.reshape(-1)]
                    else:
                        geo, pr, rels = decode_single_buffer(
                            binary, atype, ndim, props, rel_names
                        )
                        if two:
                            for j in range(2):
                                for i, ax in enumerate(axes):
                                    row[ax if j == 0 else f"{ax}2"] = \
                                        float(geo[i, j])
                        else:
                            for i, ax in enumerate(axes):
                                row[ax] = float(geo[i])
                    for p in props:
                        v = pr[p["id"]]
                        row[p["id"]] = (
                            [int(x) for x in v] if np.ndim(v) else v.item()
                        )
                    for name in rel_names:
                        row[f"rel_{name}"] = [int(x) for x in rels[name]]
                    rows.append(row)
                if rows:
                    yield pd.DataFrame(rows)

        ids_df = self.spark.createDataFrame(
            [(int(i),) for i in ids], "id long"
        )
        return ids_df.mapInPandas(decode, schema=schema)

    # ---- relationship index -------------------------------------------

    def get_by_relationship(self, relationship: str,
                            labels: Iterable[int]) -> DataFrame:
        """Annotations related to the given segids; output rows carry a
        ``segid`` column (reference ``reader.py:308-354``)."""
        rels = {r["id"]: r for r in self.relationships}
        if relationship not in rels:
            raise KeyError(
                f"relationship {relationship} not found; "
                f"available: {','.join(rels)}"
            )
        rel = rels[relationship]
        key, sharding = rel["key"], rel.get("sharding")
        base, atype, ndim = self.base_path, self.annotation_type, self.ndim
        props = self.properties
        schema = "segid long, " + self._row_schema()
        axes = list(self.dimensions.keys())

        def decode(batches):
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    segid = int(r.segid)
                    if sharding is not None:
                        binary = _sharded_value(base, key, sharding, segid)
                    else:
                        binary = _read_value(os.path.join(base, key), str(segid))
                    if binary is None:
                        continue
                    if atype == "POLYLINE":
                        lines, ids, pr = decode_polyline_multi_buffer(
                            binary, ndim, props)
                        if len(ids):
                            out = _polyline_rows_frame(
                                axes, props, lines, ids, pr)
                            out.insert(0, "segid", segid)
                            yield out
                        continue
                    geo, ids, pr = decode_multi_buffer(binary, atype, ndim, props)
                    if len(ids):
                        out = _rows_frame(axes, props, geo, ids, pr)
                        out.insert(0, "segid", segid)
                        yield out

        seg_df = self.spark.createDataFrame(
            [(int(l),) for l in labels], "segid long"
        )
        return seg_df.mapInPandas(decode, schema=schema)

    def relationship_segids(self, relationship: str) -> list[int]:
        rels = {r["id"]: r for r in self.relationships}
        rel = rels[relationship]
        if rel.get("sharding") is not None:
            spec = ShardingSpecification.from_dict(rel["sharding"])
            out = []
            shard_dir = os.path.join(self.base_path, rel["key"])
            for f in sorted(os.listdir(shard_dir)):
                if f.endswith(".shard"):
                    with open(os.path.join(shard_dir, f), "rb") as fh:
                        out.append(ShardFileReader(spec, fh.read()).list_labels())
            return sorted(int(x) for x in np.concatenate(out)) if out else []
        return _list_int_keys(os.path.join(self.base_path, rel["key"]))

    # ---- ingest -------------------------------------------------------

    def to_layer(self, base_path: str,
                 grid_cell: Optional[Sequence[float]] = None,
                 mip: Optional[int] = None):
        """Ingest the foreign layer into the repo's parquet-native
        :class:`~cloud_volume_spark.annotations.AnnotationLayer`:
        spatial cells decode distributed, relationship membership comes
        from the relationship dirs inverted into per-annotation arrays
        (one explode + groupBy — never a per-annotation by_id walk).

        ``mip=None`` ingests the union of every spatial level (levels
        are disjoint LOD subsamples — the union is the complete set);
        pass a specific ``mip`` for layers whose finer levels are not
        materialized on disk (e.g. the reference's test fixture)."""
        from cloud_volume_spark.annotations import AnnotationLayer

        df = self.get_union() if mip is None else self.get_all(mip=mip)
        for r in self.relationships:
            name = r["id"]
            segids = self.relationship_segids(name)
            pairs = (
                self.get_by_relationship(name, segids)
                .select("segid", "id")
            )
            inv = pairs.groupBy("id").agg(
                F.sort_array(F.collect_list("segid")).alias(f"rel_{name}")
            )
            df = df.join(inv, "id", "left").withColumn(
                f"rel_{name}",
                F.coalesce(f"rel_{name}", F.array().cast("array<long>")),
            )
        layer = AnnotationLayer(
            self.spark, base_path,
            annotation_type=self.annotation_type,
            properties={
                p["id"]: {k: v for k, v in p.items() if k != "id"}
                for p in self.properties
            },
            relationships=[r["id"] for r in self.relationships],
            grid_cell=tuple(grid_cell) if grid_cell is not None
            else tuple(float(c) for c in
                       self.chunk_size(-1 if mip is None else mip)[:3]),
        )
        layer.write(df)
        return layer


# ---------------------------------------------------------------------------
# export: parquet-native AnnotationLayer -> precomputed binary layer


def export_precomputed(layer, out_dir: str,
                       dimensions: Optional[dict] = None,
                       limit: int = 10000,
                       write_by_id: bool = True,
                       levels: int = 1,
                       shard_spatial: bool = False) -> dict:
    """Write an :class:`AnnotationLayer` as a neuroglancer precomputed
    annotation layer the reference reader ingests: ``info`` + unsharded
    spatial level(s) + ``by_id`` + one dir per relationship, all values
    gzipped.

    ``levels=1`` (default) writes one spatial level gridded by the
    layer's own cells. ``levels>1`` writes the neuroglancer LOD
    pyramid: level 0 is one cell over the bounds, each finer level
    halves the chunk size, and every annotation lands at exactly ONE
    level — the coarsest whose covering cell still has capacity
    (``limit``), selected by a deterministic md5 priority so each
    level's cells hold a uniform density subsample and the union over
    levels is the complete set (the layout of real layers like the
    H01 fixture's 12 levels).

    Distributed: spatial cells are one ``applyInPandas`` group per
    cell; level assignment is one ``row_number`` window per level over
    the (shrinking) remainder; by_id and relationship values one group
    per partition — no driver-side iteration over annotations.
    """
    spark = layer.spark
    df = layer.df()
    atype = layer.annotation_type
    axes = ["x", "y", "z"][:3]
    ndim = 3
    two = atype in TWO_POINT_TYPES
    poly = atype == "POLYLINE"
    if poly and points_are_nested(df):
        # nested vertex lists are accepted in the parquet layer; the
        # export works on the flat run (the bounds aggregate below
        # indexes axes by position % ndim)
        df = df.withColumn("points", F.flatten("points"))
    props = [{"id": k, **v} for k, v in layer.properties.items()]
    rel_names = list(layer.relationships)
    if dimensions is None:
        dimensions = {ax: [1, "nm"] for ax in axes}

    # bounds must cover EVERY vertex of the geometry — both endpoints
    # of two-point types (LINE/AABB/ELLIPSOID), all vertices of a
    # POLYLINE — a first-endpoint-only min/max let later vertices fall
    # outside info's declared bounds, so bbox queries overlapping only
    # them missed the annotation. Spatial-cell PLACEMENT (below) stays
    # first-vertex-based, the neuroglancer convention the reader's
    # exact filter mirrors.
    if poly:
        # per-axis extrema over the flattened vertex runs: index % ndim
        # identifies the axis; one explode + tiny aggregate
        v = df.select(F.posexplode("points").alias("_i", "_v"))
        lo_exprs = [
            F.min(F.when(F.col("_i") % ndim == i, F.col("_v")))
            .alias(f"min_{ax}") for i, ax in enumerate(axes)
        ]
        hi_exprs = [
            F.max(F.when(F.col("_i") % ndim == i, F.col("_v")))
            .alias(f"max_{ax}") for i, ax in enumerate(axes)
        ]
        vstats = v.agg(*lo_exprs, *hi_exprs).collect()[0]
        n_rows = df.count()
        stats = {"n": n_rows, **{k: vstats[k] for k in vstats.asDict()}}
    elif atype == "ELLIPSOID":
        # the second vector is per-axis RADII, not a second coordinate
        # (neuroglancer annotation spec; the reference decodes it as
        # _pt2 with the same dtype but radius semantics): the extent is
        # center ± radius — least/greatest of (center, radius) would
        # declare a lower bound near the radius magnitude and exclude
        # the far side of every ellipsoid from the upper bound
        lo_exprs = [F.min(F.col(ax) - F.col(f"{ax}2")).alias(f"min_{ax}")
                    for ax in axes]
        hi_exprs = [F.max(F.col(ax) + F.col(f"{ax}2")).alias(f"max_{ax}")
                    for ax in axes]
        stats = df.agg(
            *lo_exprs, *hi_exprs, F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    elif two:
        lo_exprs = [F.min(F.least(ax, f"{ax}2")).alias(f"min_{ax}")
                    for ax in axes]
        hi_exprs = [F.max(F.greatest(ax, f"{ax}2")).alias(f"max_{ax}")
                    for ax in axes]
        stats = df.agg(
            *lo_exprs, *hi_exprs, F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    else:
        lo_exprs = [F.min(ax).alias(f"min_{ax}") for ax in axes]
        hi_exprs = [F.max(ax).alias(f"max_{ax}") for ax in axes]
        stats = df.agg(
            *lo_exprs, *hi_exprs, F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    if not int(stats["n"]):
        # an empty layer exports as a valid empty layer (one empty
        # cell over a unit bounds), not a TypeError on floor(None)
        lower, upper = [0, 0, 0], [1, 1, 1]
    else:
        lower = [math.floor(stats[f"min_{ax}"]) for ax in axes]
        upper = [math.floor(stats[f"max_{ax}"]) + 1 for ax in axes]
    cs = [float(c) for c in layer.grid_cell]
    grid_shape = [
        max(1, math.ceil((upper[i] - lower[i]) / cs[i])) for i in range(3)
    ]

    if levels > 1:
        # LOD pyramid: level 0 = one cell over the bounds, halving down
        size = [float(upper[i] - lower[i]) for i in range(3)]
        spatial_specs = [{
            "key": f"spatial{lv}",
            "chunk_size": [s / (1 << lv) for s in size],
            "grid_shape": [1 << lv] * 3,
            "limit": int(limit),
        } for lv in range(levels)]
    else:
        spatial_specs = [{
            "key": "spatial0",
            "chunk_size": cs,
            "grid_shape": grid_shape,
            "limit": int(limit),
        }]
    if shard_spatial:
        from cloud_volume_spark.sharding import (
            compute_shard_params_for_hashed,
        )

        for spec in spatial_specs:
            n_cells_lv = int(np.prod(spec["grid_shape"]))
            sb, mb, _ = compute_shard_params_for_hashed(n_cells_lv)
            spec["sharding"] = ShardingSpecification(
                preshift_bits=0, hash="identity", minishard_bits=mb,
                shard_bits=sb, minishard_index_encoding="gzip",
                data_encoding="gzip",
            ).to_dict()

    os.makedirs(out_dir, exist_ok=True)
    info = {
        "@type": ANNOTATION_INFO_TYPE,
        "annotation_type": atype,
        "dimensions": dimensions,
        "lower_bound": lower,
        "upper_bound": upper,
        "properties": props,
        "relationships": [{"id": r, "key": f"rel_{r}"} for r in rel_names],
        "by_id": {"key": "by_id"},
        "spatial": spatial_specs,
    }
    with open(os.path.join(out_dir, "info"), "w") as f:
        json.dump(info, f, sort_keys=True)

    geo_cols = (
        axes + ["points"] if poly
        else axes + ([f"{a}2" for a in axes] if two else [])
    )
    prop_ids = [p["id"] for p in props]

    def _geometry(pdf: pd.DataFrame) -> np.ndarray:
        if two:
            a = pdf[axes].to_numpy(np.float32)
            b = pdf[[f"{ax}2" for ax in axes]].to_numpy(np.float32)
            return np.stack([a, b], axis=-1)
        return pdf[axes].to_numpy(np.float32)

    def _props_dict(pdf: pd.DataFrame) -> dict:
        out = {}
        for p in props:
            v = pdf[p["id"]]
            if p["type"] in ("rgb", "rgba"):
                out[p["id"]] = np.stack(v.to_list()).astype(np.uint8)
            else:
                out[p["id"]] = v.to_numpy()
        return out

    def _cell_binary(pdf: pd.DataFrame) -> bytes:
        """Encode one spatial/relationship group's annotations."""
        if poly:
            lines = [np.asarray(p, np.float32).reshape(-1, ndim)
                     for p in pdf["points"]]
            return encode_polyline_multi_buffer(
                lines, pdf["id"].to_numpy("<u8"), _props_dict(pdf),
                ndim, props,
            )
        return encode_multi_buffer(
            _geometry(pdf), pdf["id"].to_numpy("<u8"), _props_dict(pdf),
            atype, ndim, props,
        )

    # spatial cells --------------------------------------------------
    def make_write_cell(spatial_dir):
        def write_cell(keyvals, pdf):
            binary = _cell_binary(pdf)
            name = "_".join(str(int(k)) for k in keyvals)
            with open(os.path.join(spatial_dir, name + ".gz"), "wb") as f:
                f.write(gzip.compress(binary, mtime=0))
            return pd.DataFrame({"cell": [name], "n": [len(pdf)]})
        return write_cell

    def write_level_sharded(frame, spec, spatial_dir, shard_spec_dict):
        """Cells → compressed-morton-keyed values inside ``.shard``
        files: one applyInPandas group per cell encodes its buffer,
        one group per shard synthesizes the file — the sharded spatial
        layout of production layers (reference reads it via
        ``reader.py:253-257``)."""
        from cloud_volume_spark.sharding import synthesize_shard_file

        grid_shape_l = [int(x) for x in spec["grid_shape"]]

        def encode_cell(keyvals, pdf):
            binary = _cell_binary(pdf)
            code = int(compressed_morton_code(
                np.array([int(k) for k in keyvals]), grid_shape_l
            ))
            sp = ShardingSpecification.from_dict(shard_spec_dict)
            shard_no, _ = sp.compute_shard_location(code)
            return pd.DataFrame({
                "shard_no": [shard_no], "morton": [code],
                "blob": [binary], "n": [len(pdf)],
            })

        def write_shard(keyvals, pdf):
            sp = ShardingSpecification.from_dict(shard_spec_dict)
            group = {int(r.morton): bytes(r.blob)
                     for r in pdf.itertuples(index=False)}
            blob = synthesize_shard_file(sp, group)
            with open(os.path.join(spatial_dir, f"{keyvals[0]}.shard"),
                      "wb") as f:
                f.write(blob)
            return pd.DataFrame({
                "shard": [str(keyvals[0])], "cells": [len(group)],
                "n": [int(pdf["n"].sum())],
            })

        out = (
            frame.groupBy("_cx", "_cy", "_cz")
            .applyInPandas(
                encode_cell,
                schema="shard_no string, morton long, blob binary, n long",
            )
            .groupBy("shard_no")
            .applyInPandas(write_shard,
                           schema="shard string, cells long, n long")
            .agg(F.sum("cells").alias("cells"), F.sum("n").alias("n"))
            .collect()[0]
        )
        return int(out["n"] or 0), int(out["cells"] or 0)

    def with_cells(frame, spec):
        shape_l = spec["grid_shape"]
        cs_l = spec["chunk_size"]
        for i, ax in enumerate(axes):
            frame = frame.withColumn(
                f"_c{ax}",
                F.least(
                    F.lit(shape_l[i] - 1),
                    F.floor((F.col(ax) - lower[i]) / cs_l[i]).cast("int"),
                ),
            )
        return frame

    n_cells = 0
    level_counts = []
    if levels > 1:
        # deterministic subsampling priority; every annotation is
        # assigned to the coarsest level whose cell has capacity
        remaining = df.withColumn(
            "_prio", F.md5(F.concat(F.lit("anno|"),
                                    F.col("id").cast("string")))
        )
        from pyspark.sql.window import Window

        persisted = []
        for lv, spec in enumerate(spatial_specs):
            spatial_dir = os.path.join(out_dir, spec["key"])
            os.makedirs(spatial_dir, exist_ok=True)
            remaining = with_cells(remaining, spec)
            last = lv == levels - 1
            if last:
                assigned, remaining = remaining, None
            else:
                ranked = remaining.withColumn(
                    "_rank",
                    F.row_number().over(
                        Window.partitionBy("_cx", "_cy", "_cz")
                        .orderBy("_prio", "id")
                    ),
                )
                # one pass, two consumers: persist so the level split
                # does not recompute the window for each side
                ranked = ranked.persist()
                persisted.append(ranked)
                assigned = ranked.where(F.col("_rank") <= limit)
                remaining = ranked.where(F.col("_rank") > limit) \
                    .drop("_rank")
            if shard_spatial:
                n, cell_count = write_level_sharded(
                    assigned, spec, spatial_dir, spec["sharding"]
                )
            else:
                n = (
                    assigned.groupBy("_cx", "_cy", "_cz")
                    .applyInPandas(make_write_cell(spatial_dir),
                                   schema="cell string, n long")
                    .agg(F.sum("n")).collect()[0][0] or 0
                )
                cell_count = len(os.listdir(spatial_dir))
            n_cells += cell_count
            level_counts.append(int(n))
        for p in persisted:
            p.unpersist()
    else:
        spatial_dir = os.path.join(out_dir, "spatial0")
        os.makedirs(spatial_dir, exist_ok=True)
        cell = with_cells(df, spatial_specs[0])
        if shard_spatial:
            _, n_cells = write_level_sharded(
                cell, spatial_specs[0], spatial_dir,
                spatial_specs[0]["sharding"],
            )
        else:
            n_cells = (
                cell.groupBy("_cx", "_cy", "_cz")
                .applyInPandas(make_write_cell(spatial_dir),
                               schema="cell string, n long")
                .count()
            )
        level_counts = [int(stats["n"])]

    # by_id ----------------------------------------------------------
    # One value per annotation — the unsharded layout the reference
    # writes. ``write_by_id=False`` skips it (and drops the index from
    # info) for spatial-only layers: at millions of annotations the
    # per-id KV layer wants the sharded format, not a million files.
    if not write_by_id:
        del info["by_id"]
        with open(os.path.join(out_dir, "info"), "w") as f:
            json.dump(info, f, sort_keys=True)
    by_id_dir = os.path.join(out_dir, "by_id")
    if write_by_id:
        os.makedirs(by_id_dir, exist_ok=True)
    id_cols = ["id"] + geo_cols + prop_ids + [f"rel_{r}" for r in rel_names]

    def write_ids(batches):
        for pdf in batches:
            # dict records, NOT itertuples()._asdict(): namedtuple
            # field renaming mangles property ids that are Python
            # keywords or invalid identifiers ('class' → '_4'), which
            # the neuroglancer grammar permits — row['class'] would
            # KeyError on every executor
            for row in pdf.to_dict("records"):
                if poly:
                    pts = np.asarray(row["points"],
                                     np.float32).reshape(-1, ndim)
                    binary = encode_polyline_single_buffer(
                        pts, {p: row[p] for p in prop_ids},
                        {rel: row[f"rel_{rel}"] for rel in rel_names},
                        ndim, props, rel_names,
                    )
                else:
                    if two:
                        geo = np.stack([
                            np.array([row[a] for a in axes], np.float32),
                            np.array([row[f"{a}2"] for a in axes],
                                     np.float32),
                        ], axis=-1)
                    else:
                        geo = np.array([row[a] for a in axes], np.float32)
                    binary = encode_single_buffer(
                        geo, {p: row[p] for p in prop_ids},
                        {rel: row[f"rel_{rel}"] for rel in rel_names},
                        atype, ndim, props, rel_names,
                    )
                with open(os.path.join(by_id_dir, f"{int(row['id'])}.gz"),
                          "wb") as f:
                    f.write(gzip.compress(binary, mtime=0))
            yield pd.DataFrame({"n": [len(pdf)]})

    if write_by_id:
        df.select(*id_cols).mapInPandas(write_ids, schema="n long") \
            .agg(F.sum("n")).collect()

    # relationships --------------------------------------------------
    for rel in rel_names:
        rel_dir = os.path.join(out_dir, f"rel_{rel}")
        os.makedirs(rel_dir, exist_ok=True)
        exploded = df.select(
            "id", *geo_cols, *prop_ids,
            F.explode(f"rel_{rel}").alias("segid"),
        )

        def make_write_rel(rel_dir):
            def write_rel(keyvals, pdf):
                binary = _cell_binary(pdf)
                with open(os.path.join(rel_dir, f"{int(keyvals[0])}.gz"),
                          "wb") as f:
                    f.write(gzip.compress(binary, mtime=0))
                return pd.DataFrame({"n": [len(pdf)]})
            return write_rel

        exploded.groupBy("segid") \
            .applyInPandas(make_write_rel(rel_dir), schema="n long").count()

    return {"cells": n_cells, "annotations": int(stats["n"]),
            "grid_shape": grid_shape, "level_counts": level_counts}
