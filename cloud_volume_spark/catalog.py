"""Volume catalog — the ``info`` JSON sidecar re-expressed as a tiny
table catalog.

Mirrors the semantics of the reference's ``PrecomputedMetadata``
(``datasource/precomputed/metadata.py``: ``create_info`` :77-155,
``add_scale`` :743-838, ``commit_info`` :295, ``to_mip`` :624,
``downsample_ratio`` :647, mip locks :840-885) while staying
byte-compatible with Neuroglancer Precomputed ``info`` files so
import/export round-trips.

A volume directory layout:

    <base>/info                          # precomputed-compatible JSON
    <base>/chunks/_manifest-<gen>.json   # numbered snapshot log (newest wins)
    <base>/chunks/data/<commit>/pm=<m>/ps=<s>/*.parquet  # immutable slab dirs
"""

from __future__ import annotations

import json
import os
from typing import Sequence

import numpy as np

from cloud_volume_spark.geometry import Bbox, Vec

SUPPORTED_DTYPES = (
    "uint8", "uint16", "uint32", "uint64",
    "int8", "int16", "int32", "int64",
    "float16", "float32", "float64",
)

LAYER_TYPES = ("image", "segmentation")

# encoding → the per-scale tuning key that ``encoding_level`` sets
# (reference ``metadata.py:805-815``). The reference spells JPEG-XL
# ``jxl`` in compression_params (metadata.py:567) but ``jpegxl`` in
# add_scale (metadata.py:810) — accept both so a level declared under
# either spelling round-trips to the codec.
ENCODING_LEVEL_KEYS = {
    "jpeg": "jpeg_quality",
    "jxl": "jxl_quality",
    "jpegxl": "jxl_quality",
    "png": "png_level",
    "fpzip": "fpzip_precision",
}


class CyclicRedirectError(ValueError):
    """info ``redirect`` chain revisited a location (reference
    ``exceptions.CyclicRedirect``)."""


class TooManyRedirectsError(ValueError):
    """info ``redirect`` chain exceeded the hop budget (reference
    ``exceptions.TooManyRedirects``)."""


def _mip_key(resolution: Sequence) -> str:
    """Precomputed scale key, e.g. resolution (4,4,40) → ``"4_4_40"``.

    Float resolutions keep minimal precision (reference
    ``metadata.py:117-122`` getprecision semantics).
    """
    parts = []
    for r in resolution:
        f = float(r)
        parts.append(str(int(f)) if f.is_integer() else repr(f))
    return "_".join(parts)


class VolumeInfo:
    """Parsed+validated ``info`` document for one volume."""

    def __init__(self, info: dict):
        self.info = info
        self.base_path: str = ""        # set by load(): post-redirect location
        self.redirected_from: list = []  # redirect hops taken to get here
        self.validate()

    # ---- constructors -------------------------------------------------

    @classmethod
    def create(
        cls,
        layer_type: str,
        data_type: str,
        num_channels: int,
        resolution: Sequence,
        voxel_offset: Sequence,
        volume_size: Sequence,
        chunk_size: Sequence = (64, 64, 64),
        encoding: str = "raw",
        max_mip: int = 0,
        factor: Sequence = (2, 2, 1),
        compressed_segmentation_block_size: Sequence = (8, 8, 8),
        encoding_level: int | None = None,
        **extra,
    ) -> "VolumeInfo":
        """Equivalent of ``create_new_info`` (``metadata.py:77-155``):
        one scale per mip, each downsampled by ``factor`` from the last.
        ``encoding_level`` maps to the per-scale tuning key of the
        chosen encoding (jpeg_quality / png_level / fpzip_precision,
        reference ``metadata.py:807-815``); cseg layers record their
        sub-block size per scale."""
        info = {
            "type": layer_type,
            "data_type": data_type,
            "num_channels": int(num_channels),
            "scales": [],
        }
        info.update(extra)
        resolution = np.asarray(resolution, dtype=np.float64)
        offset = np.asarray(voxel_offset, dtype=np.int64)
        size = np.asarray(volume_size, dtype=np.int64)
        factor = np.asarray(factor, dtype=np.int64)
        for mip in range(max_mip + 1):
            res = resolution * (factor.astype(np.float64) ** mip)
            scale = {
                "key": _mip_key(res),
                "resolution": [int(r) if float(r).is_integer() else float(r) for r in res],
                "voxel_offset": [int(v) for v in np.floor_divide(offset, factor**mip)],
                "size": [int(v) for v in np.ceil(size / (factor**mip)).astype(np.int64)],
                "chunk_sizes": [[int(c) for c in chunk_size]],
                "encoding": encoding,
            }
            if encoding == "compressed_segmentation":
                scale["compressed_segmentation_block_size"] = [
                    int(b) for b in compressed_segmentation_block_size
                ]
            if encoding_level is not None:
                key = ENCODING_LEVEL_KEYS.get(encoding)
                if key is not None:
                    scale[key] = int(encoding_level)
            info["scales"].append(scale)
        return cls(info)

    @classmethod
    def from_json(cls, text: str) -> "VolumeInfo":
        return cls(json.loads(text))

    @classmethod
    def load(cls, base_path: str, max_redirects: int = 10) -> "VolumeInfo":
        """Load ``<base_path>/info``, following ``redirect`` links up to
        ``max_redirects`` hops (reference ``metadata.py:224-293``
        redirectable_fetch_info semantics: a self-redirect terminates,
        a revisited location raises CyclicRedirectError, exceeding the
        hop budget raises TooManyRedirectsError).  Returns the info with
        ``redirected_from`` recorded on the instance."""
        from cloud_volume_spark.fs import PathOps

        def norm(p: str) -> str:
            return p.rstrip("/")

        visited: list = []
        path = norm(base_path)
        if max_redirects <= 0:
            info = cls.from_json(
                PathOps(path).read_bytes(f"{path}/info").decode("utf-8"))
            info.base_path = path
            info.redirected_from = []
            return info
        for _ in range(max_redirects):
            # parse the raw document BEFORE validating: the reference's
            # documented stub form {"redirect": "..."} carries no
            # type/data_type/scales, so constructing VolumeInfo first
            # would raise before the redirect key is ever examined —
            # only the FINAL document must be a full, valid info
            doc = json.loads(
                PathOps(path).read_bytes(f"{path}/info").decode("utf-8"))
            target = doc.get("redirect")
            if not target:
                break
            target = norm(target)
            if target == path:
                break
            # visited entries are normalized identically to target, so
            # a slash-variant cycle (A/ -> B -> A) is caught here as
            # CyclicRedirectError instead of burning the hop budget
            if target in visited:
                hops = "\n\t".join(
                    f"{i + 1}. {v}" for i, v in enumerate(visited))
                raise CyclicRedirectError(
                    f"redirect cycle starting at {base_path}:\n\t{hops}")
            visited.append(path)
            path = target
        else:
            raise TooManyRedirectsError(
                f"more than {max_redirects} redirect hops from {base_path}")
        info = cls(doc)
        info.base_path = path
        info.redirected_from = visited
        return info

    # ---- validation ---------------------------------------------------

    def validate(self) -> None:
        info = self.info
        if info.get("type") not in LAYER_TYPES:
            raise ValueError(f"Unsupported layer type: {info.get('type')}")
        if info.get("data_type") not in SUPPORTED_DTYPES:
            raise ValueError(f"Unsupported data_type: {info.get('data_type')}")
        if not info.get("scales"):
            raise ValueError("info requires at least one scale")
        for scale in info["scales"]:
            enc = scale.get("encoding", "raw")
            # schema-level constraint from reference metadata.py:317-318
            if enc == "compressed_segmentation" and info["data_type"] not in (
                "uint32",
                "uint64",
            ):
                raise ValueError(
                    "compressed_segmentation requires uint32/uint64, got "
                    f"{info['data_type']}"
                )

    # ---- accessors ----------------------------------------------------

    @property
    def layer_type(self) -> str:
        return self.info["type"]

    @property
    def data_type(self) -> str:
        return self.info["data_type"]

    @property
    def dtype(self) -> np.dtype:
        return np.dtype(self.data_type)

    @property
    def num_channels(self) -> int:
        return int(self.info["num_channels"])

    @property
    def num_mips(self) -> int:
        return len(self.info["scales"])

    def scale(self, mip: int) -> dict:
        return self.info["scales"][mip]

    def key(self, mip: int) -> str:
        return self.scale(mip)["key"]

    def resolution(self, mip: int) -> Vec:
        return Vec(*self.scale(mip)["resolution"], dtype=np.float64)

    def voxel_offset(self, mip: int) -> Vec:
        return Vec(*self.scale(mip)["voxel_offset"], dtype=np.int64)

    def volume_size(self, mip: int) -> Vec:
        return Vec(*self.scale(mip)["size"], dtype=np.int64)

    def chunk_size(self, mip: int) -> Vec:
        return Vec(*self.scale(mip)["chunk_sizes"][0], dtype=np.int64)

    def encoding(self, mip: int) -> str:
        return self.scale(mip).get("encoding", "raw")

    def compression_params(self, mip: int) -> dict:
        """Per-scale codec tuning, keyed exactly like the reference
        (``metadata.py:556-574``): each scale dict may declare
        ``jpeg_quality`` / ``png_level`` /
        ``compressed_segmentation_block_size`` / ``fpzip_precision`` /
        ``zfpc_*`` / ``jxl_*``; the matching subset is handed to
        ``codecs.encode``/``decode`` so a layer's declared quality
        actually drives the bytes written (absent keys mean codec
        defaults)."""
        enc = self.encoding(mip)
        scale = self.scale(mip)
        if enc == "compressed_segmentation":
            return {"block_size": tuple(
                int(b) for b in scale.get(
                    "compressed_segmentation_block_size", (8, 8, 8))
            )}
        if enc == "png":
            return {"level": scale.get("png_level")}
        if enc == "jpeg":
            return {"level": scale.get("jpeg_quality")}
        if enc == "fpzip":
            return {"level": scale.get("fpzip_precision")}
        if enc == "zfpc":
            return {
                "rate": scale.get("zfpc_rate", -1),
                "precision": scale.get("zfpc_precision", -1),
                "tolerance": scale.get("zfpc_tolerance", -1),
                "correlated_dims": scale.get(
                    "zfpc_correlated_dims", [True] * 4),
            }
        if enc in ("jxl", "jpegxl"):
            return {
                "level": scale.get("jxl_quality"),
                "jxl_effort": scale.get("jxl_effort"),
                "jxl_decodingspeed": scale.get("jxl_decodingspeed"),
            }
        return {}

    def background_color(self) -> float:
        return self.info.get("background_color", 0)

    def bounds(self, mip: int) -> Bbox:
        offset = self.voxel_offset(mip)
        return Bbox.from_delta(offset, self.volume_size(mip))

    def grid_shape(self, mip: int) -> Vec:
        size = np.asarray(self.volume_size(mip))
        cs = np.asarray(self.chunk_size(mip))
        return Vec(*np.ceil(size / cs).astype(np.int64))

    # ---- mip transforms (reference metadata.py:624-700) ---------------

    def downsample_ratio(self, mip: int) -> Vec:
        return Vec(
            *(
                np.asarray(self.resolution(mip))
                / np.asarray(self.resolution(0))
            )
        )

    def bbox_to_mip(self, bbox: Bbox, from_mip: int, to_mip: int) -> Bbox:
        factor = np.asarray(self.resolution(to_mip)) / np.asarray(
            self.resolution(from_mip)
        )
        return bbox.scale_by(factor)

    def point_to_mip(self, pt: Sequence, from_mip: int, to_mip: int) -> Vec:
        factor = np.asarray(self.resolution(to_mip)) / np.asarray(
            self.resolution(from_mip)
        )
        return Vec(*np.floor(np.asarray(pt) / factor).astype(np.int64))

    # ---- scale registration (reference metadata.py:743-838) -----------

    def add_scale(self, factor: Sequence, chunk_size: Sequence | None = None,
                  encoding: str | None = None,
                  encoding_level: int | None = None) -> dict:
        """Register a new mip downsampled by ``factor`` from mip 0."""
        factor = np.asarray(factor, dtype=np.int64)
        res0 = np.asarray(self.resolution(0), dtype=np.float64)
        res = res0 * factor
        chunk_size = chunk_size if chunk_size is not None else self.chunk_size(0)
        scale = {
            "key": _mip_key(res),
            "resolution": [int(r) if float(r).is_integer() else float(r) for r in res],
            "voxel_offset": [int(v) for v in np.floor_divide(self.voxel_offset(0), factor)],
            "size": [int(v) for v in np.ceil(np.asarray(self.volume_size(0)) / factor).astype(np.int64)],
            "chunk_sizes": [[int(c) for c in chunk_size]],
            "encoding": encoding or self.encoding(0),
        }
        # carry codec tuning to the new scale (reference
        # metadata.py:807-822): cseg block size propagates from mip 0,
        # encoding_level maps to the encoding's tuning key
        if scale["encoding"] == "compressed_segmentation":
            scale["compressed_segmentation_block_size"] = [
                int(b) for b in self.scale(0).get(
                    "compressed_segmentation_block_size", (8, 8, 8))
            ]
        if encoding_level is not None:
            key = ENCODING_LEVEL_KEYS.get(scale["encoding"])
            if key is not None:
                scale[key] = int(encoding_level)
        existing = [s["key"] for s in self.info["scales"]]
        if scale["key"] in existing:
            self.info["scales"][existing.index(scale["key"])] = scale
        else:
            self.info["scales"].append(scale)
        return scale

    # ---- mip write locks (reference metadata.py:840-885) --------------

    def locked_mips(self) -> set:
        return set(self.info.get("locked_mips", []))

    def lock_mips(self, mips: Sequence[int]) -> None:
        self.info["locked_mips"] = sorted(self.locked_mips() | set(int(m) for m in mips))

    def unlock_mips(self, mips: Sequence[int]) -> None:
        self.info["locked_mips"] = sorted(self.locked_mips() - set(int(m) for m in mips))

    def check_mip_writable(self, mip: int) -> None:
        if mip in self.locked_mips():
            raise PermissionError(f"mip {mip} is write-locked")

    # ---- persistence (commit_info, metadata.py:295) -------------------

    def to_json(self) -> str:
        return json.dumps(self.info, sort_keys=True)

    def commit(self, base_path: str) -> None:
        from cloud_volume_spark.fs import PathOps
        ops = PathOps(base_path)
        ops.makedirs(base_path)
        ops.write_bytes(f"{base_path}/info", self.to_json().encode("utf-8"))

    def clone(self) -> "VolumeInfo":
        return VolumeInfo(json.loads(self.to_json()))
