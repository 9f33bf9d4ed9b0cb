"""Neuroglancer Precomputed (unsharded) import/export — ecosystem
fidelity layer.

The native storage is the Parquet chunk table; these converters move a
volume between that and the reference's on-disk layout: an ``info``
JSON plus one file per chunk named ``<scale_key>/x0-x1_y0-y1_z0-z1``
(filename grammar ``image/common.py:137-155``, ``lib.py:520/:584``),
optionally gzip-compressed.

Both directions are Spark jobs over the chunk grid — executors read or
write their own partition's files, the driver only lists directories.
Imports store each file's payload as read through
:func:`~cloud_volume_spark.volume.chunk_row` (stats from the codec's own
``labels``); exports take each chunk's payload from
:func:`~cloud_volume_spark.volume.decode_chunk`. Neither touches the
chunk-row format itself.
"""

from __future__ import annotations

import gzip
import zlib
import os
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from cloud_volume_spark import codecs
from cloud_volume_spark.catalog import VolumeInfo
from cloud_volume_spark.geometry import Bbox
from cloud_volume_spark.volume import (
    CHUNK_COLUMNS, CHUNK_SCHEMA, Volume, chunk_row, decode_chunk,
)


def export_unsharded(vol: Volume, out_dir: str, mip: int = 0,
                     gzip_files: bool = True) -> int:
    """Chunk table → precomputed directory. Returns file count."""
    from cloud_volume_spark.paths import require_local, resolve_cloudpath

    out_dir = require_local(resolve_cloudpath(out_dir),
                            "export_unsharded")
    key = vol.info.key(mip)
    scale_dir = os.path.join(out_dir, key)
    os.makedirs(scale_dir, exist_ok=True)
    # precomputed-compatible info — with any stale per-scale
    # 'sharding' key stripped (e.g. a volume imported FROM a sharded
    # layer): readers seeing scale.sharding next to loose chunk files
    # would take the shard path and fail
    info = vol.info.clone()
    for sc in info.info.get("scales", []):
        sc.pop("sharding", None)
    info.commit(out_dir)

    suffix = ".gz" if gzip_files else ""

    def write_files(batches):
        n = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                bbox = Bbox((r.x0, r.y0, r.z0), (r.x1, r.y1, r.z1))
                raw = decode_chunk(r)
                # compress_stream = the tuned deterministic gzip
                # (level 6, mtime=0): level-9 here paid 2-3x CPU per
                # chunk for <1% size, per codecs' own measurement
                payload = (codecs.compress_stream(raw, "gzip")
                           if gzip_files else raw)
                with open(
                    os.path.join(scale_dir, bbox.to_filename() + suffix), "wb"
                ) as f:
                    f.write(payload)
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = (
        vol.chunks_df()
        .where(F.col("mip") == int(mip))
        .mapInPandas(write_files, schema="n long")
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    return int(counts or 0)


def import_unsharded(spark, src_dir: str, base_path: str,
                     mip: int = 0, compression: Optional[str] = "gzip") -> Volume:
    """Precomputed directory → new chunk-table volume (one mip)."""
    return import_pyramid(spark, src_dir, base_path, mips=[int(mip)],
                          compression=compression)


def import_pyramid(spark, src_dir: str, base_path: str,
                   mips=None, compression: Optional[str] = "gzip") -> Volume:
    """Precomputed directory → new chunk-table volume — EVERY scale with
    data (or the given ``mips``) in ONE Spark job, the whole-pyramid
    migration the reference performs via its transfer task queue
    (``xfer.py``).

    The driver lists filenames (cheap — names only); executors read and
    re-encode the chunk payloads in parallel. Per-mip geometry/codec
    metadata rides a tiny broadcast dict keyed by the file's mip.
    """
    from cloud_volume_spark.paths import require_local, resolve_cloudpath

    src_dir = require_local(resolve_cloudpath(src_dir), "import_pyramid")
    info = VolumeInfo.load(src_dir)
    if mips is None:
        mips = [
            m for m in range(len(info.info["scales"]))
            if os.path.isdir(os.path.join(src_dir, info.key(m)))
        ]
    mips = [int(m) for m in mips]
    vol = Volume.create(spark, base_path, info)
    slab_shift = vol.slab_shift
    seg = info.layer_type == "segmentation"
    dtype = info.data_type
    nc = info.num_channels
    # mip → (chunk_size, voxel_offset, grid, encoding, codec params)
    meta = {
        m: (
            [int(c) for c in info.chunk_size(m)],
            [int(v) for v in info.voxel_offset(m)],
            [int(g) for g in info.grid_shape(m)],
            info.encoding(m),
            info.compression_params(m),
        )
        for m in mips
    }

    def _is_chunk_name(n: str) -> bool:
        # stray files (partial uploads, Thumbs.db, .shard) must be
        # skipped, not crash the whole import in Bbox.from_filename
        base = n
        for suf in (".gz", ".br", ".zstd"):
            if base.endswith(suf):
                base = base[: -len(suf)]
                break
        try:
            Bbox.from_filename(base)
            return True
        except Exception:
            return False

    entries = []
    for m in mips:
        scale_dir = os.path.join(src_dir, info.key(m))
        entries.extend(
            (os.path.join(scale_dir, n), n, m)
            for n in sorted(os.listdir(scale_dir))
            if not n.startswith(".") and _is_chunk_name(n)
        )
    files_df = spark.createDataFrame(
        entries, schema="path string, name string, mip int",
    ).repartition(max(1, min(len(entries), 256)))

    def read_files(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                cs, voff, grid, encoding, cparams = meta[int(r.mip)]
                name = r.name
                stage = None
                for suf, enc in ((".gz", "gzip"), (".br", "br"),
                                 (".zstd", "zstd")):
                    if name.endswith(suf):
                        name, stage = name[: -len(suf)], enc
                        break
                bbox = Bbox.from_filename(name)
                with open(r.path, "rb") as f:
                    payload = f.read()
                if stage is not None:
                    # dispatch on the suffix the filename grammar
                    # accepts — treating .br/.zstd as raw stored the
                    # still-compressed bytes as chunk data
                    payload = codecs.decompress_stream(payload, stage)
                else:
                    try:  # content-encoded gzip without suffix
                        payload = gzip.decompress(payload)
                    except (OSError, EOFError, zlib.error):
                        # zlib.error: payload merely STARTED with the
                        # gzip magic (possible in raw voxel bytes) —
                        # fall back to raw, don't kill the import
                        pass
                cx = (int(bbox.minpt[0]) - voff[0]) // cs[0]
                cy = (int(bbox.minpt[1]) - voff[1]) // cs[1]
                cz = (int(bbox.minpt[2]) - voff[2]) // cs[2]
                # the payload is stored as read; stats come from the
                # codec's own label streams where it has them — incl.
                # foreign wheel-written compresso (v0/v1), whose full
                # decode is wheel-gated
                rows.append(chunk_row(
                    r.mip, cx, cy, cz, bbox, encoding, compression,
                    grid=grid, slab_shift=slab_shift, payload=payload,
                    stats=seg, dtype=dtype, nc=nc, params=cparams))
            yield pd.DataFrame(rows, columns=CHUNK_COLUMNS)

    rows_df = files_df.mapInPandas(read_files, schema=CHUNK_SCHEMA)
    vol._overwrite_slabs(rows_df)
    return vol


def export_pyramid(vol: Volume, out_dir: str, mips=None,
                   gzip_files: bool = True) -> int:
    """Chunk table → precomputed directory, every mip with data (or the
    given ``mips``). Returns total file count."""
    if mips is None:
        mips = [
            m for m in range(len(vol.info.info["scales"]))
            if vol.has_data(m)
        ]
    return sum(
        export_unsharded(vol, out_dir, mip=int(m), gzip_files=gzip_files)
        for m in mips
    )


# ---------------------------------------------------------------------------
# sharded format (import/export fidelity; native storage stays Parquet)
# ---------------------------------------------------------------------------

def export_sharded(vol: Volume, out_dir: str, mip: int = 0,
                   spec=None) -> int:
    """Chunk table → ``.shard`` files addressed by compressed morton
    code (reference ``_upload_shard``/``make_shard``,
    ``image/__init__.py:455-482, 758-827``). One applyInPandas group
    per shard synthesizes its file; returns shard count."""
    from cloud_volume_spark.paths import require_local, resolve_cloudpath
    from cloud_volume_spark.sharding import (
        ShardingSpecification, synthesize_shard_file,
    )

    out_dir = require_local(resolve_cloudpath(out_dir), "export_sharded")

    if spec is None:
        spec = ShardingSpecification(
            preshift_bits=3, hash="identity", minishard_bits=3,
            shard_bits=5, minishard_index_encoding="gzip",
            data_encoding="gzip",
        )
    key = vol.info.key(mip)
    scale_dir = os.path.join(out_dir, key)
    os.makedirs(scale_dir, exist_ok=True)
    info = vol.info.clone()
    info.scale(mip)["sharding"] = spec.to_dict()
    info.commit(out_dir)

    spec_dict = spec.to_dict()

    def shard_no_of(morton: int) -> str:
        return spec.compute_shard_location(morton)[0]

    shard_udf = F.udf(shard_no_of, StringType())

    chunks = vol.chunks_df().where(F.col("mip") == int(mip))

    def write_shard(keyvals, pdf):
        sp = ShardingSpecification.from_dict(spec_dict)
        group = {}
        for r in pdf.itertuples(index=False):
            group[int(r.morton)] = decode_chunk(r)
        blob = synthesize_shard_file(sp, group)
        shard_no = str(keyvals[0])
        with open(os.path.join(scale_dir, f"{shard_no}.shard"), "wb") as f:
            f.write(blob)
        return pd.DataFrame({"shard": [shard_no], "n_chunks": [len(group)]})

    out = (
        chunks.withColumn("shard_no", shard_udf("morton"))
        .groupBy("shard_no")
        .applyInPandas(write_shard, schema="shard string, n_chunks long")
    )
    return out.count()


def import_sharded(spark, src_dir: str, base_path: str, mip: int = 0,
                   compression: Optional[str] = "gzip") -> Volume:
    """``.shard`` files → chunk table: executors parse whole shard
    files (3-level index walk) and emit chunk rows; morton codes decode
    back to grid coordinates."""
    from cloud_volume_spark.chunking import decode_morton
    from cloud_volume_spark.paths import require_local, resolve_cloudpath
    from cloud_volume_spark.sharding import ShardFileReader, ShardingSpecification

    src_dir = require_local(resolve_cloudpath(src_dir), "import_sharded")

    info = VolumeInfo.load(src_dir)
    key = info.key(mip)
    scale = info.scale(mip)
    spec_dict = scale["sharding"]
    scale_dir = os.path.join(src_dir, key)
    vol = Volume.create(spark, base_path, info)
    slab_shift = vol.slab_shift

    grid = [int(g) for g in info.grid_shape(mip)]
    cs = [int(c) for c in info.chunk_size(mip)]
    voff = [int(v) for v in info.voxel_offset(mip)]
    bounds = info.bounds(mip)
    encoding = info.encoding(mip)
    cparams = info.compression_params(mip)
    seg = info.layer_type == "segmentation"
    dtype = info.data_type
    nc = info.num_channels

    shard_files = sorted(
        n for n in os.listdir(scale_dir) if n.endswith(".shard")
    )
    files_df = spark.createDataFrame(
        [(os.path.join(scale_dir, n),) for n in shard_files],
        schema="path string",
    ).repartition(max(1, min(len(shard_files), 64)))

    def read_shards(batches):
        sp = ShardingSpecification.from_dict(spec_dict)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                with open(r.path, "rb") as f:
                    reader = ShardFileReader(sp, f.read())
                for morton, payload in reader.items():
                    cx, cy, cz = decode_morton(morton, grid)
                    cell = Bbox.from_delta(
                        np.array(voff) + np.array([cx, cy, cz]) * np.array(cs),
                        cs,
                    ).clamp(bounds)
                    rows.append(chunk_row(
                        mip, cx, cy, cz, cell, encoding, compression,
                        grid=grid, slab_shift=slab_shift, payload=payload,
                        stats=seg, dtype=dtype, nc=nc, params=cparams))
            yield pd.DataFrame(rows, columns=CHUNK_COLUMNS)

    rows_df = files_df.mapInPandas(read_shards, schema=CHUNK_SCHEMA)
    vol._overwrite_slabs(rows_df)
    return vol
