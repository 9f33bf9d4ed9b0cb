"""zarr v2 / v3 and N5 interop — ecosystem fidelity layer.

The reference ships zarr2/zarr3 read-write and n5 read-only frontends
(``datasource/zarr3/metadata.py``, ``datasource/zarr3/image.py:49-139``
codec pipeline, ``datasource/n5/image.py:44-90`` block format). Native
storage here stays the Parquet chunk table; these converters move
volumes between that and the standard on-disk layouts:

- **zarr3**: root group ``zarr.json`` + per-array ``zarr.json``
  (shape/chunk_grid/codecs/dimension_names), chunk files
  ``c/<i>/<j>/<k>`` (``default`` key encoding). Edge chunks are stored
  padded to full chunk shape per the zarr spec. Codecs: ``bytes``
  (little/big endian), ``gzip``/``zlib``, ``crc32c`` (pure-python
  Castagnoli), ``transpose``, ``zstd`` (via pyarrow); ``blosc`` gated
  behind an import-try.
- **zarr2**: ``.zarray`` JSON, chunk keys ``i.j.k`` (configurable
  separator), compressor ``zlib``/``gzip``/null, order C or F.
- **n5** (import + export; the reference reads only): ``attributes.json``
  + ``s<mip>/<x>/<y>/<z>`` blocks — big-endian 16-byte-ish header
  (mode, ndim, per-dim int32 sizes) + big-endian payload, dimension 0
  fastest; edge blocks are clamped, not padded.

Both directions are Spark jobs: the driver lists names, executors do
all payload IO/transcode — the same pattern as precomputed_io. Imports
hand each decoded block to :func:`~cloud_volume_spark.volume.chunk_row`
(stored ``raw``); exports decode with
:func:`~cloud_volume_spark.volume.decode_chunk`. Neither touches the
chunk-row format itself.
"""

from __future__ import annotations

import gzip
import json
import os
import zlib
from typing import Optional

import numpy as np
import pandas as pd

from cloud_volume_spark.catalog import VolumeInfo
from cloud_volume_spark.geometry import Bbox
from cloud_volume_spark.volume import (
    CHUNK_COLUMNS, CHUNK_SCHEMA, Volume, chunk_row, decode_chunk,
)

# --------------------------------------------------------------------------
# crc32c (Castagnoli, reflected 0x82F63B78) — zarr3 "crc32c" codec
# --------------------------------------------------------------------------

_CRC32C_TABLE = None


def _crc32c_table():
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    return _CRC32C_TABLE


def crc32c(data: bytes) -> int:
    # a C implementation when one is available — the per-byte Python
    # loop runs ~1 MB/s/core, which dominates any import whose codec
    # list includes crc32c (zarr-python's sharded configs do)
    try:
        import crc32c as _c  # the PyPI 'crc32c' package

        return int(_c.crc32c(bytes(data)))
    except ImportError:
        pass
    try:
        import google_crc32c as _g

        return int.from_bytes(_g.Checksum(bytes(data)).digest(), "big")
    except ImportError:
        pass
    tbl = _crc32c_table()
    crc = 0xFFFFFFFF
    for b in bytes(data):
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# --------------------------------------------------------------------------
# zarr3 codec pipeline (reference zarr3/image.py:49-139)
# --------------------------------------------------------------------------

DEFAULT_ZARR3_CODECS = [
    {"name": "bytes", "configuration": {"endian": "little"}},
    {"name": "gzip", "configuration": {"level": 5}},
]


def _decompress_named(data: bytes, name: str, nbytes_hint: int) -> bytes:
    if name in ("gzip", "zlib"):
        return gzip.decompress(data) if data[:2] == b"\x1f\x8b" \
            else zlib.decompress(data)
    if name == "zstd":
        import pyarrow as pa
        return pa.Codec("zstd").decompress(data, nbytes_hint)
    if name == "blosc":
        try:
            import blosc
        except ImportError as e:
            raise NotImplementedError(
                "blosc codec requires the blosc package"
            ) from e
        return blosc.decompress(data)
    raise NotImplementedError(f"unsupported zarr codec: {name}")


def _compress_named(data: bytes, name: str, level: int) -> bytes:
    if name == "gzip":
        return gzip.compress(data, compresslevel=level, mtime=0)
    if name == "zlib":
        return zlib.compress(data, level)
    if name == "zstd":
        import pyarrow as pa
        return pa.Codec("zstd", compression_level=level).compress(
            data, asbytes=True
        )
    raise NotImplementedError(f"unsupported zarr codec: {name}")


_SHARD_MISSING = (1 << 64) - 1
_DEFAULT_INDEX_CODECS = [
    {"name": "bytes", "configuration": {"endian": "little"}},
    {"name": "crc32c"},
]


def _shard_index_nbytes(n_inner: int, index_codecs) -> int:
    nbytes = n_inner * 16
    if any(c.get("name") == "crc32c" for c in index_codecs):
        nbytes += 4
    return nbytes


def _decode_shard_index(raw: bytes, n_inner: int, index_codecs) -> np.ndarray:
    """→ (n_inner, 2) uint64 array of (offset, nbytes); missing =
    2**64-1."""
    data = raw
    endian = "little"
    for codec in reversed(index_codecs):
        name = codec.get("name")
        if name == "crc32c":
            stored = int.from_bytes(data[-4:], "little")
            if stored != crc32c(data[:-4]):
                raise ValueError("crc32c mismatch in zarr shard index")
            data = data[:-4]
        elif name == "bytes":
            endian = (codec.get("configuration") or {}).get("endian", "little")
        else:
            raise NotImplementedError(
                f"unsupported zarr shard index codec: {name}"
            )
    dt = "<u8" if endian == "little" else ">u8"
    return np.frombuffer(data, dtype=dt).astype(np.uint64).reshape(n_inner, 2)


def _decode_sharded_chunk(blob: bytes, cfg: dict, dtype, outer_dims,
                          fill_value=0) -> np.ndarray:
    """zarr3 ``sharding_indexed`` codec: one stored object packs a grid
    of independently-encoded inner chunks plus an (offset, nbytes)
    index (zarr v3 spec; the reference refuses these outright —
    ``/root/reference/cloudvolume/datasource/zarr3/image.py:150``)."""
    inner = [int(c) for c in cfg["chunk_shape"]]
    if len(inner) != len(outer_dims) or any(
        o % i for o, i in zip(outer_dims, inner)
    ):
        raise ValueError(
            f"shard inner chunk_shape {inner} does not tile outer "
            f"chunk {tuple(outer_dims)}"
        )
    grid = [o // i for o, i in zip(outer_dims, inner)]
    n_inner = int(np.prod(grid))
    index_codecs = cfg.get("index_codecs", _DEFAULT_INDEX_CODECS)
    idx_nbytes = _shard_index_nbytes(n_inner, index_codecs)
    if cfg.get("index_location", "end") == "start":
        raw_idx = blob[:idx_nbytes]
    else:
        raw_idx = blob[-idx_nbytes:]
    index = _decode_shard_index(raw_idx, n_inner, index_codecs)
    inner_codecs = cfg.get("codecs", [{"name": "bytes"}])
    out = np.full(tuple(outer_dims), fill_value, dtype=np.dtype(dtype))
    for flat in range(n_inner):
        off, nb = int(index[flat, 0]), int(index[flat, 1])
        if off == _SHARD_MISSING:
            continue  # missing inner chunk → fill_value
        sub = decode_zarr3_chunk(
            blob[off:off + nb], inner_codecs, dtype, tuple(inner)
        )
        pos = np.unravel_index(flat, grid)  # inner chunks in C-order
        sl = tuple(
            slice(p * i, (p + 1) * i) for p, i in zip(pos, inner)
        )
        out[sl] = sub
    return out


def _encode_sharded_chunk(arr: np.ndarray, cfg: dict,
                          fill_value=None) -> bytes:
    """Inverse of :func:`_decode_sharded_chunk` (index written at
    ``index_location``, default end; inner chunks equal to
    ``fill_value`` everywhere are elided as missing entries)."""
    inner = [int(c) for c in cfg["chunk_shape"]]
    if len(inner) != arr.ndim or any(
        o % i for o, i in zip(arr.shape, inner)
    ):
        raise ValueError(
            f"shard inner chunk_shape {inner} does not tile outer "
            f"chunk {arr.shape}"
        )
    grid = [o // i for o, i in zip(arr.shape, inner)]
    n_inner = int(np.prod(grid))
    inner_codecs = cfg.get("codecs", [{"name": "bytes"}])
    index_codecs = cfg.get("index_codecs", _DEFAULT_INDEX_CODECS)
    at_start = cfg.get("index_location", "end") == "start"
    idx_nbytes = _shard_index_nbytes(n_inner, index_codecs)
    base = idx_nbytes if at_start else 0
    payload = bytearray()
    index = np.full((n_inner, 2), _SHARD_MISSING, dtype=np.uint64)
    for flat in range(n_inner):
        pos = np.unravel_index(flat, grid)
        sl = tuple(slice(p * i, (p + 1) * i) for p, i in zip(pos, inner))
        sub = np.ascontiguousarray(arr[sl])
        if fill_value is not None and np.all(sub == fill_value):
            continue
        enc = encode_zarr3_chunk(sub, inner_codecs)
        index[flat] = (base + len(payload), len(enc))
        payload += enc
    endian = "little"
    for codec in index_codecs:
        if codec.get("name") == "bytes":
            endian = (codec.get("configuration") or {}).get("endian", "little")
    raw_idx = index.astype("<u8" if endian == "little" else ">u8").tobytes()
    if any(c.get("name") == "crc32c" for c in index_codecs):
        raw_idx += crc32c(raw_idx).to_bytes(4, "little")
    return bytes(raw_idx) + bytes(payload) if at_start \
        else bytes(payload) + bytes(raw_idx)


def decode_zarr3_chunk(binary: bytes, codec_list, dtype, chunk_dims,
                       fill_value=0) -> np.ndarray:
    """bytes → C-order array shaped ``chunk_dims`` (array axis order).

    The decode chain runs the codec list in reverse, so each stage must
    invert its encode counterpart: the bytes stage deserializes to the
    *transposed* dims (that is the shape that was serialized), and the
    transpose stage applies the inverse permutation. A
    ``sharding_indexed`` codec (the sole array→bytes codec when
    present) dispatches to the shard path."""
    for codec in codec_list:
        if codec.get("name") == "sharding_indexed":
            return _decode_sharded_chunk(
                binary, codec.get("configuration", {}) or {}, dtype,
                chunk_dims, fill_value,
            )
    dtype = np.dtype(dtype)
    nbytes = int(np.prod(chunk_dims)) * dtype.itemsize
    perm = None
    for codec in codec_list:
        if codec.get("name") == "transpose":
            perm = list((codec.get("configuration", {}) or {})["order"])
    arr = binary
    for codec in reversed(codec_list):
        name = codec.get("name", "bytes")
        cfg = codec.get("configuration", {}) or {}
        if name == "bytes":
            dt = dtype.newbyteorder(
                ">" if cfg.get("endian") == "big" else "<"
            )
            arr = np.frombuffer(arr, dtype=dt).astype(dtype, copy=False)
            stored_dims = (
                tuple(chunk_dims[i] for i in perm) if perm else chunk_dims
            )
            arr = arr.reshape(stored_dims, order="C")
        elif name == "crc32c":
            stored = int.from_bytes(arr[-4:], "little")
            if stored != crc32c(arr[:-4]):
                raise ValueError("crc32c mismatch in zarr chunk")
            arr = arr[:-4]
        elif name == "transpose":
            arr = np.transpose(arr, axes=np.argsort(cfg["order"]))
        else:
            arr = _decompress_named(arr, name, nbytes)
    return arr


def encode_zarr3_chunk(arr: np.ndarray, codec_list, fill_value=None) -> bytes:
    """C-order array (array axis order) → bytes via the codec chain."""
    for codec in codec_list:
        if codec.get("name") == "sharding_indexed":
            return _encode_sharded_chunk(
                arr, codec.get("configuration", {}) or {}, fill_value
            )
    out = arr
    for codec in codec_list:
        name = codec.get("name", "bytes")
        cfg = codec.get("configuration", {}) or {}
        if name == "bytes":
            dt = out.dtype.newbyteorder(
                ">" if cfg.get("endian") == "big" else "<"
            )
            out = np.ascontiguousarray(out).astype(dt, copy=False).tobytes()
        elif name == "crc32c":
            out = out + crc32c(out).to_bytes(4, "little")
        elif name == "transpose":
            out = np.transpose(out, axes=cfg["order"])
        else:
            out = _compress_named(out, name, int(cfg.get("level", 5)))
    return out


# --------------------------------------------------------------------------
# axis mapping: zarr dimension_names ↔ our (x, y, z, c[, t])
# --------------------------------------------------------------------------

def _default_dims(ndim: int):
    return {3: ["z", "y", "x"], 4: ["c", "z", "y", "x"],
            5: ["t", "c", "z", "y", "x"]}[ndim]


def _axis_index(dims, name):
    return dims.index(name) if name in dims else None


# --------------------------------------------------------------------------
# zarr3 export / import
# --------------------------------------------------------------------------

def export_zarr3(vol: Volume, out_dir: str, mip: int = 0,
                 codec_list=None) -> int:
    """Chunk table → zarr v3 group with one array named ``<mip>``.
    Returns the number of chunk files written."""
    codec_list = codec_list or DEFAULT_ZARR3_CODECS
    info = vol.info
    cs = [int(c) for c in info.chunk_size(mip)]
    size = [int(s) for s in info.volume_size(mip)]
    voff = [int(v) for v in info.voxel_offset(mip)]
    nc = info.num_channels
    dtype = info.dtype
    cparams = info.compression_params(mip)
    bg = info.background_color()

    os.makedirs(os.path.join(out_dir, str(mip), "c"), exist_ok=True)
    root = {
        "zarr_format": 3,
        "node_type": "group",
        "attributes": {
            "cloud_volume_spark": {
                "voxel_offset": voff,
                "resolution": [float(r) for r in info.resolution(mip)],
                "layer_type": info.layer_type,
            },
        },
    }
    with open(os.path.join(out_dir, "zarr.json"), "w") as f:
        json.dump(root, f, indent=2)

    array_meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [nc, size[2], size[1], size[0]],
        "data_type": str(dtype),
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": [nc, cs[2], cs[1], cs[0]]},
        },
        "chunk_key_encoding": {
            "name": "default", "configuration": {"separator": "/"},
        },
        "fill_value": bg if isinstance(bg, int) else float(bg),
        "codecs": codec_list,
        "dimension_names": ["c", "z", "y", "x"],
    }
    with open(os.path.join(out_dir, str(mip), "zarr.json"), "w") as f:
        json.dump(array_meta, f, indent=2)

    mip_dir = os.path.join(out_dir, str(mip))

    def write_chunks(batches):
        n = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                arr = decode_chunk(r, dtype, nc, cparams)
                # zarr stores edge chunks padded to full chunk shape
                if arr.shape[:3] != tuple(cs):
                    full = np.full(tuple(cs) + (nc,), bg, dtype=dtype)
                    full[:arr.shape[0], :arr.shape[1], :arr.shape[2], :] = arr
                    arr = full
                # (x,y,z,c) → C-order (c,z,y,x)
                czyx = np.ascontiguousarray(arr.transpose(3, 2, 1, 0))
                payload = encode_zarr3_chunk(czyx, codec_list, fill_value=bg)
                key_dir = os.path.join(
                    mip_dir, "c", "0", str(r.cz), str(r.cy)
                )
                os.makedirs(key_dir, exist_ok=True)
                with open(os.path.join(key_dir, str(r.cx)), "wb") as f:
                    f.write(payload)
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = (
        vol.chunks_df()
        .where(f"mip = {int(mip)}")
        .mapInPandas(write_chunks, schema="n long")
        .collect()
    )
    return int(sum(r.n for r in counts))


def _find_zarr3_array(src_dir: str):
    """→ (array_dir, array_meta, root_attrs)."""
    root_path = os.path.join(src_dir, "zarr.json")
    with open(root_path) as f:
        root = json.load(f)
    if root.get("node_type") == "array":
        return src_dir, root, {}
    attrs = root.get("attributes", {})
    for name in sorted(os.listdir(src_dir)):
        cand = os.path.join(src_dir, name, "zarr.json")
        if os.path.isfile(cand):
            with open(cand) as f:
                meta = json.load(f)
            if meta.get("node_type") == "array":
                return os.path.join(src_dir, name), meta, attrs
    raise FileNotFoundError(f"no zarr v3 array under {src_dir}")


def import_zarr3(spark, src_dir: str, base_path: str,
                 compression: Optional[str] = "gzip", t: int = 0) -> Volume:
    """zarr v3 array (or group containing one) → new chunk-table
    volume. A ``t`` axis, if present, is sliced at index ``t`` (the
    reference's batch-time semantics, ``zarr3/image.py:203-206``).
    ``src_dir`` accepts reference-style cloudpaths (``zarr://…``)."""
    from cloud_volume_spark.paths import require_local, resolve_cloudpath

    src_dir = require_local(
        resolve_cloudpath(src_dir, formats=("zarr", "zarr3")), "import_zarr3")
    arr_dir, meta, attrs = _find_zarr3_array(src_dir)
    dims = meta.get("dimension_names") or _default_dims(len(meta["shape"]))
    dims = [d.lower() if d else "?" for d in dims]
    shape = [int(s) for s in meta["shape"]]
    chunk_shape = [
        int(c) for c in meta["chunk_grid"]["configuration"]["chunk_shape"]
    ]
    codec_list = meta.get("codecs", [{"name": "bytes"}])
    dtype = np.dtype(meta["data_type"])
    fill_value = meta.get("fill_value", 0) or 0

    key_enc = meta.get("chunk_key_encoding", {"name": "default"})
    sep = (key_enc.get("configuration") or {}).get(
        "separator", "/" if key_enc["name"] == "default" else "."
    )
    prefix = "c" if key_enc["name"] == "default" else ""

    ix, iy, iz = (_axis_index(dims, a) for a in "xyz")
    ic, it = _axis_index(dims, "c"), _axis_index(dims, "t")
    if ix is None or iy is None or iz is None:
        raise ValueError(f"need x/y/z axes, got dimension_names={dims}")

    size3 = [shape[ix], shape[iy], shape[iz]]
    cs3 = [chunk_shape[ix], chunk_shape[iy], chunk_shape[iz]]
    nc = shape[ic] if ic is not None else 1

    cvs_attrs = attrs.get("cloud_volume_spark", {})
    voff = [int(v) for v in cvs_attrs.get("voxel_offset", (0, 0, 0))]
    res = cvs_attrs.get("resolution", (1, 1, 1))
    layer_type = cvs_attrs.get(
        "layer_type",
        "segmentation" if dtype in (np.uint32, np.uint64) else "image",
    )

    info = VolumeInfo.create(
        layer_type=layer_type, data_type=str(dtype), num_channels=nc,
        resolution=res, voxel_offset=voff, volume_size=size3,
        chunk_size=cs3, encoding="raw",
        # zarr elides all-fill chunks; without the store's fill_value
        # as our background_color those regions would read back as 0
        background_color=float(fill_value),
    )
    vol = Volume.create(spark, base_path, info)
    slab_shift = vol.slab_shift

    # driver lists names only. Chunk keys depend on the declared
    # chunk_key_encoding: 'default' is 'c' + sep + indices — nested
    # dirs for sep='/', FLAT files 'c.0.0.0' in the array dir for
    # sep='.' (the old 'c/' walk silently imported such stores as
    # EMPTY); 'v2' is bare indices with the same two separator forms.
    def _indices(parts):
        try:
            return [int(p) for p in parts]
        except ValueError:
            return None  # stray file, not a chunk key

    entries = []  # (path, "i.j.k" canonical key)
    if prefix and sep == "/":
        chunk_root = os.path.join(arr_dir, "c")
        for dirpath, _, files in os.walk(chunk_root):
            for fname in files:
                p = os.path.join(dirpath, fname)
                idx = _indices(
                    os.path.relpath(p, chunk_root).split(os.sep))
                if idx is not None:
                    entries.append((p, ".".join(map(str, idx))))
    elif prefix:  # default encoding, '.' separator: flat c.0.0.0
        for fname in sorted(os.listdir(arr_dir)):
            if not fname.startswith("c" + sep):
                continue
            idx = _indices(fname.split(sep)[1:])
            if idx is not None:
                entries.append((os.path.join(arr_dir, fname),
                                ".".join(map(str, idx))))
    elif sep == "/":  # v2 encoding, nested dirs of bare indices
        for dirpath, _, files in os.walk(arr_dir):
            for fname in files:
                p = os.path.join(dirpath, fname)
                idx = _indices(os.path.relpath(p, arr_dir).split(os.sep))
                if idx is not None:
                    entries.append((p, ".".join(map(str, idx))))
    else:  # v2 encoding, '.' separator: flat 0.0.0
        for fname in sorted(os.listdir(arr_dir)):
            idx = _indices(fname.split(sep))
            if idx is not None:
                entries.append((os.path.join(arr_dir, fname),
                                ".".join(map(str, idx))))
    if not entries:
        return vol

    tchunk = (
        t // chunk_shape[it] if it is not None else None
    )
    tslice = t % chunk_shape[it] if it is not None else None

    grid = [int(g) for g in info.grid_shape(0)]
    seg = layer_type == "segmentation"

    files_df = spark.createDataFrame(
        entries, schema="path string, key string"
    ).repartition(max(1, min(len(entries), 256)))

    def read_chunks(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                idx = [int(p) for p in r.key.split(".")]
                if it is not None and idx[it] != tchunk:
                    continue
                ci = {a: idx[i] for a, i in
                      (("x", ix), ("y", iy), ("z", iz))}
                with open(r.path, "rb") as f:
                    payload = f.read()
                arr = decode_zarr3_chunk(
                    payload, codec_list, dtype, tuple(chunk_shape),
                    fill_value=fill_value,
                )
                # slice t, reorder to (x, y, z, c)
                take = [slice(None)] * len(dims)
                if it is not None:
                    take[it] = tslice
                arr = arr[tuple(take)]
                rem_dims = [d for i, d in enumerate(dims) if i != it]
                perm = [rem_dims.index(a) for a in "xyz"]
                if "c" in rem_dims:
                    perm.append(rem_dims.index("c"))
                    arr = arr.transpose(perm)
                else:
                    arr = arr.transpose(perm)[..., np.newaxis]
                # crop zarr's padded edge chunks to dataset bounds
                x0 = voff[0] + ci["x"] * cs3[0]
                y0 = voff[1] + ci["y"] * cs3[1]
                z0 = voff[2] + ci["z"] * cs3[2]
                x1 = min(x0 + cs3[0], voff[0] + size3[0])
                y1 = min(y0 + cs3[1], voff[1] + size3[1])
                z1 = min(z0 + cs3[2], voff[2] + size3[2])
                if x1 <= x0 or y1 <= y0 or z1 <= z0:
                    continue
                arr = np.asfortranarray(
                    arr[: x1 - x0, : y1 - y0, : z1 - z0, :]
                )
                rows.append(chunk_row(
                    0, ci["x"], ci["y"], ci["z"],
                    Bbox((x0, y0, z0), (x1, y1, z1)), "raw", compression,
                    grid=grid, slab_shift=slab_shift, arr=arr, stats=seg))
            yield pd.DataFrame(rows, columns=CHUNK_COLUMNS)

    vol._overwrite_slabs(files_df.mapInPandas(read_chunks, schema=CHUNK_SCHEMA))
    return vol


# --------------------------------------------------------------------------
# zarr2 export / import
# --------------------------------------------------------------------------

def export_zarr2(vol: Volume, out_dir: str, mip: int = 0,
                 level: int = 5) -> int:
    """Chunk table → zarr v2 array dir (``.zarray`` + ``i.j.k`` files,
    zlib compressor, C order, axes (c, z, y, x))."""
    info = vol.info
    cs = [int(c) for c in info.chunk_size(mip)]
    size = [int(s) for s in info.volume_size(mip)]
    nc = info.num_channels
    dtype = info.dtype
    cparams = info.compression_params(mip)
    bg = info.background_color()

    os.makedirs(out_dir, exist_ok=True)
    zarray = {
        "zarr_format": 2,
        "shape": [nc, size[2], size[1], size[0]],
        "chunks": [nc, cs[2], cs[1], cs[0]],
        "dtype": dtype.newbyteorder("<").str,
        "compressor": {"id": "zlib", "level": level},
        "order": "C",
        "fill_value": bg if isinstance(bg, int) else float(bg),
        "filters": None,
        "dimension_separator": ".",
    }
    with open(os.path.join(out_dir, ".zarray"), "w") as f:
        json.dump(zarray, f, indent=2)
    with open(os.path.join(out_dir, ".zattrs"), "w") as f:
        json.dump({
            "cloud_volume_spark": {
                "voxel_offset": [int(v) for v in info.voxel_offset(mip)],
                "resolution": [float(r) for r in info.resolution(mip)],
                "layer_type": info.layer_type,
            }
        }, f, indent=2)

    def write_chunks(batches):
        n = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                arr = decode_chunk(r, dtype, nc, cparams)
                if arr.shape[:3] != tuple(cs):
                    full = np.full(tuple(cs) + (nc,), bg, dtype=dtype)
                    full[:arr.shape[0], :arr.shape[1], :arr.shape[2], :] = arr
                    arr = full
                czyx = np.ascontiguousarray(arr.transpose(3, 2, 1, 0))
                payload = zlib.compress(czyx.tobytes(order="C"), level)
                name = f"0.{r.cz}.{r.cy}.{r.cx}"
                with open(os.path.join(out_dir, name), "wb") as f:
                    f.write(payload)
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = (
        vol.chunks_df()
        .where(f"mip = {int(mip)}")
        .mapInPandas(write_chunks, schema="n long")
        .collect()
    )
    return int(sum(r.n for r in counts))


def import_zarr2(spark, src_dir: str, base_path: str,
                 compression: Optional[str] = "gzip") -> Volume:
    """zarr v2 array dir → new chunk-table volume. ``src_dir``
    accepts reference-style cloudpaths (``zarr://…``, ``zarr2://…``)."""
    from cloud_volume_spark.paths import require_local, resolve_cloudpath

    src_dir = require_local(
        resolve_cloudpath(src_dir, formats=("zarr", "zarr2")), "import_zarr2")
    with open(os.path.join(src_dir, ".zarray")) as f:
        meta = json.load(f)
    shape = [int(s) for s in meta["shape"]]
    chunk_shape = [int(c) for c in meta["chunks"]]
    dtype = np.dtype(meta["dtype"])
    order = meta.get("order", "C")
    compressor = meta.get("compressor") or {}
    comp_id = compressor.get("id")
    # a non-null filters list means the stored bytes are filter-
    # transformed (numcodecs delta/shuffle/...) — decoding them as raw
    # would import garbage voxel values silently
    if meta.get("filters"):
        raise NotImplementedError(
            f"zarr2 filters {meta['filters']!r} are not supported — "
            "the stored bytes are filter-transformed and would import "
            "as garbage if read raw")
    sep = meta.get("dimension_separator", ".")
    dims = _default_dims(len(shape))

    attrs = {}
    zattrs = os.path.join(src_dir, ".zattrs")
    if os.path.isfile(zattrs):
        with open(zattrs) as f:
            attrs = json.load(f)
    cvs_attrs = attrs.get("cloud_volume_spark", {})

    ix, iy, iz = (_axis_index(dims, a) for a in "xyz")
    ic = _axis_index(dims, "c")
    size3 = [shape[ix], shape[iy], shape[iz]]
    cs3 = [chunk_shape[ix], chunk_shape[iy], chunk_shape[iz]]
    nc = shape[ic] if ic is not None else 1
    native = np.dtype(dtype.str[1:])  # strip endianness for storage

    voff = [int(v) for v in cvs_attrs.get("voxel_offset", (0, 0, 0))]
    layer_type = cvs_attrs.get(
        "layer_type",
        "segmentation" if native in (np.uint32, np.uint64) else "image",
    )
    fill_value = meta.get("fill_value", 0) or 0
    info = VolumeInfo.create(
        layer_type=layer_type, data_type=str(native), num_channels=nc,
        resolution=cvs_attrs.get("resolution", (1, 1, 1)),
        voxel_offset=voff, volume_size=size3, chunk_size=cs3,
        encoding="raw",
        # zarr elides all-fill chunks; keep the store's fill value as
        # our background so sparse regions do not read back as 0
        background_color=float(fill_value),
    )
    vol = Volume.create(spark, base_path, info)
    slab_shift = vol.slab_shift

    # keys: '0.0.0' flat files, or NESTED '0/0/0' dirs when
    # dimension_separator is '/' (a valid layout the flat listdir
    # crashed on with an executor IndexError)
    names = []
    if sep == "/":
        for dirpath, _, files in os.walk(src_dir):
            for fname in files:
                if fname.startswith("."):
                    continue
                rel = os.path.relpath(
                    os.path.join(dirpath, fname), src_dir)
                parts = rel.split(os.sep)
                if all(p.isdigit() for p in parts):
                    names.append(rel)
    else:
        names = [
            n for n in os.listdir(src_dir)
            if not n.startswith(".")
            and all(p.isdigit() for p in n.split(sep))
        ]
    if not names:
        return vol
    grid = [int(g) for g in info.grid_shape(0)]
    seg = layer_type == "segmentation"

    files_df = spark.createDataFrame(
        [(os.path.join(src_dir, n), n) for n in names],
        schema="path string, name string",
    ).repartition(max(1, min(len(names), 256)))

    def read_chunks(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                idx = [int(p)
                       for p in r.name.replace(os.sep, sep).split(sep)]
                ci = {a: idx[i] for a, i in
                      (("x", ix), ("y", iy), ("z", iz))}
                with open(r.path, "rb") as f:
                    payload = f.read()
                if comp_id in ("zlib", "gzip"):
                    payload = _decompress_named(payload, comp_id, None)
                elif comp_id not in (None, "raw"):
                    raise NotImplementedError(
                        f"zarr2 compressor {comp_id} not supported"
                    )
                arr = np.frombuffer(payload, dtype=dtype).astype(
                    native, copy=False
                ).reshape(chunk_shape, order=order)
                perm = [ix, iy, iz] if ic is None else [ix, iy, iz, ic]
                arr = arr.transpose(perm)
                if ic is None:
                    arr = arr[..., np.newaxis]
                x0 = voff[0] + ci["x"] * cs3[0]
                y0 = voff[1] + ci["y"] * cs3[1]
                z0 = voff[2] + ci["z"] * cs3[2]
                x1 = min(x0 + cs3[0], voff[0] + size3[0])
                y1 = min(y0 + cs3[1], voff[1] + size3[1])
                z1 = min(z0 + cs3[2], voff[2] + size3[2])
                if x1 <= x0 or y1 <= y0 or z1 <= z0:
                    continue
                arr = np.asfortranarray(
                    arr[: x1 - x0, : y1 - y0, : z1 - z0, :]
                )
                rows.append(chunk_row(
                    0, ci["x"], ci["y"], ci["z"],
                    Bbox((x0, y0, z0), (x1, y1, z1)), "raw", compression,
                    grid=grid, slab_shift=slab_shift, arr=arr, stats=seg))
            yield pd.DataFrame(rows, columns=CHUNK_COLUMNS)

    vol._overwrite_slabs(files_df.mapInPandas(read_chunks, schema=CHUNK_SCHEMA))
    return vol


# --------------------------------------------------------------------------
# n5 (the reference reads only — datasource/n5/image.py has no writer;
# export here exceeds it, like the zarr3 sharding_indexed support)
# --------------------------------------------------------------------------

def export_n5(vol: Volume, out_dir: str, mip: int = 0,
              level: int = 5) -> int:
    """Chunk table → n5 dataset dir (``attributes.json`` +
    ``s0/<x>/<y>/<z>`` blocks, gzip compression). Layout mirrors what
    :func:`import_n5` consumes — and what the reference's reader
    (``datasource/n5/image.py:44-90``) expects: big-endian
    mode/ndim/per-dim-int32 header, dimension 0 fastest, edge blocks
    clamped to the true extent rather than padded."""
    info = vol.info
    cs = [int(c) for c in info.chunk_size(mip)]
    size = [int(s) for s in info.volume_size(mip)]
    nc = info.num_channels
    dtype = info.dtype
    cparams = info.compression_params(mip)

    scale_dir = os.path.join(out_dir, "s0")
    os.makedirs(scale_dir, exist_ok=True)
    with open(os.path.join(out_dir, "attributes.json"), "w") as f:
        json.dump({"n5": "2.5.1"}, f)
    dims = size + ([nc] if nc > 1 else [])
    bs = cs + ([nc] if nc > 1 else [])
    with open(os.path.join(scale_dir, "attributes.json"), "w") as f:
        json.dump({
            "dimensions": dims,
            "blockSize": bs,
            "dataType": str(dtype),
            "compression": {"type": "gzip", "level": level},
        }, f, indent=2)

    ndim = 4 if nc > 1 else 3

    def write_blocks(batches):
        n = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                arr = decode_chunk(r, dtype, nc, cparams)
                bdims = list(arr.shape[:3]) + ([nc] if nc > 1 else [])
                header = (
                    (0).to_bytes(2, "big")
                    + ndim.to_bytes(2, "big")
                    + b"".join(d.to_bytes(4, "big") for d in bdims)
                )
                if nc == 1:
                    arr = arr[..., 0]
                body = gzip.compress(
                    np.asfortranarray(arr).astype(
                        dtype.newbyteorder(">"), copy=False
                    ).tobytes(order="F"),
                    compresslevel=level,
                )
                bdir = os.path.join(scale_dir, str(r.cx), str(r.cy))
                os.makedirs(bdir, exist_ok=True)
                with open(os.path.join(bdir, str(r.cz)), "wb") as f:
                    f.write(header + body)
                n += 1
        yield pd.DataFrame({"n": [n]})

    counts = (
        vol.chunks_df()
        .where(f"mip = {int(mip)}")
        .mapInPandas(write_blocks, schema="n long")
        .collect()
    )
    return int(sum(r.n for r in counts))


def import_n5(spark, src_dir: str, base_path: str, mip: int = 0,
              compression: Optional[str] = "gzip") -> Volume:
    """n5 dataset → new chunk-table volume (reference
    ``datasource/n5/image.py:44-90``: big-endian mode/ndim/dims header,
    dimension 0 fastest; edge blocks clamped). ``src_dir`` accepts
    reference-style cloudpaths (``n5://…``)."""
    from cloud_volume_spark.paths import require_local, resolve_cloudpath

    src_dir = require_local(
        resolve_cloudpath(src_dir, formats=("n5",)), "import_n5")
    scale_dir = os.path.join(src_dir, f"s{mip}")
    with open(os.path.join(scale_dir, "attributes.json")) as f:
        attrs = json.load(f)
    size3 = [int(s) for s in attrs["dimensions"][:3]]
    cs3 = [int(c) for c in attrs["blockSize"][:3]]
    dtype = np.dtype(attrs["dataType"])
    comp_type = (attrs.get("compression") or {}).get(
        "type", attrs.get("compressionType", "raw")
    )
    nc = int(attrs["dimensions"][3]) if len(attrs["dimensions"]) > 3 else 1

    layer_type = (
        "segmentation" if dtype in (np.uint32, np.uint64) else "image"
    )
    info = VolumeInfo.create(
        layer_type=layer_type, data_type=str(dtype), num_channels=nc,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0), volume_size=size3,
        chunk_size=cs3, encoding="raw",
    )
    vol = Volume.create(spark, base_path, info)
    slab_shift = vol.slab_shift

    paths = []
    for dirpath, _, files in os.walk(scale_dir):
        for fname in files:
            if fname == "attributes.json":
                continue
            paths.append(os.path.join(dirpath, fname))
    if not paths:
        return vol

    grid = [int(g) for g in info.grid_shape(0)]
    seg = layer_type == "segmentation"

    files_df = spark.createDataFrame(
        [(p,) for p in paths], schema="path string"
    ).repartition(max(1, min(len(paths), 256)))

    def read_blocks(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rel = os.path.relpath(r.path, scale_dir)
                parts = rel.split(os.sep)
                cx, cy, cz = (int(p) for p in parts[:3])
                # a 4th block-path coordinate means the dataset splits
                # CHANNELS across blocks (blockSize[3] < channels);
                # collapsing it onto (cx,cy,cz) would write duplicate
                # chunk keys with misinterpreted channel bytes — refuse
                if len(parts) > 3 and any(int(p) != 0 for p in parts[3:]):
                    raise NotImplementedError(
                        f"n5 block {rel!r} uses a nonzero 4th (channel-"
                        "split) coordinate — blockSize must cover every "
                        "channel for this importer")
                with open(r.path, "rb") as f:
                    payload = f.read()
                mode = int.from_bytes(payload[0:2], "big")
                if mode != 0:
                    raise NotImplementedError(f"n5 block mode {mode}")
                ndim = int.from_bytes(payload[2:4], "big")
                dims = [
                    int.from_bytes(payload[4 + 4 * i: 8 + 4 * i], "big")
                    for i in range(ndim)
                ]
                while len(dims) < 4:
                    dims.append(1)
                body = payload[4 + 4 * ndim:]
                if comp_type == "gzip":
                    body = gzip.decompress(body)
                elif comp_type not in ("raw",):
                    raise NotImplementedError(
                        f"n5 compression {comp_type} not supported"
                    )
                # big-endian, dimension 0 fastest (F order over dims)
                arr = np.frombuffer(
                    body, dtype=dtype.newbyteorder(">")
                ).astype(dtype, copy=False).reshape(dims[:4], order="F")
                x0, y0, z0 = cx * cs3[0], cy * cs3[1], cz * cs3[2]
                x1, y1, z1 = x0 + dims[0], y0 + dims[1], z0 + dims[2]
                arr = np.asfortranarray(arr)
                rows.append(chunk_row(
                    0, cx, cy, cz, Bbox((x0, y0, z0), (x1, y1, z1)), "raw",
                    compression, grid=grid, slab_shift=slab_shift, arr=arr,
                    stats=seg))
            yield pd.DataFrame(rows, columns=CHUNK_COLUMNS)

    vol._overwrite_slabs(files_df.mapInPandas(read_blocks, schema=CHUNK_SCHEMA))
    return vol
