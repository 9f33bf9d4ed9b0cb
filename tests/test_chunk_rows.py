"""The chunk-row format (``volume.chunk_row`` / ``volume.decode_chunk``)
through every writer of the chunk table, on a uint64 segmentation with
labels at and above 2^63 — ``labels_stats`` must hold the signed bit
pattern everywhere, or the stats-driven reads (``unique``,
``cutout(label=)``) disagree with the voxels — and the cutout's decode
on the driver's kept pool."""

import threading

import numpy as np
import pytest

from cloud_volume_spark import codecs
from cloud_volume_spark.fs import driver_pool
from cloud_volume_spark.geometry import Bbox
from cloud_volume_spark.precomputed_io import (
    export_sharded, export_unsharded, import_sharded, import_unsharded,
)
from cloud_volume_spark.volume import (
    BLOCK_SCHEMA, Volume, _block_reduce, _stats_list, decode_chunk,
)
from cloud_volume_spark.zarr_io import (
    export_n5, export_zarr2, export_zarr3, import_n5, import_zarr2,
    import_zarr3,
)

BIG = 2**63 + 12345
LABELS = np.array([0, 7, 2**63, BIG, 2**64 - 1], dtype=np.uint64)
CS = (8, 8, 8)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """24x20x12 uint64 segmentation on 8^3 chunks: partial edge chunks
    on y and z, every chunk holding labels >= 2^63."""
    rng = np.random.default_rng(63)
    arr = LABELS[rng.integers(0, len(LABELS), size=(24, 20, 12, 1))]
    root = tmp_path_factory.mktemp("u64")
    vol = Volume.from_numpy(spark, arr, str(root / "base"), chunk_size=CS)
    return vol, arr, root


def _from_numpy(spark, vol, arr, root):
    return vol, arr, 0


def _upload(spark, vol, arr, root):
    dst = Volume.create(spark, str(root / "upload"), vol.info.clone())
    dst.upload(arr[:16], offset=(0, 0, 0))
    dst.upload(arr[16:], offset=(16, 0, 0))
    return dst, arr, 0


def _write_blocks_df(spark, vol, arr, root):
    dst = Volume.create(spark, str(root / "blocks"), vol.info.clone())
    blocks = []
    for cx in range(0, 24, 8):
        for cy in range(0, 20, 8):
            for cz in range(0, 12, 8):
                hi = (min(cx + 8, 24), min(cy + 8, 20), min(cz + 8, 12))
                piece = arr[cx:hi[0], cy:hi[1], cz:hi[2], :]
                blocks.append((cx, hi[0], cy, hi[1], cz, hi[2],
                               codecs.encode(piece, "raw")))
    dst.write_blocks_df(spark.createDataFrame(blocks, schema=BLOCK_SCHEMA))
    return dst, arr, 0


def _apply_remap(spark, vol, arr, root):
    dst = vol.transfer_to(str(root / "remap"))
    dst.apply_remap({7: 2**63 + 99, BIG: 5})
    out = arr.copy()
    out[arr == 7] = 2**63 + 99
    out[arr == BIG] = 5
    return dst, out, 0


def _downsample(spark, vol, arr, root):
    dst = vol.transfer_to(str(root / "down"))
    mip = dst.downsample(0, (2, 2, 2))
    return dst, _block_reduce(arr, (2, 2, 2), True), mip


def _transfer_to(spark, vol, arr, root):
    return vol.transfer_to(str(root / "xfer")), arr, 0


def _transfer_to_cseg(spark, vol, arr, root):
    return (vol.transfer_to(str(root / "xfer_cseg"),
                            encoding="compressed_segmentation"), arr, 0)


def _rechunk_to(spark, vol, arr, root):
    return vol.rechunk_to(str(root / "rechunk"), (16, 16, 8)), arr, 0


def _via(export, load):
    def case(spark, vol, arr, root):
        name = export.__name__
        export(vol, str(root / name))
        return load(spark, str(root / name), str(root / f"{name}_in")), arr, 0
    return case


WRITERS = {
    "from_numpy": _from_numpy,
    "upload": _upload,
    "write_blocks_df": _write_blocks_df,
    "apply_remap": _apply_remap,
    "downsample": _downsample,
    "transfer_to": _transfer_to,
    "transfer_to_cseg": _transfer_to_cseg,
    "rechunk_to": _rechunk_to,
    "import_unsharded": _via(export_unsharded, import_unsharded),
    "import_sharded": _via(export_sharded, import_sharded),
    "import_zarr3": _via(export_zarr3, import_zarr3),
    "import_zarr2": _via(export_zarr2, import_zarr2),
    "import_n5": _via(export_n5, import_n5),
}


@pytest.mark.parametrize("writer", list(WRITERS))
def test_uint64_labels_through_every_writer(spark, base, writer):
    vol, arr, root = base
    out, expect, mip = WRITERS[writer](spark, vol, arr, root)
    info = out.info
    rows = out.chunks_df(mip=mip).collect()
    assert rows
    for r in rows:
        got = decode_chunk(r, info.data_type, info.num_channels,
                           info.compression_params(mip))
        assert r.labels_stats == _stats_list(np.unique(got)), (r.cx, r.cy, r.cz)
    assert ({int(r.label) for r in out.unique(mip=mip).collect()}
            == {int(v) for v in np.unique(expect)})
    whole = Bbox((0, 0, 0), expect.shape[:3])
    np.testing.assert_array_equal(out.cutout(whole, mip=mip), expect)
    big = int(np.unique(expect)[-2])  # a label >= 2^63 the data holds
    assert big >= 2**63
    np.testing.assert_array_equal(out.cutout(whole, mip=mip, label=big),
                                  expect == np.uint64(big))


def test_cutout_decodes_on_the_kept_driver_pool(spark, base, monkeypatch):
    """Cutouts of several chunks start no thread beyond the driver
    pool's own workers (a per-call pool started up to 16 per cutout)."""
    vol, arr, _ = base
    started = []
    orig = threading.Thread.start

    def counting_start(self):
        started.append(self.name)
        return orig(self)

    monkeypatch.setattr(threading.Thread, "start", counting_start)
    box = Bbox((3, 2, 1), (21, 19, 11))  # 3 x 3 x 2 = 18 chunks
    for _ in range(20):
        np.testing.assert_array_equal(vol.cutout(box), arr[3:21, 2:19, 1:11])
    pool = driver_pool()
    assert all(n.startswith(pool._thread_name_prefix) for n in started), \
        started
    assert len(started) <= pool._max_workers
