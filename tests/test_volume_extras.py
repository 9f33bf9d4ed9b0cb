"""download_files / memory_cutout / shard_stats / rechunk_to /
provenance golden tests."""

import numpy as np
import pytest

from cloud_volume_spark.geometry import Bbox
from cloud_volume_spark.provenance import Provenance
from cloud_volume_spark.volume import Volume


@pytest.fixture()
def vol(spark, rng, tmp_path):
    arr = rng.integers(0, 200, size=(96, 96, 48, 1)).astype(np.uint32)
    v = Volume.from_numpy(spark, arr, str(tmp_path / "vx"), chunk_size=(32, 32, 32))
    return v, arr


def test_download_files(vol):
    v, arr = vol
    rows = v.download_files(Bbox((0, 0, 0), (64, 64, 48))).collect()
    assert len(rows) == 2 * 2 * 2
    names = {r.filename for r in rows}
    assert "0-32_0-32_0-32" in names
    for r in rows:
        assert r.compression == "gzip" and len(r.blob) > 0


def test_memory_cutout(vol):
    v, arr = vol
    df = v.memory_cutout(Bbox((0, 0, 0), (96, 96, 48)))
    total = sum((r.x1 - r.x0) * (r.y1 - r.y0) * (r.z1 - r.z0) for r in df.collect())
    assert total == 96 * 96 * 48
    df.unpersist()


def test_shard_stats(vol):
    v, arr = vol
    stats = v.shard_stats().collect()
    assert sum(r.n_chunks for r in stats) == 3 * 3 * 2
    assert all(r.stored_bytes > 0 for r in stats)


def test_table_stats(vol):
    v, arr = vol
    rows = v.table_stats().collect()
    # single-mip single-codec table: exactly one group, exact voxels
    assert len(rows) == 1
    r = rows[0]
    assert r.mip == 0 and r.n_chunks == 3 * 3 * 2
    assert r.logical_voxels == 96 * 96 * 48
    assert r.stored_bytes > 0 and r.n_slabs >= 1
    # a second mip adds its own group with the downsampled voxel count
    v.downsample()
    rows2 = {x.mip: x for x in v.table_stats().collect()}
    assert set(rows2) == {0, 1}
    assert rows2[1].logical_voxels == 48 * 48 * 48


def test_rechunk_roundtrip(vol, tmp_path):
    v, arr = vol
    # 32^3 -> 48x48x24: non-divisible geometry, pieces span targets
    dest = v.rechunk_to(str(tmp_path / "rechunk"), (48, 48, 24))
    assert tuple(dest.info.chunk_size(0)) == (48, 48, 24)
    out = dest.cutout(Bbox((0, 0, 0), (96, 96, 48)))
    assert np.array_equal(out, arr)
    # chunk grid really changed
    ex = dest.exists(Bbox((0, 0, 0), (96, 96, 48)))
    assert len(ex) == 2 * 2 * 2 and all(ex.values())
    # stats survived the rechunk for segmentation dtype
    got = {r.label for r in dest.unique(Bbox((0, 0, 0), (50, 50, 30))).collect()}
    assert got == set(np.unique(arr[:50, :50, :30]).tolist())


def test_provenance_roundtrip(tmp_path):
    p = Provenance(description="test vol", owners=["ci@example.com"])
    p.add_processing("downsample", factor=[2, 2, 1], mip=1)
    p.commit(str(tmp_path))
    p2 = Provenance.load(str(tmp_path))
    assert p2.description == "test vol"
    assert p2.owners == ["ci@example.com"]
    assert p2.processing[0]["method"] == "downsample"
    assert p2.processing[0]["factor"] == [2, 2, 1]


def test_provenance_missing_is_empty(tmp_path):
    p = Provenance.load(str(tmp_path / "nope"))
    assert p.description == "" and p.processing == []


def test_generate_pyramid(spark, tmp_path):
    import numpy as np

    from cloud_volume_spark.geometry import Bbox
    from cloud_volume_spark.volume import Volume

    rng = np.random.default_rng(17)
    arr = rng.integers(0, 255, size=(64, 64, 16, 1)).astype(np.uint8)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "pyr"), chunk_size=(16, 16, 16)
    )
    made = vol.generate_pyramid(2, factor=(2, 2, 1))
    assert made == [1, 2]
    for mip, f in [(1, 2), (2, 4)]:
        assert vol.has_data(mip)
        out = vol.cutout(
            Bbox((0, 0, 0), (64 // f, 64 // f, 16)), mip=mip
        )
        # mean downsample of the top-left block matches numpy
        want = arr[:f, :f, :1, 0].mean()
        assert abs(float(out[0, 0, 0, 0]) - want) <= 1.0


def test_read_voxel_lru(spark, tmp_path):
    import time

    import numpy as np

    from cloud_volume_spark.volume import Volume

    rng = np.random.default_rng(23)
    arr = rng.integers(0, 1000, size=(64, 64, 32, 1)).astype(np.uint32)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "lru"), chunk_size=(32, 32, 32)
    )
    vol.enable_lru(max_bytes=64 * 1024 * 1024)

    v1 = vol.read_voxel((10, 20, 5))
    t0 = time.perf_counter()
    v2 = vol.read_voxel((11, 21, 6))  # same chunk → cache hit
    hit_time = time.perf_counter() - t0
    assert int(v1[0]) == int(arr[10, 20, 5, 0])
    assert int(v2[0]) == int(arr[11, 21, 6, 0])
    assert hit_time < 0.05, f"LRU hit took {hit_time:.3f}s"
    assert len(vol._lru) == 1

    # write invalidates
    vol[0:32, 0:32, 0:32] = np.zeros((32, 32, 32, 1), np.uint32)
    assert len(vol._lru) == 0
    assert int(vol.read_voxel((10, 20, 5))[0]) == 0


def test_lru_eviction_is_byte_bounded(spark, tmp_path):
    import numpy as np

    from cloud_volume_spark.volume import Volume

    rng = np.random.default_rng(29)
    arr = rng.integers(0, 255, size=(64, 64, 64, 1)).astype(np.uint8)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "lru2"), chunk_size=(32, 32, 32),
        compression=None,
    )
    # each raw chunk is 32^3 = 32 KiB; cap at ~2 chunks
    vol.enable_lru(max_bytes=70 * 1024)
    for pt in [(0, 0, 0), (40, 0, 0), (0, 40, 0), (0, 0, 40)]:
        vol.read_voxel(pt)
    assert len(vol._lru) <= 2
    assert vol._lru_bytes <= 70 * 1024


def test_mesh_skeleton_accessors(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from cloud_volume_spark.meshes import MESH_SCHEMA
    from cloud_volume_spark.volume import Volume

    arr = np.zeros((32, 32, 32, 1), np.uint32)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "sib"), chunk_size=(32, 32, 32)
    )
    v = [[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    f = [[0, 1, 2]]
    frag = spark.createDataFrame(
        pd.DataFrame({
            "segid": [7], "fragment": [0], "vertices": [v], "faces": [f],
        })
    )
    vol.mesh.write(frag)
    got = vol.mesh.get([7]).collect()
    assert len(got) == 1 and got[0].segid == 7
    # accessor is rooted under the volume dir
    assert vol.mesh.base_path.startswith(str(tmp_path / "sib"))
    assert vol.skeleton.base_path.startswith(str(tmp_path / "sib"))


def test_concurrent_commit_conflict_detected(spark, tmp_path):
    """Two concurrent shell-merge writers must never silently interleave
    (lost-update): the second writer fails LOUDLY while the lock is
    held, commits cleanly after release, and a crashed writer's stale
    lock is breakable by deleting the named file."""
    import numpy as np

    from cloud_volume_spark.volume import CommitConflictError

    arr = np.arange(64 * 64 * 64, dtype=np.uint32).reshape(64, 64, 64, 1)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "ccv"), chunk_size=(32, 32, 32))

    # simulate writer A mid-commit: its lock file exists
    lock = vol._commit_lock_path
    assert vol._fs.create_exclusive(lock)
    patch = np.zeros((32, 32, 32, 1), dtype=np.uint32)
    with pytest.raises(CommitConflictError, match="commit lock"):
        vol.upload(patch, offset=(0, 0, 0))
    # the failed commit touched nothing: original data intact
    assert np.array_equal(
        vol.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)

    # writer A finishes (stale-lock recovery is the same operation)
    vol._fs.remove(lock)
    vol.upload(patch, offset=(0, 0, 0))
    out = vol.cutout(Bbox((0, 0, 0), (64, 64, 64)))
    assert np.array_equal(out[:32, :32, :32], patch)
    assert np.array_equal(out[32:, :, :], arr[32:, :, :])
    # lock released after the successful commit
    assert not vol._fs.exists(lock)

    # create_exclusive is genuinely exclusive
    assert vol._fs.create_exclusive(lock)
    assert not vol._fs.create_exclusive(lock)
    vol._fs.remove(lock)

def test_commit_lock_precedes_read_snapshot(spark, tmp_path, monkeypatch):
    """The lost-update fix: while another writer holds the lock, a
    read-modify-write commit must fail BEFORE capturing its survivors
    snapshot — a pre-lock file listing would stage survivors that miss
    the other writer's swap and erase its commit."""
    import numpy as np

    from cloud_volume_spark.volume import CommitConflictError, Volume as V

    arr = np.arange(64 * 64 * 64, dtype=np.uint32).reshape(64, 64, 64, 1)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "lockv"), chunk_size=(32, 32, 32))
    lock = vol._commit_lock_path
    assert vol._fs.create_exclusive(lock)

    # the commit's first read is the manifest resolve its survivors
    # files come from
    snapshots = []
    orig = V._read_manifest

    def guard(self):
        snapshots.append(1)
        return orig(self)

    monkeypatch.setattr(V, "_read_manifest", guard)
    patch = np.zeros((32, 32, 32, 1), dtype=np.uint32)
    with pytest.raises(CommitConflictError, match="commit lock"):
        vol.upload(patch, offset=(0, 0, 0))
    assert not snapshots, "snapshot read before lock acquisition"

    monkeypatch.setattr(V, "_read_manifest", orig)
    vol._fs.remove(lock)
    vol.upload(patch, offset=(0, 0, 0))  # succeeds after release
    out = vol.cutout(Bbox((0, 0, 0), (32, 32, 32)))
    assert np.array_equal(out, patch)

def test_commit_lock_not_shared_across_threads(spark, tmp_path):
    """The lock's re-entrancy is per-THREAD: a second driver thread
    sharing the Volume must contend on the lock file (and fail while
    it is held), not ride the first thread's depth counter into a
    concurrent stage-and-swap."""
    import threading

    import numpy as np

    from cloud_volume_spark.volume import CommitConflictError

    arr = np.arange(64 * 64 * 64, dtype=np.uint32).reshape(64, 64, 64, 1)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "tlv"), chunk_size=(32, 32, 32))
    patch = np.zeros((32, 32, 32, 1), dtype=np.uint32)

    results = {}
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with vol._commit_lock():
            entered.set()
            release.wait(30)
        results["holder"] = "done"

    def contender():
        entered.wait(30)
        try:
            vol.upload(patch, offset=(0, 0, 0))
            results["contender"] = "wrote"
        except CommitConflictError:
            results["contender"] = "conflict"

    t1 = threading.Thread(target=holder)
    t2 = threading.Thread(target=contender)
    t1.start()
    t2.start()
    t2.join(60)
    release.set()
    t1.join(60)
    assert results["contender"] == "conflict"
    assert results["holder"] == "done"
    # lock released; the write goes through now
    vol.upload(patch, offset=(0, 0, 0))
    assert np.array_equal(
        vol.cutout(Bbox((0, 0, 0), (32, 32, 32))), patch)


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_driver_commit_files_interchangeable(spark, tmp_path, monkeypatch,
                                             scheme):
    """Uploads stage on the driver with pyarrow; the files they write
    must be indistinguishable from the Spark stager's to every reader
    and maintenance path, on a plain local path and on the Hadoop
    PathOps branch (file://). Starts from a Spark-written table so the
    uploads merge into Spark-written survivors."""
    import pyarrow.parquet as pq

    from cloud_volume_spark.catalog import VolumeInfo
    from cloud_volume_spark.fs import local_part
    from cloud_volume_spark.volume import CHUNK_SCHEMA

    # two chunks per file, so slab dirs hold several bucket groups
    monkeypatch.setattr(Volume, "_commit_bucket", lambda self: 1)
    n, cs = 64, 16
    info = VolumeInfo.create(
        layer_type="segmentation", data_type="uint32", num_channels=1,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0),
        volume_size=(n, n, n), chunk_size=(cs, cs, cs), encoding="raw")
    # 8 chunks per slab: slab 0 is the 2x2x2 cells at the origin
    vol = Volume.create(spark, f"{scheme}{tmp_path}/drv", info, slab_shift=3)
    rng = np.random.default_rng(7)
    mirror = rng.integers(1, 50, (n, n, n, 1)).astype(np.uint32)
    grid = [(x, y, z) for x in range(4) for y in range(4) for z in range(4)]
    blocks = [
        (x * cs, x * cs + cs, y * cs, y * cs + cs, z * cs, z * cs + cs,
         bytearray(mirror[x * cs:x * cs + cs, y * cs:y * cs + cs,
                          z * cs:z * cs + cs].tobytes(order="F")))
        for (x, y, z) in grid]
    vol.write_blocks_df(spark.createDataFrame(
        blocks, "x0 int, x1 int, y0 int, y1 int, z0 int, z1 int, "
                "blob binary"))
    present = set(grid)
    local = local_part(vol.chunks_path)
    spark_file = next(
        f"{local}/{rel}/{f}" for rel in vol._read_manifest()["entries"].values()
        for f in sorted(vol._fs.listdir(f"{vol.chunks_path}/{rel}"))
        if f.endswith(".parquet"))

    def upload(arr, lo, **kw):
        before = vol._read_manifest()["entries"]
        vol.upload(arr, offset=lo, **kw)
        hi = [a + s for a, s in zip(lo, arr.shape)]
        mirror[lo[0]:hi[0], lo[1]:hi[1], lo[2]:hi[2]] = arr
        # the driver stager's layout: one file per morton >> bucket group
        shift = vol._commit_bucket()
        for rel in set(vol._read_manifest()["entries"].values()) \
                - set(before.values()):
            files = [f for f in vol._fs.listdir(f"{vol.chunks_path}/{rel}")
                     if f.endswith(".parquet")]
            groups = []
            for f in files:
                t = pq.read_table(f"{local}/{rel}/{f}")
                assert t.schema == pq.read_schema(spark_file)
                g = {m >> shift for m in t["morton"].to_pylist()}
                assert len(g) == 1, (rel, f, g)
                groups += g
            assert len(groups) == len(set(groups)), rel

    # aligned: two chunks in slab 1
    upload(rng.integers(1, 50, (32, 16, 16, 1)).astype(np.uint32),
           (32, 0, 0))
    # unaligned: read-modify-write of the 2x2x2 envelope
    upload(rng.integers(1, 50, (20, 20, 20, 1)).astype(np.uint32),
           (5, 7, 9))
    # delete_black: all of slab 0 goes, so its entry must leave the
    # manifest; then half of a 2x2x1 patch in slab 1 goes
    upload(np.zeros((32, 32, 32, 1), np.uint32), (0, 0, 0),
           delete_black_uploads=True)
    present -= {(x, y, z) for x in (0, 1) for y in (0, 1) for z in (0, 1)}
    assert "0/0" not in vol._read_manifest()["entries"]
    half = rng.integers(1, 50, (32, 32, 16, 1)).astype(np.uint32)
    half[:16] = 0
    upload(half, (32, 0, 0), delete_black_uploads=True)
    present -= {(2, 0, 0), (2, 1, 0)}

    def check():
        rows = vol.chunks_df().collect()
        assert sorted((r.cx, r.cy, r.cz) for r in rows) == sorted(present)
        for r in rows:
            want = mirror[r.x0:r.x1, r.y0:r.y1, r.z0:r.z1]
            assert r.compression == "gzip"
            assert list(r.labels_stats) == [int(v) for v in np.unique(want)]
        assert [(f.name, f.dataType) for f in vol.chunks_df().schema] == \
            [(f.name, f.dataType) for f in CHUNK_SCHEMA]
        got = np.zeros_like(mirror)
        for b in vol.blocks_df().collect():
            # blocks carry the F-order bytes of the (x, y, z, c) piece
            got[b.x0:b.x1, b.y0:b.y1, b.z0:b.z1] = np.frombuffer(
                b.blob, np.uint32).reshape(
                    (1, b.z1 - b.z0, b.y1 - b.y0, b.x1 - b.x0)).transpose()
        want = mirror.copy()
        for (x, y, z) in set(grid) - present:
            want[x * cs:x * cs + cs, y * cs:y * cs + cs,
                 z * cs:z * cs + cs] = 0
        assert np.array_equal(got, want)
        assert np.array_equal(
            vol.cutout(vol.bounds, fill_missing=True), want)
        labels = sorted(r.label for r in vol.unique().collect())
        assert labels == sorted(int(v) for v in np.unique(want[want != 0]))
        report = vol.fsck()
        assert report["ok"] and not report["missing_dirs"], report

    check()
    assert vol.compact() >= 1
    check()
    vol.vacuum(keep_manifests=1)
    check()
    assert not vol.fsck()["orphan_dirs"]


def test_upload_runs_no_spark_job(spark, tmp_path):
    """The driver commit is the whole mechanism behind upload latency:
    neither a from_numpy ingest nor an upload onto an existing table
    may start a Spark job."""
    sc = spark.sparkContext
    group = f"upload-no-jobs-{tmp_path.name}"
    arr = np.arange(64 ** 3, dtype=np.uint32).reshape(64, 64, 64, 1)
    patch = np.full((32, 32, 32, 1), 7, np.uint32)
    sc.setJobGroup(group, "upload")
    try:
        vol = Volume.from_numpy(spark, arr, str(tmp_path / "nojob"),
                                chunk_size=(32, 32, 32))
        vol.upload(patch, offset=(32, 0, 0))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the probe sees jobs under this group when there are some
        assert vol.chunks_df().count() == 8
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert np.array_equal(
        vol.cutout(Bbox((32, 0, 0), (64, 32, 32))), patch)


# ---------------------------------------------------------------------------
# snapshot-manifest commit protocol (r7)
# ---------------------------------------------------------------------------

def _mk_vol(spark, tmp_path, name, n=64, cs=32):
    import numpy as np

    arr = np.arange(n * n * n, dtype=np.uint32).reshape(n, n, n, 1)
    return arr, Volume.from_numpy(
        spark, arr, str(tmp_path / name), chunk_size=(cs, cs, cs))


def test_manifest_snapshot_isolation(spark, tmp_path):
    """A reader that resolved the manifest BEFORE a commit keeps a
    consistent snapshot: its data dirs are immutable, so a concurrent
    overwrite can never yank files out from under the running scan —
    the property the old rename-swap could not give."""
    import numpy as np

    arr, vol = _mk_vol(spark, tmp_path, "snap")
    snapshot = vol.chunks_df()  # resolves the generation-1 dirs
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    # new reads see the overwrite ...
    out = vol.cutout(Bbox((0, 0, 0), (32, 32, 32)))
    assert (out == 0).all()
    # ... while the pre-commit snapshot still scans the ORIGINAL rows
    import pandas as pd

    old = snapshot.where(
        "mip = 0 and cx = 0 and cy = 0 and cz = 0"
    ).select("blob", "compression").collect()
    assert len(old) == 1
    from cloud_volume_spark import codecs

    raw = codecs.decompress_stream(bytes(old[0].blob), old[0].compression or None)
    got = codecs.decode(raw, "raw", (32, 32, 32, 1), np.uint32)
    assert np.array_equal(got, arr[:32, :32, :32, :])


def test_manifest_generation_cas(spark, tmp_path):
    """The publish compare-and-sets the generation: a writer whose
    snapshot went stale (e.g. someone broke its crashed lock and
    committed) fails loudly instead of silently interleaving."""
    import numpy as np

    from cloud_volume_spark.volume import CommitConflictError

    _, vol = _mk_vol(spark, tmp_path, "cas")
    man = vol._read_manifest()
    with vol._commit_lock():
        with pytest.raises(CommitConflictError, match="generation"):
            vol._publish_manifest(
                dict(man["entries"]),
                expect_generation=int(man["generation"]) - 1)


def test_manifest_vacuum_reclaims_old_generations(spark, tmp_path):
    """Old generations' dirs survive commits (snapshot retention) and
    are reclaimed only by vacuum; retention keeps every retained
    generation SERVABLE (manifest + the dirs it references), so
    reclaiming everything older than the newest needs
    ``keep_manifests=1``; live dirs stay readable."""
    import os as _os

    import numpy as np

    arr, vol = _mk_vol(spark, tmp_path, "vac")
    data_dir = _os.path.join(str(tmp_path / "vac"), "chunks", "data")
    n_commits_before = len(_os.listdir(data_dir))
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    assert len(_os.listdir(data_dir)) == n_commits_before + 1
    # default retention (3): both generations stay fully servable
    assert vol.vacuum() == 0
    assert len(_os.listdir(data_dir)) == n_commits_before + 1
    removed = vol.vacuum(keep_manifests=1)
    assert removed >= 1
    man = vol._read_manifest()
    live = {rel.split("/")[1] for rel in man["entries"].values()}
    assert set(_os.listdir(data_dir)) == live
    # table still fully readable after vacuum
    out = vol.cutout(Bbox((0, 0, 0), (64, 64, 64)))
    assert (out[:32, :32, :32] == 0).all()
    assert np.array_equal(out[32:, :, :], arr[32:, :, :])


def test_time_travel_open_reads_old_generation(spark, tmp_path):
    """``open(generation=N)`` serves the table exactly as generation N
    published it, stays correct after later commits, survives a
    default-retention vacuum, and refuses writes."""
    import numpy as np
    import pytest as _pytest

    from cloud_volume_spark.volume import ManifestError, Volume

    arr, vol = _mk_vol(spark, tmp_path, "tt")
    gen0 = int(vol._read_manifest()["generation"])
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))

    old = Volume.open(spark, str(tmp_path / "tt"), generation=gen0)
    assert np.array_equal(old.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)
    new = Volume.open(spark, str(tmp_path / "tt"))
    assert (new.cutout(Bbox((0, 0, 0), (32, 32, 32))) == 0).all()

    # retention keeps the pinned generation servable across vacuum
    vol.vacuum()  # default keep_manifests=3 retains gen0
    assert np.array_equal(old.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)

    # a pinned handle cannot mutate the table (any commit entry point)
    with _pytest.raises(PermissionError, match="pinned"):
        old.upload(arr, offset=(0, 0, 0))
    with _pytest.raises(PermissionError, match="pinned"):
        old.delete(Bbox((0, 0, 0), (32, 32, 32)))

    # once the pin falls out of retention, opening it fails loudly
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(32, 0, 0))
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 32, 0))
    vol.vacuum(keep_manifests=1)
    with _pytest.raises(ManifestError, match="vacuumed"):
        Volume.open(spark, str(tmp_path / "tt"), generation=gen0)


def test_manifest_torn_publish_falls_back_one_generation(spark, tmp_path):
    """A torn/corrupt NEWEST manifest file means that commit never
    happened: readers serve the previous generation; once every
    generation is unreadable the table fails LOUDLY (never the
    all-generations directory fallback, which would serve stale rows)."""
    import os as _os

    import numpy as np

    from cloud_volume_spark.volume import ManifestError

    arr, vol = _mk_vol(spark, tmp_path, "torn")
    man1 = vol._read_manifest()
    g1 = int(man1["generation"])
    # simulate a torn publish of generation g1+1
    with open(vol._manifest_file(g1 + 1), "wb") as f:
        f.write(b'{"version": 1, "gener')  # truncated
    man = vol._read_manifest()
    assert int(man["generation"]) == g1  # fell back
    out = vol.cutout(Bbox((0, 0, 0), (64, 64, 64)))
    assert np.array_equal(out, arr)
    # the next commit reclaims the husk and publishes g1+1 for real
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    man = vol._read_manifest()
    assert int(man["generation"]) == g1 + 1
    assert (vol.cutout(Bbox((0, 0, 0), (32, 32, 32))) == 0).all()

    # all generations unreadable -> loud error, no silent fallback
    for g in vol._manifest_generations():
        with open(vol._manifest_file(g), "wb") as f:
            f.write(b"garbage")
    with pytest.raises(ManifestError, match="no readable manifest"):
        vol.chunks_df()


def test_crashed_first_commit_reads_as_empty(spark, tmp_path):
    """data/ dirs without any published manifest = a first commit that
    crashed before publishing: the table is correctly EMPTY (nothing
    was ever committed), not an error and not a stale-dir scan."""
    import os as _os

    import numpy as np

    from cloud_volume_spark.catalog import VolumeInfo

    info = VolumeInfo.create(
        layer_type="image", data_type="uint8", num_channels=1,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0),
        volume_size=(32, 32, 32), chunk_size=(32, 32, 32),
    )
    vol = Volume.create(spark, str(tmp_path / "crash1"), info)
    # simulate staged-but-unpublished data holding REAL parquet rows —
    # a recursive-scan fallback would serve them
    import pandas as pd

    d = _os.path.join(vol.chunks_path, "data", "commit-dead", "pm=0", "ps=0")
    _os.makedirs(d)
    pd.DataFrame({"mip": [0], "slab": [0], "cx": [0], "cy": [0], "cz": [0],
                  "morton": [0], "x0": [0], "x1": [32], "y0": [0],
                  "y1": [32], "z0": [0], "z1": [32], "encoding": ["raw"],
                  "compression": [""],
                  "blob": [b"\x00" * (32 * 32 * 32)],
                  "labels_stats": [None]}).to_parquet(
        _os.path.join(d, "part-0.parquet"))
    assert vol._read_manifest() is None
    assert not vol.has_data(0)
    assert vol.chunks_df().count() == 0  # uncommitted rows stay invisible
    # a real commit then works and supersedes nothing
    vol.upload(np.ones((32, 32, 32, 1), np.uint8), offset=(0, 0, 0))
    assert vol.has_data(0)
    assert (vol.cutout(Bbox((0, 0, 0), (32, 32, 32))) == 1).all()
    # vacuum reclaims the crashed commit dir
    vol.vacuum()
    assert not _os.path.isdir(
        _os.path.join(vol.chunks_path, "data", "commit-dead"))


@pytest.mark.parametrize("layout", ["hive", "pointer"])
def test_pre_manifest_layout_refused(spark, tmp_path, layout):
    """A table in a pre-manifest layout (hive ``mip=``/``slab=`` dirs,
    or the single ``chunks/_manifest.json`` pointer) with no numbered
    manifest is refused with one ManifestError on open, read and
    commit, never served as an empty table, and nothing is written."""
    import json
    import os
    import shutil

    from cloud_volume_spark.volume import ManifestError

    _, vol = _mk_vol(spark, tmp_path, "old", n=32, cs=16)
    chunks = vol.chunks_path
    man = vol._read_manifest()
    if layout == "hive":
        for k, rel in man["entries"].items():
            m, s = k.split("/")
            shutil.copytree(f"{chunks}/{rel}", f"{chunks}/mip={m}/slab={s}")
        shutil.rmtree(f"{chunks}/data")
        match = "hive partition"
    else:
        with open(f"{chunks}/_manifest.json", "w") as f:
            json.dump(man, f)
        match = "single-pointer manifest"
    for g in vol._manifest_generations():
        os.remove(vol._manifest_file(g))
    shutil.rmtree(f"{chunks}/feed", ignore_errors=True)
    before = sorted(os.listdir(chunks))

    base = str(tmp_path / "old")
    with pytest.raises(ManifestError, match=match) as opened:
        Volume.open(spark, base)
    assert "no longer supported" in str(opened.value)
    handle = Volume(spark, base, vol.info)
    with pytest.raises(ManifestError) as read:
        handle.cutout(Bbox((0, 0, 0), (32, 32, 32)))
    with pytest.raises(ManifestError) as wrote:
        handle.upload(np.zeros((16, 16, 16, 1), np.uint32), offset=(0, 0, 0))
    assert str(read.value) == str(wrote.value) == str(opened.value)
    assert sorted(os.listdir(chunks)) == before
    assert not os.path.exists(handle._commit_lock_path)


def test_concurrent_writers_stress_all_commits_survive(spark, tmp_path):
    """Four threads upload disjoint regions concurrently, retrying on
    CommitConflictError: every successful commit's data must be present
    at the end — the lost-update freedom the lock + snapshot-CAS
    protocol guarantees."""
    import threading
    import time as _time

    import numpy as np

    from cloud_volume_spark.volume import CommitConflictError

    arr = np.zeros((64, 64, 64, 1), dtype=np.uint32)
    vol = Volume.from_numpy(
        spark, arr, str(tmp_path / "stress"), chunk_size=(32, 32, 32))

    offsets = [(0, 0, 0), (32, 0, 0), (0, 32, 0), (32, 32, 0)]
    errors = []

    def writer(i):
        patch = np.full((32, 32, 32, 1), i + 1, dtype=np.uint32)
        deadline = _time.time() + 150  # serialized commits on a loaded
        while _time.time() < deadline:  # shared host can take minutes
            try:
                vol.upload(patch, offset=offsets[i])
                return
            except CommitConflictError:
                _time.sleep(0.2)
            except Exception as e:  # pragma: no cover
                errors.append((i, e))
                return
        errors.append((i, "never committed"))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not errors, errors
    out = vol.cutout(Bbox((0, 0, 0), (64, 64, 64)))
    for i, (ox, oy, oz) in enumerate(offsets):
        region = out[ox:ox + 32, oy:oy + 32, oz:oz + 32]
        assert (region == i + 1).all(), f"writer {i}'s commit was lost"
    # z=32.. slabs never written stay zero
    assert (out[:, :, 32:] == 0).all()


def test_custom_slab_shift_roundtrip(spark, tmp_path):
    """A table created with a non-default slab_shift (the 100 TB knob:
    bigger slabs keep the manifest entry count bounded) records it in
    every manifest, reopens with it, and reads/writes/prunes
    correctly."""
    import numpy as np

    from cloud_volume_spark.catalog import VolumeInfo

    arr = np.arange(64 * 64 * 64, dtype=np.uint32).reshape(64, 64, 64, 1)
    info = VolumeInfo.create(
        layer_type="segmentation", data_type="uint32", num_channels=1,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0),
        volume_size=(64, 64, 64), chunk_size=(32, 32, 32),
    )
    vol = Volume.create(spark, str(tmp_path / "ss"), info, slab_shift=2)
    vol.upload(arr, offset=(0, 0, 0))
    man = vol._read_manifest()
    assert int(man["slab_shift"]) == 2
    # 8 chunks, 4 per slab at shift 2 -> exactly 2 slab entries
    assert len(man["entries"]) == 2

    # reopen WITHOUT the argument: shift restores from the manifest
    vol2 = Volume.open(spark, str(tmp_path / "ss"))
    assert vol2.slab_shift == 2
    out = vol2.cutout(Bbox((0, 0, 0), (64, 64, 64)))
    assert np.array_equal(out, arr)
    # pruning and point reads agree with the recorded shift
    assert int(vol2.read_voxel((5, 6, 7))[0]) == int(arr[5, 6, 7, 0])
    vol2.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(32, 32, 32))
    out = vol2.cutout(Bbox((32, 32, 32), (64, 64, 64)))
    assert (out == 0).all()

def test_slab_shift_mismatch_commit_guard(spark, tmp_path):
    """A writer whose cached shift disagrees with the table's recorded
    shift must fail loudly instead of publishing mixed-granularity
    entries (which would silently break pruning)."""
    import numpy as np

    from cloud_volume_spark.catalog import VolumeInfo
    from cloud_volume_spark.volume import CommitConflictError

    info = VolumeInfo.create(
        layer_type="image", data_type="uint8", num_channels=1,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0),
        volume_size=(64, 64, 64), chunk_size=(32, 32, 32),
    )
    base = str(tmp_path / "mm")
    a = Volume.create(spark, base, info, slab_shift=12)
    assert a.slab_shift == 12  # caches before any generation exists
    b = Volume(spark, base, info)  # default shift 6
    b.upload(np.ones((32, 32, 32, 1), np.uint8), offset=(0, 0, 0))
    with pytest.raises(CommitConflictError, match="slab_shift mismatch"):
        a.upload(np.zeros((32, 32, 32, 1), np.uint8), offset=(32, 32, 32))


def test_history_lists_generations_and_husks(spark, tmp_path):
    """history() = DESCRIBE HISTORY: every retained generation newest
    first with entry counts, torn husks flagged unreadable."""
    import numpy as np

    _, vol = _mk_vol(spark, tmp_path, "hist")
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    h = vol.history()
    assert [e["generation"] for e in h] == sorted(
        (e["generation"] for e in h), reverse=True)
    assert len(h) == 2 and all(e["readable"] for e in h)
    assert all(e["entries"] >= 1 and e["mips"] == [0] for e in h)
    assert all(e["empty_mips"] == [] for e in h)
    assert all(e["slab_shift"] == vol.slab_shift for e in h)
    # a torn husk above shows up flagged, not hidden
    top = h[0]["generation"] + 1
    vol._fs.write_bytes(vol._manifest_file(top), b"{torn")
    h2 = vol.history()
    assert h2[0] == {"generation": top, "readable": False,
                     "entries": None, "slab_shift": None,
                     "committed_at": None, "data_change": None,
                     "mips": None, "empty_mips": None}
    assert h2[1:] == h


def test_history_flags_registered_but_empty_mips(spark, tmp_path):
    """restore() rolls back chunk entries but NOT the scale registry
    (documented in restore()'s docstring), so a mip registered after
    the restore target stays registered and serves no chunks — the
    confusing silently-empty-cutout state. history() must surface it:
    the restored head's row names that mip in ``empty_mips``."""
    import numpy as np

    _, vol = _mk_vol(spark, tmp_path, "histmip", n=64, cs=16)
    g1 = int(vol._read_manifest()["generation"])
    vol.downsample()  # registers + populates mip 1 after g1
    h = vol.history()
    assert h[0]["mips"] == [0, 1] and h[0]["empty_mips"] == []
    # pre-downsample generations: mip 1 is registered NOW but has no
    # chunks THEN — flagged, not hidden
    old = next(e for e in h if e["generation"] == g1)
    assert old["mips"] == [0] and old["empty_mips"] == [1]

    vol.restore(g1)
    head = vol.history()[0]
    assert head["readable"] and head["mips"] == [0]
    assert head["empty_mips"] == [1]


def test_sibling_layers_honor_read_only_and_pin(spark, tmp_path):
    """vol.mesh / vol.skeleton inherit the owning handle's writability:
    a time-travel-pinned or redirect-read-only volume's sibling layers
    refuse writes too (the reference's ReadOnlyException covers the
    whole frontend, not just the image layer)."""
    import pytest as _pytest

    _, vol = _mk_vol(spark, tmp_path, "sib")
    gen = int(vol._read_manifest()["generation"])
    mesh_df = spark.createDataFrame(
        [(1, 0, [[0.0, 0.0, 0.0]], [[0, 0, 0]])],
        "segid long, fragment int, vertices array<array<float>>, "
        "faces array<array<int>>")
    skel_df = spark.createDataFrame(
        [(1, [[0.0, 0.0, 0.0]], [[0, 0]], None, None)],
        "segid long, vertices array<array<float>>, "
        "edges array<array<int>>, radii array<float>, "
        "vertex_types array<int>")

    pinned = Volume.open(spark, str(tmp_path / "sib"), generation=gen)
    with _pytest.raises(PermissionError, match="pinned"):
        pinned.mesh.write(mesh_df)
    with _pytest.raises(PermissionError, match="pinned"):
        pinned.skeleton.write(skel_df)

    alias_info = vol.info.clone()
    alias_info.info["redirect"] = str(tmp_path / "sib")
    alias_info.commit(str(tmp_path / "sib_alias"))
    ro = Volume.open(spark, str(tmp_path / "sib_alias"))
    with _pytest.raises(PermissionError, match="redirect"):
        ro.mesh.write(mesh_df)
    with _pytest.raises(PermissionError, match="redirect"):
        ro.skeleton.write(skel_df)

    # the writable handle still writes (and imports route through write)
    vol.mesh.write(mesh_df)
    vol.skeleton.write(skel_df)
    assert vol.mesh.df().count() == 1
    assert vol.skeleton.df().count() == 1


def test_pinned_manifest_is_cached(spark, tmp_path):
    """A generation-pinned handle loads its (immutable) manifest once:
    read_voxel loops must not pay a storage round-trip + JSON parse per
    call."""
    arr, vol = _mk_vol(spark, tmp_path, "pincache")
    gen = int(vol._read_manifest()["generation"])
    pinned = Volume.open(spark, str(tmp_path / "pincache"), generation=gen)

    def boom(g):  # any further fetch of the pinned file is a bug
        raise AssertionError("pinned manifest re-read from storage")

    pinned._load_manifest_generation = boom
    assert np.array_equal(
        pinned.cutout(Bbox((0, 0, 0), (32, 32, 32))), arr[:32, :32, :32])
    assert pinned.read_voxel((1, 2, 3)) == arr[1, 2, 3, 0]

def test_changes_feed(spark, tmp_path):
    """changes(g0, g1) is the slab-granularity CDF: added / rewritten /
    removed rows with old+new dirs, exact because the slab is the
    rewrite unit; generation 0 diffs against the empty table."""
    import pytest as _pytest

    from cloud_volume_spark.volume import ManifestError

    _, vol = _mk_vol(spark, tmp_path, "cdf")
    man1 = vol._read_manifest()
    g1 = int(man1["generation"])

    # everything-since-empty: one 'added' row per live manifest entry
    ch0 = {(r.mip, r.slab): r for r in vol.changes(0).collect()}
    assert set(ch0) == {tuple(map(int, k.split("/")))
                        for k in man1["entries"]}
    assert all(r.change == "added" and r.from_dir is None for r in ch0.values())

    # a patch write rewrites its slab(s); untouched slabs don't appear
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    ch = vol.changes(g1).collect()
    assert len(ch) >= 1
    assert all(r.change == "rewritten" and r.mip == 0 for r in ch)
    assert all(r.from_dir != r.to_dir and r.to_dir is not None for r in ch)
    rewritten = {(r.mip, r.slab) for r in ch}
    assert rewritten < set(ch0) or rewritten == set(ch0)

    # identical endpoints: empty feed; missing generation: loud
    g2 = int(vol._read_manifest()["generation"])
    assert vol.changes(g2).count() == 0
    assert vol.changes(g1, g2).count() == len(ch)
    with _pytest.raises(ManifestError, match="vacuumed"):
        vol.changes(999)


def test_incremental_downsample_matches_full(spark, tmp_path):
    """downsample(since_generation=N) after a patch write + a region
    delete produces EXACTLY the mip tree a full recompute would —
    recomputed parents replace their rows, parents whose every child
    was deleted disappear — while re-reducing only affected parents."""
    # cs=8 → mip-1 grid 4×4×8 = 128 chunks = 2 slabs (shift 6), so the
    # only-affected-parents property is observable at the slab level
    arr, vol = _mk_vol(spark, tmp_path, "incr", n=64, cs=8)
    vol.downsample()  # full mip-1 build
    man_full = vol._read_manifest()
    g = int(man_full["generation"])

    # patch one source chunk and fully delete the 4 children of one
    # mip-1 parent (parent (1,1,0): x[16,32) y[16,32) z[0,8) at mip 0)
    patch = np.full((8, 8, 8, 1), 7, np.uint32)
    vol.upload(patch, offset=(8, 8, 0))
    vol.delete(Bbox((16, 16, 0), (32, 32, 8)))
    final0 = vol.cutout(Bbox((0, 0, 0), (64, 64, 64)), fill_missing=True)

    vol.downsample(since_generation=g)

    # oracle: a fresh table holding the same mip-0 content, fully
    # downsampled from scratch
    ref = Volume.from_numpy(spark, final0, str(tmp_path / "incr_ref"),
                            chunk_size=(8, 8, 8))
    ref.downsample()
    want = ref.cutout(Bbox((0, 0, 0), (32, 32, 64)), mip=1,
                      fill_missing=True)
    got = vol.cutout(Bbox((0, 0, 0), (32, 32, 64)), mip=1,
                     fill_missing=True)
    assert np.array_equal(got, want)

    # the all-children-deleted parent's row is GONE, not zero-filled
    m1 = {(r.cx, r.cy, r.cz)
          for r in vol.chunks_df(mip=1).select("cx", "cy", "cz").collect()}
    assert (1, 1, 0) not in m1
    # ONLY affected mip-1 slabs were rewritten: the patched/deleted
    # parents all sit in low-morton slabs, so at least one mip-1 entry
    # keeps its exact pre-call dir (no silent full recompute) while at
    # least one changed
    man_after = vol._read_manifest()
    m1_keys = [k for k in man_after["entries"] if k.startswith("1/")]
    assert len(m1_keys) >= 2
    same = [k for k in m1_keys
            if man_full["entries"].get(k) == man_after["entries"][k]]
    diff = [k for k in m1_keys
            if man_full["entries"].get(k) != man_after["entries"][k]]
    assert same and diff


def test_incremental_downsample_noop_and_guards(spark, tmp_path):
    """since_generation at the current generation is a no-op commit;
    a vacuumed base raises."""
    import pytest as _pytest

    from cloud_volume_spark.volume import ManifestError

    _, vol = _mk_vol(spark, tmp_path, "incrg", n=32, cs=16)
    vol.downsample()
    g = int(vol._read_manifest()["generation"])
    vol.downsample(since_generation=g)  # nothing changed since g
    assert int(vol._read_manifest()["generation"]) == g
    with _pytest.raises(ManifestError, match="vacuumed"):
        vol.downsample(since_generation=998)


def test_generate_pyramid_incremental_propagates(spark, tmp_path):
    """generate_pyramid(since_generation=N) pushes a base patch up the
    whole existing pyramid: each level's manifest diff vs N is exactly
    the slabs the previous level rewrote."""
    arr, vol = _mk_vol(spark, tmp_path, "pyr", n=64, cs=16)
    vol.generate_pyramid(2)
    g = int(vol._read_manifest()["generation"])

    patch = np.full((16, 16, 16, 1), 9, np.uint32)
    vol.upload(patch, offset=(0, 0, 16))
    final0 = vol.cutout(Bbox((0, 0, 0), (64, 64, 64)))
    vol.generate_pyramid(2, since_generation=g)

    ref = Volume.from_numpy(spark, final0, str(tmp_path / "pyr_ref"),
                            chunk_size=(16, 16, 16))
    ref.generate_pyramid(2)
    for mip, size in ((1, (32, 32, 64)), (2, (16, 16, 64))):
        want = ref.cutout(Bbox((0, 0, 0), size), mip=mip,
                          fill_missing=True)
        got = vol.cutout(Bbox((0, 0, 0), size), mip=mip,
                         fill_missing=True)
        assert np.array_equal(got, want), f"mip {mip}"

def test_incremental_downsample_unbuilt_level_builds_fully(spark, tmp_path):
    """since_generation on a level that was never built must produce
    the COMPLETE level (full-build fallback), not just the changed
    parents."""
    arr, vol = _mk_vol(spark, tmp_path, "unb", n=32, cs=8)
    g = int(vol._read_manifest()["generation"])
    vol.upload(np.full((8, 8, 8, 1), 5, np.uint32), offset=(0, 0, 0))
    final0 = vol.cutout(Bbox((0, 0, 0), (32, 32, 32)))
    vol.downsample(since_generation=g)  # mip 1 never existed

    ref = Volume.from_numpy(spark, final0, str(tmp_path / "unb_ref"),
                            chunk_size=(8, 8, 8))
    ref.downsample()
    want = ref.cutout(Bbox((0, 0, 0), (16, 16, 32)), mip=1)
    got = vol.cutout(Bbox((0, 0, 0), (16, 16, 32)), mip=1)
    assert np.array_equal(got, want)


def test_full_downsample_drops_emptied_target_slabs(spark, tmp_path):
    """A FULL recompute (the incremental path's cap fallback) must also
    drop target entries whose every parent vanished — not leave a stale
    manifest entry serving pre-delete data."""
    _, vol = _mk_vol(spark, tmp_path, "fdrop", n=32, cs=8)
    vol.downsample()
    assert any(k.startswith("1/")
               for k in vol._read_manifest()["entries"])
    # delete the ENTIRE mip-0 source, then fully re-downsample
    vol.delete(Bbox((0, 0, 0), (32, 32, 32)))
    vol.downsample()
    assert not any(k.startswith("1/")
                   for k in vol._read_manifest()["entries"])


def test_changes_rejects_inverted_range(spark, tmp_path):
    """Inverted generation order raises instead of labelling
    additions as removals."""
    import pytest as _pytest

    _, vol = _mk_vol(spark, tmp_path, "chg", n=32, cs=16)
    with _pytest.raises(ValueError, match="inverted|must not exceed"):
        vol.changes(5, 2)


def test_open_as_of_timestamp(spark, tmp_path):
    """open(as_of=ts) pins the newest generation published at or
    before ts (TIMESTAMP AS OF); history() carries the stamps."""
    import time as _time

    import pytest as _pytest

    from cloud_volume_spark.volume import ManifestError

    arr, vol = _mk_vol(spark, tmp_path, "asof")
    t_between = _time.time()
    _time.sleep(0.05)
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))

    h = vol.history()
    assert all(e["committed_at"] is not None for e in h)
    assert h[0]["committed_at"] >= h[-1]["committed_at"]

    old = Volume.open(spark, str(tmp_path / "asof"), as_of=t_between)
    assert old._pinned_generation == h[-1]["generation"]
    assert np.array_equal(
        old.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)
    now = Volume.open(spark, str(tmp_path / "asof"), as_of=_time.time())
    assert now._pinned_generation == h[0]["generation"]
    with _pytest.raises(PermissionError, match="pinned"):
        old.upload(arr, offset=(0, 0, 0))
    with _pytest.raises(ManifestError, match="at or before"):
        Volume.open(spark, str(tmp_path / "asof"), as_of=0.0)
    with _pytest.raises(ValueError, match="not both"):
        Volume.open(spark, str(tmp_path / "asof"), generation=1,
                    as_of=t_between)
    # ISO-8601 form resolves too (far future → newest generation)
    iso = Volume.open(spark, str(tmp_path / "asof"),
                      as_of="2100-01-01T00:00:00+00:00")
    assert iso._pinned_generation == h[0]["generation"]


def test_as_of_husk_skipped_but_read_failure_loud(spark, tmp_path):
    """as_of resolution skips a torn husk (that commit never happened)
    but refuses to fall past a generation it cannot READ — silently
    pinning older data on a transient IO error would serve a stale
    snapshot as current."""
    import time as _time

    import pytest as _pytest

    from cloud_volume_spark.volume import ManifestError

    _, vol = _mk_vol(spark, tmp_path, "asofh")
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    top = vol._manifest_generations()[0]
    vol._fs.write_bytes(vol._manifest_file(top + 1), b"{torn")
    g, man = vol._generation_as_of(_time.time())
    assert g == top and man["generation"] == top  # husk skipped

    real = vol._fs

    class _FlakyRead:
        def __getattr__(self, name):
            return getattr(real, name)

        def read_bytes(self, path):
            if path == vol._manifest_file(top):
                raise IOError("Status Code: 503; Slow Down")
            return real.read_bytes(path)

    vol._fs = _FlakyRead()
    with _pytest.raises(ManifestError, match="refusing"):
        vol._generation_as_of(_time.time())
    vol._fs = real


def _feed_rows_on_disk(vol):
    """{generation: [row dicts]} parsed straight from the feed files."""
    import json as _json
    import os as _os

    feed = _os.path.join(vol.chunks_path, "feed")
    out = {}
    for n in sorted(_os.listdir(feed)):
        if not n.startswith("gen-"):
            continue
        g = int(n[4:-5])
        with open(_os.path.join(feed, n)) as f:
            out[g] = [_json.loads(l) for l in f if l.strip()]
    return out


def test_feed_files_match_batch_changes(spark, tmp_path):
    """Every publish writes a JSONL feed file whose rows are exactly
    the batch changes(N-1, N) diff plus the commit's generation and
    stamp — the streaming and batch feeds ride the same diff."""
    arr, vol = _mk_vol(spark, tmp_path, "feed", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    vol.delete(Bbox((0, 0, 0), (8, 8, 8)))

    gens = sorted(vol._manifest_generations())
    on_disk = _feed_rows_on_disk(vol)
    assert sorted(on_disk) == gens  # a file per generation, no gaps
    for g in gens:
        batch = {(r.mip, r.slab): (r.change, r.from_dir, r.to_dir)
                 for r in vol.changes(g - 1, g).collect()}
        feed = {(r["mip"], r["slab"]): (r["change"], r["from_dir"],
                                        r["to_dir"])
                for r in on_disk[g]}
        assert feed == batch, g
        man = vol._load_manifest_generation(g)
        assert all(r["generation"] == g
                   and r["committed_at"] == man.get("committed_at")
                   for r in on_disk[g])


def test_feed_gap_heals_on_next_commit(spark, tmp_path):
    """A crash between manifest publish and feed write (simulated by
    deleting a feed file) is healed by the next commit's repair pass,
    with identical content."""
    import os as _os

    _, vol = _mk_vol(spark, tmp_path, "feedh", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    top = vol._manifest_generations()[0]
    want = _feed_rows_on_disk(vol)[top]
    _os.remove(_os.path.join(vol.chunks_path, "feed",
                             f"gen-{top:012d}.json"))

    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(8, 0, 0))
    healed = _feed_rows_on_disk(vol)
    assert healed[top] == want
    assert sorted(healed) == sorted(vol._manifest_generations())
    assert vol.repair_feed() == 0  # nothing left to heal


def test_stream_changes_is_a_readstream_over_the_feed(spark, tmp_path):
    """stream_changes() is a real Structured Streaming source: an
    availableNow pass drains the feed files written so far, and a
    restart from the same checkpoint consumes ONLY commits that landed
    in between — the incremental-consumption contract."""
    _, vol = _mk_vol(spark, tmp_path, "feeds", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    ck = str(tmp_path / "feeds_ck")
    sink = str(tmp_path / "feeds_out")

    def drain():
        q = (vol.stream_changes().writeStream.format("parquet")
             .trigger(availableNow=True)
             .option("checkpointLocation", ck)
             .option("path", sink).start())
        q.awaitTermination(120)
        return {(r.generation, r.mip, r.slab): r.change
                for r in spark.read.parquet(sink).collect()}

    got = drain()
    want = {}
    for g in sorted(vol._manifest_generations()):
        for r in vol.changes(g - 1, g).collect():
            want[(g, r.mip, r.slab)] = r.change
    assert got == want and got

    # a commit AFTER the first drain; the checkpoint resumes and the
    # sink gains ONLY the new generation's rows
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(16, 0, 0))
    top = vol._manifest_generations()[0]
    got2 = drain()
    inc = {k: v for k, v in got2.items() if k not in got}
    assert set(got2) == set(got) | set(inc)
    assert inc and all(g == top for (g, _, _) in inc)
    assert {(m, s): c for (g, m, s), c in inc.items()} == {
        (r.mip, r.slab): r.change
        for r in vol.changes(top - 1, top).collect()}


def test_vacuum_reclaims_feed_with_manifests(spark, tmp_path):
    """Feed files follow manifest retention: after vacuum only the
    kept generations' feed files remain (an older feed would describe
    vacuumed data)."""
    _, vol = _mk_vol(spark, tmp_path, "feedv", n=64, cs=8)
    for i in range(4):
        vol.upload(np.zeros((8, 8, 8, 1), np.uint32),
                   offset=(8 * i, 0, 0))
    vol.vacuum(keep_manifests=2)
    kept = set(vol._manifest_generations())
    assert len(kept) == 2
    assert set(_feed_rows_on_disk(vol)) == kept


def test_as_of_unstamped_newest_is_last_resort(spark, tmp_path):
    """An UNSTAMPED generation newer than stamped ones (old-version
    writer on a stamped table) must not shadow a stamped qualifier: its
    commit time is unknown, so serving it for an as_of in the stamped
    range would pass off post-timestamp data as a historical snapshot.
    It is used only when no stamped generation qualifies."""
    import json as _json
    import time as _time

    _, vol = _mk_vol(spark, tmp_path, "asofu")
    t_after_g1 = _time.time()
    _time.sleep(0.05)
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    top = vol._manifest_generations()[0]
    man = vol._read_manifest()
    husk = dict(man)
    husk.pop("committed_at", None)
    husk["generation"] = top + 1
    vol._fs.write_bytes(vol._manifest_file(top + 1),
                        _json.dumps(husk, sort_keys=True).encode())

    g, _ = vol._generation_as_of(t_after_g1)
    assert g == top - 1  # stamped gen 1, NOT the unstamped top+1
    g, _ = vol._generation_as_of(_time.time())
    assert g == top  # newest stamped qualifier still wins

    # only when NO stamped generation qualifies may the unstamped one
    # serve — strip every stamp and the newest unstamped wins
    for gen in vol._manifest_generations():
        m = _json.loads(vol._fs.read_bytes(vol._manifest_file(gen)))
        m.pop("committed_at", None)
        vol._fs.write_bytes(vol._manifest_file(gen),
                            _json.dumps(m, sort_keys=True).encode())
    g, _ = vol._generation_as_of(0.0)
    assert g == top + 1


def test_as_of_accepts_datetime(spark, tmp_path):
    """open(as_of=datetime(...)) works — naive datetimes are UTC, the
    same rule as the ISO-8601 string form."""
    from datetime import datetime, timezone

    arr, vol = _mk_vol(spark, tmp_path, "asofd")
    h = vol.history()
    pinned = Volume.open(
        spark, str(tmp_path / "asofd"),
        as_of=datetime.now(timezone.utc))
    assert pinned._pinned_generation == h[0]["generation"]
    assert np.array_equal(
        pinned.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)
    naive = Volume.open(
        spark, str(tmp_path / "asofd"),
        as_of=datetime.now(timezone.utc).replace(tzinfo=None))
    assert naive._pinned_generation == h[0]["generation"]


def test_changed_chunks_df_reads_only_moved_slabs(spark, tmp_path):
    """changed_chunks_df(N) returns the current rows of exactly the
    added/rewritten slabs — a patch write yields its own slab's chunks,
    not the whole table."""
    arr, vol = _mk_vol(spark, tmp_path, "ccdf", n=64, cs=8)
    g = int(vol._read_manifest()["generation"])
    assert vol.changed_chunks_df(g).count() == 0

    vol.upload(np.full((8, 8, 8, 1), 3, np.uint32), offset=(0, 0, 0))
    moved = vol.changed_chunks_df(g)
    total = vol.chunks_df(mip=0).count()
    n_moved = moved.count()
    assert 0 < n_moved < total
    # the patched chunk is in the feed; mip filter works
    assert moved.where("cx = 0 and cy = 0 and cz = 0").count() == 1
    assert vol.changed_chunks_df(g, mip=1).count() == 0
    # since-empty = the whole table
    assert vol.changed_chunks_df(0).count() == total


def test_repair_feed_requires_commit_lock(spark, tmp_path):
    """repair_feed takes the commit lock (an unlocked backfill racing
    vacuum could resurrect a feed file for a generation whose data
    dirs were just reclaimed); stream_changes() stays serveable under
    a held lock because its backfill is best-effort — and takes NO
    lock at all when the feed has no gap, so a reader's stream start
    cannot spuriously conflict a concurrent writer's commit."""
    import os as _os

    from cloud_volume_spark.volume import CommitConflictError

    _, vol = _mk_vol(spark, tmp_path, "feedlk", n=64, cs=8)
    assert vol._fs.create_exclusive(vol._commit_lock_path)
    try:
        with pytest.raises(CommitConflictError):
            vol.repair_feed()
        # no gap: stream start must not touch the (held) lock — pin it
        # with a spy, since a lock-conflicted repair would otherwise be
        # swallowed into the best-effort warning and pass anyway
        calls = []
        orig_repair = vol.repair_feed
        vol.repair_feed = lambda: calls.append(1) or orig_repair()
        assert vol.stream_changes().isStreaming
        assert calls == []
        # a torn-husk newest manifest (crashed publisher) is a commit
        # that never happened, NOT a gap — stream starts must not
        # hammer the lock over a hole the repairer cannot close
        husk_gen = vol._manifest_generations()[0] + 1
        vol._fs.write_bytes(vol._manifest_file(husk_gen), b"{torn")
        assert vol.stream_changes().isStreaming
        assert calls == []
        vol._fs.remove(vol._manifest_file(husk_gen))
        vol.repair_feed = orig_repair
        # with a gap: backfill is attempted, fails loudly, stream
        # still serves
        top = vol._manifest_generations()[0]
        _os.remove(_os.path.join(vol.chunks_path, "feed",
                                 f"gen-{top:012d}.json"))
        with pytest.warns(RuntimeWarning, match="backfill skipped"):
            sdf = vol.stream_changes()
        assert sdf.isStreaming
    finally:
        vol._fs.remove(vol._commit_lock_path)
    # lock released: repair heals the gap
    assert vol.repair_feed() == 1
    assert vol.repair_feed() == 0


def test_stream_changes_backfills_pre_feed_table(spark, tmp_path):
    """A table whose generations predate the streaming feed (upgrade
    path, or a crashed feed write with no commit since) gets its feed
    backfilled at stream start instead of silently draining nothing
    while changes() shows history."""
    import os as _os
    import shutil as _shutil

    _, vol = _mk_vol(spark, tmp_path, "feedbf", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    _shutil.rmtree(_os.path.join(vol.chunks_path, "feed"))

    sdf = vol.stream_changes()
    assert sorted(_feed_rows_on_disk(vol)) == sorted(
        vol._manifest_generations())
    ck, sink = str(tmp_path / "bf_ck"), str(tmp_path / "bf_out")
    q = (sdf.writeStream.format("parquet").trigger(availableNow=True)
         .option("checkpointLocation", ck).option("path", sink).start())
    q.awaitTermination(120)
    want = sum(len(v) for v in _feed_rows_on_disk(vol).values())
    assert spark.read.parquet(sink).count() == want > 0


def test_vacuum_sweeps_orphaned_feed_tmp(spark, tmp_path):
    """A publish tmp orphaned by a crash mid-feed-write (dot-prefixed,
    so invisible to Spark file sources and to the gen-*.json retention
    filter) is reclaimed by vacuum, under the lock that proves no live
    publisher owns it."""
    import os as _os

    _, vol = _mk_vol(spark, tmp_path, "feedtmp", n=64, cs=8)
    orphan = _os.path.join(vol.chunks_path, "feed",
                           ".gen-000000000099.json.w123-abc")
    with open(orphan, "wb") as f:
        f.write(b"partial")
    # manifest-publish tmps land in the chunks root (the HDFS rename
    # path writes them there) — swept on the same pass
    orphan2 = _os.path.join(vol.chunks_path,
                            "._manifest-000000000099.json.w99-ff")
    with open(orphan2, "wb") as f:
        f.write(b"partial")
    vol.vacuum()
    assert not _os.path.exists(orphan)
    assert not _os.path.exists(orphan2)


def test_compact_single_file_per_slab_and_cdf_silence(
        spark, tmp_path, monkeypatch):
    """compact() (the Delta OPTIMIZE analog): multi-file slab dirs are
    re-packed into exactly one file each, content is bit-identical, and
    the commit is data_change=false — the change feed stays silent
    (empty feed file), changes() across the compaction is empty, while
    changes(0) still reports history with to_dir pointing at the
    compacted dirs."""
    import os as _os

    # per-chunk buckets so the initial commit writes many files per slab
    monkeypatch.setattr(Volume, "_commit_bucket", lambda self: 0)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        arr = np.arange(64 ** 3, dtype=np.uint32).reshape(64, 64, 64, 1)
        vol = Volume.from_numpy(spark, arr, str(tmp_path / "cmp"),
                                chunk_size=(16, 16, 16))
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")

    def files_per_slab(man):
        return {
            k: [n for n in _os.listdir(
                    _os.path.join(vol.chunks_path, rel))
                if n.endswith(".parquet")]
            for k, rel in man["entries"].items()
        }

    man = vol._read_manifest()
    g0 = int(man["generation"])
    fps = files_per_slab(man)
    multi = sum(1 for v in fps.values() if len(v) >= 2)
    assert multi >= 1

    assert vol.compact() == multi
    man2 = vol._read_manifest()
    assert int(man2["generation"]) == g0 + 1
    assert man2["data_change"] is False
    assert all(len(v) == 1 for v in files_per_slab(man2).values())
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)

    # CDF silence across the compaction, full history before it
    assert vol.changes(g0).count() == 0
    rows = vol.changes(0).collect()
    assert rows and all(r.change == "added" for r in rows)
    assert {(r.mip, r.slab): r.to_dir for r in rows} == {
        tuple(int(p) for p in k.split("/")): v
        for k, v in man2["entries"].items()}
    assert _feed_rows_on_disk(vol)[g0 + 1] == []

    # idempotent; vacuum reclaims the superseded multi-file dirs and
    # the table still serves
    assert vol.compact() == 0
    vol.vacuum(keep_manifests=1)
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)


def test_compact_does_not_trigger_incremental_downsample(
        spark, tmp_path, monkeypatch):
    """A compaction between generation N and now must not make
    downsample(since_generation=N) re-reduce anything: the diff is
    data_change=false only, so the incremental leg publishes nothing."""
    monkeypatch.setattr(Volume, "_commit_bucket", lambda self: 0)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        arr, vol = _mk_vol(spark, tmp_path, "cmpd", n=64, cs=8)
        vol.downsample()
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")
    g = int(vol._read_manifest()["generation"])
    before = vol.cutout(Bbox((0, 0, 0), (32, 32, 64)), mip=1,
                        fill_missing=True)
    assert vol.compact(mip=0) >= 1
    g_after_compact = int(vol._read_manifest()["generation"])

    vol.downsample(since_generation=g)
    assert int(vol._read_manifest()["generation"]) == g_after_compact
    after = vol.cutout(Bbox((0, 0, 0), (32, 32, 64)), mip=1,
                       fill_missing=True)
    assert np.array_equal(after, before)


def test_repair_feed_backfills_compaction_without_predecessor(
        spark, tmp_path, monkeypatch):
    """A data_change=false generation's feed payload is empty no matter
    the predecessor, so repair_feed must backfill it even after the
    predecessor manifest was vacuumed — otherwise the gap-free feed
    sequence shows a spurious hole that makes consumers restart from a
    batch read for nothing."""
    import os as _os

    monkeypatch.setattr(Volume, "_commit_bucket", lambda self: 0)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        _, vol = _mk_vol(spark, tmp_path, "cmpr", n=64, cs=16)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert vol.compact() >= 1
    g = int(vol._read_manifest()["generation"])  # the compaction gen
    # simulate: crash before the feed write, then predecessor vacuumed
    _os.remove(_os.path.join(vol.chunks_path, "feed",
                             f"gen-{g:012d}.json"))
    vol._fs.remove(vol._manifest_file(g - 1))
    assert vol.repair_feed() == 1
    assert _feed_rows_on_disk(vol)[g] == []


def test_stream_ingest_merges_per_microbatch(spark, tmp_path):
    """stream_ingest: a Structured Streaming sink committing one merge
    generation per micro-batch — existing chunks the batch does not
    overwrite survive, and a checkpoint restart ingests ONLY files that
    arrived since (incremental, not reprocessing)."""
    import os as _os

    arr, vol = _mk_vol(spark, tmp_path, "sing", n=64, cs=16)
    src = str(tmp_path / "sing_src")
    _os.makedirs(src)
    schema = ("x0 int, x1 int, y0 int, y1 int, z0 int, z1 int, "
              "blob binary")

    def block_rows(off, val):
        a = np.full((16, 16, 16, 1), val, np.uint32)
        return [(off[0], off[0] + 16, off[1], off[1] + 16,
                 off[2], off[2] + 16, bytearray(a.tobytes(order="F")))]

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (vol.stream_ingest(stream,
                               checkpoint=str(tmp_path / "sing_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    spark.createDataFrame(block_rows((0, 0, 0), 111), schema=schema) \
        .write.mode("append").parquet(src)
    assert drain() == 1
    want = arr.copy()
    want[0:16, 0:16, 0:16] = 111
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))),
                          want)

    # a later file lands; the checkpointed restart merges ONLY it
    # (numInputRows pins incremental consumption — a broken checkpoint
    # reprocessing both files would read 2 rows) and the first batch's
    # writes and the original content survive the merge
    spark.createDataFrame(block_rows((16, 0, 0), 222), schema=schema) \
        .write.mode("append").parquet(src)
    g_before = int(vol._read_manifest()["generation"])
    assert drain() == 1
    want[16:32, 0:16, 0:16] = 222
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))),
                          want)
    assert int(vol._read_manifest()["generation"]) == g_before + 1

    # duplicate chunk keys in ONE batch are refused loudly, not
    # committed as nondeterministic duplicate rows
    dup = block_rows((32, 0, 0), 1) + block_rows((32, 0, 0), 2)
    bad = spark.createDataFrame(dup, schema=schema)
    with pytest.raises(ValueError, match="duplicate|rows for"):
        vol.write_blocks_df(bad, merge=True)
    # and an empty merge batch publishes no no-op generation
    g2 = int(vol._read_manifest()["generation"])
    vol.write_blocks_df(
        spark.createDataFrame([], schema=schema), merge=True)
    assert int(vol._read_manifest()["generation"]) == g2

    # order_col: a micro-batch holding two versions of one block keeps
    # the latest (instead of the duplicate-key refusal becoming a
    # permanent poison batch on checkpoint replay)
    src2 = str(tmp_path / "sing_src2")
    _os.makedirs(src2)
    sch2 = schema + ", ts int"
    rows = [block_rows((48, 0, 0), 5)[0] + (1,),
            block_rows((48, 0, 0), 9)[0] + (2,)]
    spark.createDataFrame(rows, schema=sch2) \
        .write.mode("append").parquet(src2)
    q = (vol.stream_ingest(
            spark.readStream.schema(sch2).parquet(src2),
            checkpoint=str(tmp_path / "sing_ck2"), order_col="ts")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert (vol.cutout(Bbox((48, 0, 0), (64, 16, 16))) == 9).all()

    # a typo'd order_col fails at wiring time, not as a poison batch
    with pytest.raises(ValueError, match="does not resolve"):
        vol.stream_ingest(spark.readStream.schema(sch2).parquet(src2),
                          checkpoint=str(tmp_path / "sing_ck3"),
                          order_col="timestmap")

    # equal-order DIFFERENT blobs are refused loudly (an upstream
    # ordering bug must not become a silent hash-race data loss)
    from pyspark.errors.exceptions.captured import StreamingQueryException
    src3 = str(tmp_path / "sing_src3")
    _os.makedirs(src3)
    amb = [block_rows((0, 16, 0), 3)[0] + (1,),
           block_rows((0, 16, 0), 4)[0] + (1,)]
    spark.createDataFrame(amb, schema=sch2) \
        .write.mode("append").parquet(src3)
    q = (vol.stream_ingest(
            spark.readStream.schema(sch2).parquet(src3),
            checkpoint=str(tmp_path / "sing_ck4"), order_col="ts")
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="DIFFERENT rewrites"):
        q.awaitTermination(120)

    def refused(rows, ck, pattern):
        srcn = str(tmp_path / f"sing_{ck}")
        _os.makedirs(srcn)
        spark.createDataFrame(rows, schema=sch2) \
            .write.mode("append").parquet(srcn)
        qn = (vol.stream_ingest(
                spark.readStream.schema(sch2).parquet(srcn),
                checkpoint=str(tmp_path / ck), order_col="ts")
              .trigger(availableNow=True).start())
        with pytest.raises(StreamingQueryException, match=pattern):
            qn.awaitTermination(120)

    # a NULL order value is refused (max() would silently drop it)
    refused([block_rows((0, 32, 0), 3)[0] + (None,),
             block_rows((0, 32, 0), 4)[0] + (2,)],
            "ck_null", "is NULL on some rows")
    # sub-cell tiles (mixed extents in one cell) are refused at ANY
    # order — keep-latest would silently drop every tile but one
    half = np.full((8, 16, 16, 1), 6, np.uint32)
    tiles = [(0, 8, 16, 32, 0, 16,
              bytearray(half.tobytes(order="F")), 1),
             (8, 16, 16, 32, 0, 16,
              bytearray(half.tobytes(order="F")), 2)]
    refused(tiles, "ck_tiles", "different block extents")


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """restore(N): one manifest PUT republishing generation N's entries
    — content reverts exactly, history is preserved (the rolled-back
    generation stays readable), the change feed reports the rollback as
    ordinary rows, and a vacuumed target refuses loudly."""
    from cloud_volume_spark.volume import ManifestError

    arr, vol = _mk_vol(spark, tmp_path, "rest", n=64, cs=16)
    g1 = int(vol._read_manifest()["generation"])
    vol.upload(np.zeros((16, 16, 16, 1), np.uint32), offset=(0, 0, 0))
    g2 = int(vol._read_manifest()["generation"])
    assert g2 == g1 + 1

    g3 = vol.restore(g1)
    assert g3 == g2 + 1
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)
    # the rollback IS a change: the feed for g3 mirrors g2's inverse
    fwd = {(r.mip, r.slab): (r.from_dir, r.to_dir)
           for r in vol.changes(g1, g2).collect()}
    back = {(r.mip, r.slab): (r.from_dir, r.to_dir)
            for r in vol.changes(g2, g3).collect()}
    assert back == {k: (b, a) for k, (a, b) in fwd.items()}
    # rolled-back generation stays time-travel readable until vacuum
    pinned = Volume.open(spark, str(tmp_path / "rest"), generation=g2)
    assert (pinned.cutout(Bbox((0, 0, 0), (16, 16, 16))) == 0).all()
    # restoring a vacuumed generation refuses loudly
    vol.upload(np.full((16, 16, 16, 1), 9, np.uint32), offset=(16, 0, 0))
    vol.vacuum(keep_manifests=1)
    with pytest.raises(ManifestError, match="vacuumed|missing"):
        vol.restore(g1)
    # restore(0) = empty table as a commit
    g = vol.restore(0)
    assert vol._read_manifest()["generation"] == g
    assert vol._read_manifest()["entries"] == {}


def test_restore_to_head_is_noop(spark, tmp_path):
    """restore(current) returns the head unchanged instead of burning a
    retention slot on a duplicate commit (the Delta RESTORE-to-current
    no-op contract)."""
    _, vol = _mk_vol(spark, tmp_path, "restnoop", n=32, cs=16)
    g = int(vol._read_manifest()["generation"])
    assert vol.restore(g) == g
    assert int(vol._read_manifest()["generation"]) == g


def test_pinned_generation_with_reclaimed_dirs_fails_loudly(
        spark, tmp_path):
    """A retained manifest whose data dirs are gone (tables vacuumed by
    a pre-upgrade version that kept manifest files without their dirs)
    must fail at pin/validation time with an actionable ManifestError,
    not mid-job with an opaque Spark path-not-found."""
    import shutil as _shutil

    from cloud_volume_spark.volume import ManifestError

    import os as _os

    # n=64 cs=8 -> 8 slabs, so generations can MIX commit dirs
    _, vol = _mk_vol(spark, tmp_path, "reclaim", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    g2 = int(vol._read_manifest()["generation"])
    man2 = vol._load_manifest_generation(g2)
    assert len({r.split("/")[1] for r in man2["entries"].values()}) == 2
    # head g3 rewrites the SAME slab, stranding g2's patch commit
    vol.upload(np.full((8, 8, 8, 1), 5, np.uint32), offset=(0, 0, 0))
    g3 = int(vol._read_manifest()["generation"])
    man3 = vol._load_manifest_generation(g3)
    only_g2 = ({rel.split("/")[1] for rel in man2["entries"].values()}
               - {rel.split("/")[1] for rel in man3["entries"].values()})
    assert len(only_g2) == 1  # g2 mixes a surviving + a reclaimed commit
    for c in only_g2:
        _shutil.rmtree(_os.path.join(vol.chunks_path, "data", c))

    # the probe must catch the reclaimed commit REGARDLESS of how its
    # random hex name sorts against the surviving one (a single-sample
    # min() probe passed ~50% of the time)
    with pytest.raises(ManifestError, match="reclaimed"):
        Volume.open(spark, str(tmp_path / "reclaim"), generation=g2)
    with pytest.raises(ManifestError, match="reclaimed"):
        vol.restore(g2)
    # pure manifest-diff readers open no dirs at all — computable,
    # correct diffs are served, not refused, for ANY endpoints
    # (consumers reading the dir paths directly take on the liveness
    # risk; the probed path is open(generation=N))
    assert vol.changes(g2).count() > 0
    assert vol.changes(1, g2).count() > 0
    # the live head is untouched
    assert (vol.cutout(Bbox((0, 0, 0), (8, 8, 8))) == 5).all()


def test_feed_deep_gap_heals_on_next_commit(spark, tmp_path):
    """A feed gap BEHIND a present successor file (crash after a feed
    write but mid-repair) is still healed by the next commit — the gap
    gate compares the full retained set, not just the predecessor, so
    running streams eventually see the late file."""
    import os as _os

    _, vol = _mk_vol(spark, tmp_path, "feeddeep", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(8, 0, 0))
    gens = sorted(vol._manifest_generations())
    deep = gens[-3]  # two generations behind the head
    want = _feed_rows_on_disk(vol)[deep]
    _os.remove(_os.path.join(vol.chunks_path, "feed",
                             f"gen-{deep:012d}.json"))

    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(16, 0, 0))
    healed = _feed_rows_on_disk(vol)
    assert healed[deep] == want
    assert sorted(healed) == sorted(vol._manifest_generations())


def test_compact_crash_before_publish_leaves_table_intact(
        spark, tmp_path, monkeypatch):
    """A compaction that dies between staging and manifest publish must
    leave the table byte-identical (snapshot semantics: unpublished
    staging is invisible) and its orphan data dir reclaimable by
    vacuum."""
    import os as _os

    monkeypatch.setattr(Volume, "_commit_bucket", lambda self: 0)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        arr, vol = _mk_vol(spark, tmp_path, "cmpcrash", n=64, cs=16)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")
    man_before = vol._read_manifest()
    dirs_before = set(_os.listdir(_os.path.join(vol.chunks_path, "data")))

    boom = RuntimeError("injected crash before publish")

    def die(*a, **k):
        raise boom

    monkeypatch.setattr(vol, "_publish_manifest", die)
    with pytest.raises(RuntimeError, match="injected crash"):
        vol.compact()
    monkeypatch.undo()

    # table unchanged: same generation, same entries, same content
    man_after = vol._read_manifest()
    assert man_after["generation"] == man_before["generation"]
    assert man_after["entries"] == man_before["entries"]
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)
    # the staged-but-unpublished commit dir is an orphan vacuum reclaims
    orphans = set(_os.listdir(_os.path.join(vol.chunks_path, "data"))) \
        - dirs_before
    assert orphans
    vol.vacuum()
    left = set(_os.listdir(_os.path.join(vol.chunks_path, "data")))
    assert not (orphans & left)
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)


def test_restore_crash_or_conflict_changes_nothing(spark, tmp_path,
                                                   monkeypatch):
    """restore() is ONE manifest PUT — a publish failure leaves head,
    history, and feed exactly as they were."""
    arr, vol = _mk_vol(spark, tmp_path, "restcrash", n=32, cs=16)
    g1 = int(vol._read_manifest()["generation"])
    vol.upload(np.zeros((16, 16, 16, 1), np.uint32), offset=(0, 0, 0))
    feed_before = _feed_rows_on_disk(vol)
    man_before = vol._read_manifest()

    def die(*a, **k):
        raise RuntimeError("injected publish failure")

    monkeypatch.setattr(vol, "_publish_manifest", die)
    with pytest.raises(RuntimeError, match="injected publish"):
        vol.restore(g1)
    monkeypatch.undo()

    assert vol._read_manifest() == man_before
    assert _feed_rows_on_disk(vol) == feed_before


def test_fsck_reports_protocol_state(spark, tmp_path):
    """fsck(): clean table reports ok; injected faults (orphan dir,
    held lock, stale tmp, feed gap, torn husk, reclaimed dirs) each
    show up in the right bucket with ok reflecting only genuine
    damage."""
    import json as _json
    import os as _os

    _, vol = _mk_vol(spark, tmp_path, "fsck", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    r = vol.fsck()
    assert r["ok"] and not r["orphan_dirs"] and not r["missing_dirs"]
    assert not r["feed_gaps_healable"] and not r["feed_gaps_lost"]
    assert not r["lock_held"] and not r["stale_tmps"]
    assert r["generation"] == int(vol._read_manifest()["generation"])

    # normal-operation states: reported, but not failures
    _os.makedirs(_os.path.join(vol.chunks_path, "data", "commit-orphan"))
    assert vol._fs.create_exclusive(vol._commit_lock_path)
    with open(_os.path.join(vol.chunks_path, "feed",
                            ".gen-x.json.w1-aa"), "wb") as f:
        f.write(b"t")
    top = int(vol._read_manifest()["generation"])
    _os.remove(_os.path.join(vol.chunks_path, "feed",
                             f"gen-{top:012d}.json"))
    r = vol.fsck()
    assert r["ok"]
    assert r["orphan_dirs"] == ["commit-orphan"]
    assert r["lock_held"] and r["stale_tmps"] == [".gen-x.json.w1-aa"]
    assert r["feed_gaps_healable"] == [top] and not r["feed_gaps_lost"]
    vol._fs.remove(vol._commit_lock_path)

    # genuine damage: a torn husk and a generation with reclaimed dirs
    # (rewrite the SAME slab so the middle generation's patch commit is
    # unique to it, then reclaim that commit)
    vol.upload(np.full((8, 8, 8, 1), 3, np.uint32), offset=(0, 0, 0))
    top = int(vol._read_manifest()["generation"])
    vol._fs.write_bytes(vol._manifest_file(top + 1), b"{torn")
    man1 = vol._load_manifest_generation(top - 1)
    man2 = vol._load_manifest_generation(top)
    only_old = ({rel.split("/")[1] for rel in man1["entries"].values()}
                - {rel.split("/")[1] for rel in man2["entries"].values()})
    assert only_old
    import shutil as _shutil
    for c in only_old:
        _shutil.rmtree(_os.path.join(vol.chunks_path, "data", c))
    r = vol.fsck()
    assert not r["ok"]
    assert r["torn_husks"] == [top + 1]
    assert sorted(r["missing_dirs"]) == [top - 1]
    assert sorted(r["missing_dirs"][top - 1]) == sorted(only_old)


def test_as_of_before_stamped_history_raises(spark, tmp_path):
    """as_of earlier than EVERY stamped generation is out-of-range
    (Delta's TIMESTAMP AS OF behavior) — the unstamped-newest fallback
    applies only to pure pre-stamp tables, never when any stamped
    generation proves ts predates the known history."""
    import json as _json

    from cloud_volume_spark.volume import ManifestError

    _, vol = _mk_vol(spark, tmp_path, "asofpre")
    with pytest.raises(ManifestError, match="predates"):
        vol._generation_as_of(0.0)

    # mixed table: strip ONE generation's stamp (old-version writer) —
    # a pre-history ts must still raise, not serve the unstamped gen
    vol.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    top = vol._manifest_generations()[0]
    m = _json.loads(vol._fs.read_bytes(vol._manifest_file(top)))
    m.pop("committed_at", None)
    vol._fs.write_bytes(vol._manifest_file(top),
                        _json.dumps(m, sort_keys=True).encode())
    with pytest.raises(ManifestError, match="generation=N"):
        vol._generation_as_of(0.0)
    with pytest.raises(ManifestError):
        Volume.open(spark, str(tmp_path / "asofpre"), as_of=0.0)


def test_open_generation_zero_is_empty_snapshot(spark, tmp_path):
    """open(generation=0) pins the empty table before the first
    publish — the same definition changes(0) and restore(0) use — and
    behaves like any other pinned snapshot (read-only, fill-missing
    reads), instead of raising a misleading 'vacuumed' ManifestError."""
    arr, vol = _mk_vol(spark, tmp_path, "genzero")
    v0 = Volume.open(spark, str(tmp_path / "genzero"), generation=0)
    assert v0._read_manifest() == {"generation": 0, "entries": {}}
    out = v0.cutout(Bbox((0, 0, 0), (32, 32, 32)), fill_missing=True)
    assert (out == 0).all()
    with pytest.raises(Exception, match="generation 0|time-travel"):
        v0.upload(np.zeros((32, 32, 32, 1), np.uint32), offset=(0, 0, 0))
    # the live head is untouched
    assert np.array_equal(
        vol.cutout(Bbox((0, 0, 0), (64, 64, 64))), arr)


def test_fsck_probe_error_is_not_vacuum_damage(spark, tmp_path):
    """A dir-existence probe that ERRORS after retries (throttle) is
    UNKNOWN, not absent: fsck lists it under probe_errors and neither
    counts it as missing_dirs nor flips ok — a throttled store must
    not read as vacuum damage."""
    import os

    _, vol = _mk_vol(spark, tmp_path, "fsckpe", n=64, cs=8)
    man = vol._read_manifest()
    victim = sorted(
        rel.split("/")[1] for rel in man["entries"].values()
        if rel.startswith("data/"))[0]

    real_exists = vol._fs.exists

    def flaky_exists(path):
        if path.endswith(f"/data/{victim}"):
            raise RuntimeError("503 Slow Down")
        return real_exists(path)

    vol._fs.exists = flaky_exists
    try:
        r = vol.fsck()
    finally:
        vol._fs.exists = real_exists
    assert r["probe_errors"] == [victim]
    assert not r["missing_dirs"]
    assert r["ok"]

    # a CONFIRMED-absent dir still reports as damage
    import shutil as _shutil
    _shutil.rmtree(os.path.join(vol.chunks_path, "data", victim))
    r = vol.fsck()
    assert not r["ok"]
    assert not r["probe_errors"]
    assert victim in r["missing_dirs"][int(man["generation"])]


def test_stream_ingest_interleaves_with_live_compact(
        spark, tmp_path, monkeypatch):
    """A compact() landing BETWEEN two micro-batches of a checkpointed
    stream serializes cleanly: the next batch merges onto the
    compacted manifest. A commit attempted WHILE the other writer
    holds the commit lock fails LOUDLY (CommitConflictError — surfaced
    as a StreamingQueryException on the ingest side), and the
    checkpointed batch replays to a clean commit once the lock clears:
    a mid-stream compaction can delay a batch, never lose one."""
    import os as _os

    from cloud_volume_spark.volume import CommitConflictError

    # fragment the initial commit (many files per slab) so the
    # mid-stream compact() has real work to publish; slab_shift=2
    # (4 chunks/slab, 16 slabs) so the first micro-batch's merge
    # rewrite of ONE slab leaves the other 15 fragmented
    from cloud_volume_spark.catalog import VolumeInfo

    info = VolumeInfo.create(
        layer_type="segmentation", data_type="uint32", num_channels=1,
        resolution=(1, 1, 1), voxel_offset=(0, 0, 0),
        volume_size=(64, 64, 64), chunk_size=(16, 16, 16),
        encoding="raw")
    vol = Volume.create(spark, str(tmp_path / "singc"), info,
                        slab_shift=2)
    arr = np.arange(64 ** 3, dtype=np.uint32).reshape(64, 64, 64, 1)
    monkeypatch.setattr(Volume, "_commit_bucket", lambda self: 0)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        vol.upload(arr, offset=(0, 0, 0))
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")
        monkeypatch.undo()
    src = str(tmp_path / "singc_src")
    _os.makedirs(src)
    schema = ("x0 int, x1 int, y0 int, y1 int, z0 int, z1 int, "
              "blob binary")

    def block_rows(off, val):
        a = np.full((16, 16, 16, 1), val, np.uint32)
        return [(off[0], off[0] + 16, off[1], off[1] + 16,
                 off[2], off[2] + 16, bytearray(a.tobytes(order="F")))]

    def drain(expect_error=None):
        stream = spark.readStream.schema(schema).parquet(src)
        q = (vol.stream_ingest(stream,
                               checkpoint=str(tmp_path / "singc_ck"))
             .trigger(availableNow=True).start())
        if expect_error is None:
            q.awaitTermination(120)
            return sum(int(p["numInputRows"]) for p in q.recentProgress)
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException)
        with pytest.raises(StreamingQueryException, match=expect_error):
            q.awaitTermination(120)
        return None

    # batch 1 → compact → batch 2: clean serialization
    spark.createDataFrame(block_rows((0, 0, 0), 111), schema=schema) \
        .write.mode("append").parquet(src)
    assert drain() == 1
    g1 = int(vol._read_manifest()["generation"])
    assert vol.compact() >= 1  # fragmented initial commit: real work
    g2 = int(vol._read_manifest()["generation"])
    assert g2 == g1 + 1

    spark.createDataFrame(block_rows((16, 0, 0), 222), schema=schema) \
        .write.mode("append").parquet(src)
    assert drain() == 1  # incremental: only the new file
    assert int(vol._read_manifest()["generation"]) == g2 + 1
    want = arr.copy()
    want[0:16, 0:16, 0:16] = 111
    want[16:32, 0:16, 0:16] = 222
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))),
                          want)
    hist = {h["generation"]: h for h in vol.history()}
    assert hist[g2]["data_change"] is False  # the compact
    assert hist[g2 + 1]["data_change"] is True  # the merge batch

    # a writer holding the commit lock (compact mid-commit): both the
    # ingest batch and a competing compact fail loudly...
    assert vol._fs.create_exclusive(vol._commit_lock_path)
    try:
        with pytest.raises(CommitConflictError, match="commit lock"):
            vol.compact()
        spark.createDataFrame(block_rows((32, 0, 0), 77), schema=schema) \
            .write.mode("append").parquet(src)
        drain(expect_error="commit lock")
        g_locked = int(vol._read_manifest()["generation"])
        assert g_locked == g2 + 1  # nothing published under the lock
    finally:
        vol._fs.remove(vol._commit_lock_path)

    # ...and the checkpointed batch replays to a clean commit after
    # the lock clears — the failed batch is delayed, not lost
    assert drain() == 1
    want[32:48, 0:16, 0:16] = 77
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 64))),
                          want)
    assert int(vol._read_manifest()["generation"]) == g2 + 2
    # the feed stayed gap-free through fail + replay
    assert vol.fsck()["ok"]


def test_fsck_repair_routes_findings(spark, tmp_path):
    """fsck(repair=True): orphan dirs, stale tmps, torn husks and
    healable feed gaps are each routed to their remedy under the
    commit lock; a fresh lock is NOT broken below the age threshold
    (CommitConflictError), a stale one is; missing_dirs stay findings
    (no remedy). The returned report is the post-repair state."""
    import os as _os
    import time as _time

    from cloud_volume_spark.volume import CommitConflictError

    _, vol = _mk_vol(spark, tmp_path, "fsckr", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    top = int(vol._read_manifest()["generation"])

    # inject: orphan dir, publish tmps in both roots, torn husk,
    # feed gap, and a held (stale) lock
    _os.makedirs(_os.path.join(vol.chunks_path, "data", "commit-orphan"))
    with open(_os.path.join(vol.chunks_path, ".m.json.w9-ab"), "wb") as f:
        f.write(b"t")
    with open(_os.path.join(vol.chunks_path, "feed",
                            ".gen-x.json.w1-aa"), "wb") as f:
        f.write(b"t")
    vol._fs.write_bytes(vol._manifest_file(top + 1), b"{torn")
    _os.remove(_os.path.join(vol.chunks_path, "feed",
                             f"gen-{top:012d}.json"))
    assert vol._fs.create_exclusive(vol._commit_lock_path)

    # repair with no break directive → loud conflict on the held lock
    with pytest.raises(CommitConflictError, match="commit lock"):
        vol.fsck(repair=True)
    # a young lock is protected by the age threshold
    with pytest.raises(CommitConflictError, match="not breaking"):
        vol.fsck(repair=True, break_lock_older_than=3600)

    _time.sleep(0.05)
    r = vol.fsck(repair=True, break_lock_older_than=0.01)
    assert r["repaired"]["lock_broken"]
    assert r["repaired"]["orphan_dirs"] == ["commit-orphan"]
    assert set(r["repaired"]["stale_tmps"]) == {
        ".m.json.w9-ab", ".gen-x.json.w1-aa"}
    assert r["repaired"]["torn_husks"] == [top + 1]
    assert r["repaired"]["feed_gaps_healed"] >= 1
    # post-repair state is clean
    assert r["ok"]
    assert not r["orphan_dirs"] and not r["stale_tmps"]
    assert not r["torn_husks"] and not r["feed_gaps_healable"]
    assert not r["lock_held"]
    # the healed feed entry is real (batch diff recomputable)
    assert _os.path.exists(_os.path.join(
        vol.chunks_path, "feed", f"gen-{top:012d}.json"))
    # and the table still serves
    assert (vol.cutout(Bbox((0, 0, 0), (8, 8, 8))) == 0).all()

    # an unrepairable finding (vacuum damage) survives repair as a
    # finding: reclaim a dir only an old generation references
    vol.upload(np.full((8, 8, 8, 1), 3, np.uint32), offset=(0, 0, 0))
    top2 = int(vol._read_manifest()["generation"])
    man1 = vol._load_manifest_generation(top2 - 1)
    man2 = vol._load_manifest_generation(top2)
    only_old = ({rel.split("/")[1] for rel in man1["entries"].values()}
                - {rel.split("/")[1] for rel in man2["entries"].values()})
    assert only_old
    import shutil as _shutil
    for c in only_old:
        _shutil.rmtree(_os.path.join(vol.chunks_path, "data", c))
    r = vol.fsck(repair=True)
    assert not r["ok"]
    assert sorted(r["missing_dirs"]) == [top2 - 1]


def test_fsck_repair_transient_manifest_read_is_not_destructive(
        spark, tmp_path):
    """A manifest whose READ errs after retries is UNKNOWN, not a torn
    husk: fsck buckets it under manifest_read_errors, and repair SKIPS
    the destructive remedies (its absence from the referenced set
    would otherwise misclassify that generation's dirs as orphans and
    rmtree live data — the review-caught data-loss path)."""
    _, vol = _mk_vol(spark, tmp_path, "fsckt", n=64, cs=8)
    vol.upload(np.zeros((8, 8, 8, 1), np.uint32), offset=(0, 0, 0))
    top = int(vol._read_manifest()["generation"])
    victim_path = vol._manifest_file(top)

    real_read = vol._fs.read_bytes

    def flaky_read(path):
        if path == victim_path:
            raise RuntimeError("503 Slow Down")
        return real_read(path)

    import os as _os

    _os.remove(_os.path.join(vol.chunks_path, "feed",
                             f"gen-{top:012d}.json"))
    vol._fs.read_bytes = flaky_read
    try:
        r = vol._fsck_scan()
        assert r["manifest_read_errors"] == [top]
        assert top not in r["torn_husks"]
        # the head resolves through _read_manifest's own fallback, so
        # generation g-1 serves — but NOTHING is classified orphan
        assert not r["orphan_dirs"]
        # and its missing feed file is neither healable nor LOST —
        # healability needs the unreadable manifest, and a throttle
        # must not tell consumers to batch-restart
        assert top not in r["feed_gaps_lost"]
        assert top not in r["feed_gaps_healable"]

        rep = vol.fsck(repair=True)
        assert "skipped_destructive" in rep["repaired"]
        assert rep["repaired"]["orphan_dirs"] == []
        assert rep["repaired"]["torn_husks"] == []
    finally:
        vol._fs.read_bytes = real_read
    # nothing was deleted: the manifest file and every dir survive
    assert vol._fs.exists(victim_path)
    r = vol.fsck()
    assert r["ok"] and not r["manifest_read_errors"]
    assert (vol.cutout(Bbox((0, 0, 0), (8, 8, 8))) == 0).all()


def test_vacuum_dry_run_plans_without_deleting(spark, tmp_path):
    """vacuum(dry_run=True) (Delta's VACUUM DRY RUN): returns exactly
    what a real run with the same retention would reclaim — and
    deletes nothing; the subsequent real run reclaims exactly the
    planned set."""
    import os as _os

    _, vol = _mk_vol(spark, tmp_path, "vdry", n=64, cs=8)
    for v in (1, 2, 3):
        vol.upload(np.full((8, 8, 8, 1), v, np.uint32), offset=(0, 0, 0))
    with open(_os.path.join(vol.chunks_path, ".m.json.w3-0f"), "wb") as f:
        f.write(b"t")
    gens = vol._manifest_generations()
    assert len(gens) >= 4

    plan = vol.vacuum(keep_manifests=2, dry_run=True)
    assert set(plan["manifests"]) == set(gens) - set(gens[:2])
    assert plan["tmps"] == [".m.json.w3-0f"]
    assert plan["data_dirs"]  # the rewritten slab's old commits
    # nothing was deleted
    for g in gens:
        assert vol._fs.exists(vol._manifest_file(g))
    for d in plan["data_dirs"]:
        assert vol._fs.exists(f"{vol.chunks_path}/data/{d}")

    n = vol.vacuum(keep_manifests=2)
    assert n == len(plan["data_dirs"])
    for g in plan["manifests"]:
        assert not vol._fs.exists(vol._manifest_file(g))
    for d in plan["data_dirs"]:
        assert not vol._fs.exists(f"{vol.chunks_path}/data/{d}")
    for fn in plan["feed_files"]:
        assert not vol._fs.exists(f"{vol.chunks_path}/feed/{fn}")
    # the table still serves at the retained head
    assert (vol.cutout(Bbox((0, 0, 0), (8, 8, 8))) == 3).all()


# ---- round-10 read-path review regressions ---------------------------------

def test_label_mask_background_query_over_stats_chunks(spark, tmp_path):
    """cutout(label=bg): chunks whose stats prove bg absent must decode
    (not stats-prune) — a pruned region stays background-filled and the
    mask would read wrongly True there."""
    arr = np.full((64, 32, 32, 1), 7, dtype=np.uint32)
    arr[32:, :, :, :] = 0  # second chunk genuinely all background
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "lbg"),
                            chunk_size=(32, 32, 32))
    mask = vol.cutout(Bbox((0, 0, 0), (64, 32, 32)), label=0)
    assert not mask[:32].any()
    assert mask[32:].all()
    # the non-bg label path still stats-prunes and answers exactly
    mask7 = vol.cutout(Bbox((0, 0, 0), (64, 32, 32)), label=7)
    assert mask7[:32].all() and not mask7[32:].any()


def test_label_mask_fill_missing_false_still_loud(spark, tmp_path):
    """label= reads must not bypass the missing-chunk check: a chunk
    that is ABSENT (deleted) is data loss, distinct from
    stats-skipped."""
    from cloud_volume_spark.volume import EmptyVolumeException

    arr = np.full((64, 32, 32, 1), 9, dtype=np.uint32)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "lfm"),
                            chunk_size=(32, 32, 32))
    vol.delete(Bbox((32, 0, 0), (64, 32, 32)))
    with pytest.raises(EmptyVolumeException):
        vol.cutout(Bbox((0, 0, 0), (64, 32, 32)), label=9,
                   fill_missing=False)
    mask = vol.cutout(Bbox((0, 0, 0), (64, 32, 32)), label=9,
                      fill_missing=True)
    assert mask[:32].all() and not mask[32:].any()


def test_download_points_float_dtype_and_channel(spark, rng, tmp_path):
    """Float volumes return DOUBLE values (no int64 truncation) and the
    channel parameter selects the channel; out-of-range channel and
    out-of-bounds points are refused up front."""
    arr = rng.random((32, 32, 16, 2)).astype(np.float32)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "fpt"),
                            chunk_size=(16, 16, 16))
    pts = [(3, 4, 5), (31, 0, 15), (16, 16, 8)]
    for ch in (0, 1):
        got = {(r.x, r.y, r.z): r.value
               for r in vol.download_points(pts, channel=ch).collect()}
        for p in pts:
            assert got[p] == pytest.approx(
                float(arr[p[0], p[1], p[2], ch]), abs=0)
    with pytest.raises(ValueError, match="channel"):
        vol.download_points(pts, channel=2)
    with pytest.raises(ValueError, match="bounds"):
        vol.download_points([(32, 0, 0)])


def test_download_points_uint64_boundary(spark, tmp_path):
    """uint64 ids >= 2^63 come back as true-unsigned values (the
    unique()/voxels_df convention), not negative wraps."""
    arr = np.ones((16, 16, 16, 1), dtype=np.uint64)
    big = (1 << 63) + 5
    arr[3, 4, 5, 0] = big
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "upt"),
                            chunk_size=(16, 16, 16))
    got = {(r.x, r.y, r.z): int(r.value)
           for r in vol.download_points([(3, 4, 5), (0, 0, 0)]).collect()}
    assert got[(3, 4, 5)] == big
    assert got[(0, 0, 0)] == 1


def test_download_points_missing_chunk(spark, tmp_path):
    """Points in unwritten chunks follow fill_missing instead of
    silently vanishing from the result."""
    from cloud_volume_spark.volume import EmptyVolumeException

    arr = np.full((64, 32, 32, 1), 4, dtype=np.uint32)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "mpt"),
                            chunk_size=(32, 32, 32))
    vol.delete(Bbox((32, 0, 0), (64, 32, 32)))
    pts = [(1, 1, 1), (40, 2, 3)]
    with pytest.raises(EmptyVolumeException):
        vol.download_points(pts, fill_missing=False).collect()
    got = {(r.x, r.y, r.z): r.value
           for r in vol.download_points(pts, fill_missing=True).collect()}
    assert got[(1, 1, 1)] == 4
    assert got[(40, 2, 3)] == 0  # background


def test_save_images_default_bbox(spark, rng, tmp_path):
    """save_images() with no bbox exports the WHOLE volume (the
    advertised default) instead of crashing in reify_slices."""
    arr = rng.integers(0, 255, (16, 16, 4, 1)).astype(np.uint8)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "simg"),
                            chunk_size=(16, 16, 4))
    out = vol.save_images(directory=str(tmp_path / "imgout"))
    import os as _os
    assert len([f for f in _os.listdir(out) if f.endswith(".png")]) == 4


def test_corrupt_fragment_raises_not_background(spark, tmp_path):
    """A truncated parquet fragment must surface as an IO error, never
    silently read as an empty region (background fill)."""
    import glob as _glob

    arr = np.full((16, 16, 16, 1), 3, dtype=np.uint32)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "cor"),
                            chunk_size=(16, 16, 16))
    frags = _glob.glob(f"{vol.chunks_path}/data/**/*.parquet",
                       recursive=True)
    assert frags
    with open(frags[0], "wb") as f:
        f.write(b"not parquet at all")
    with pytest.raises(IOError):
        vol.cutout(Bbox((0, 0, 0), (16, 16, 16)))

def test_download_points_empty_list(spark, rng, tmp_path):
    """An empty point list returns an empty (x,y,z,value) frame, not a
    min()-over-nothing ValueError."""
    arr = rng.integers(0, 9, (16, 16, 16, 1)).astype(np.uint32)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "ept"),
                            chunk_size=(16, 16, 16))
    out = vol.download_points([])
    assert out.columns == ["x", "y", "z", "value"]
    assert out.count() == 0


def test_download_points_diagonal_exact_pruning(spark, rng, tmp_path):
    """Points along the grid diagonal: the per-axis IN-list pruning
    admits the CROSS PRODUCT of the cell coordinates, so correctness
    (and the no-driver-collect plan) must come from the exact cell-set
    join. Many points in ONE chunk also exercises the one-blob-per-
    chunk grouping."""
    arr = rng.integers(0, 1 << 30, (64, 64, 64, 1)).astype(np.uint32)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "dpt"),
                            chunk_size=(16, 16, 16))
    diag = [(i, i, i) for i in range(0, 64, 7)]          # spans 4^3 cells
    dense = [(1, 2, z) for z in range(16)]               # one chunk, 16 pts
    pts = diag + dense
    got = {(r.x, r.y, r.z): int(r.value)
           for r in vol.download_points(pts).collect()}
    assert len(got) == len(set(pts))
    for p in pts:
        assert got[p] == int(arr[p[0], p[1], p[2], 0]), p


def test_mip_coordinate_conveniences(spark, rng, tmp_path):
    """Reference-API parity helpers: available_mips lists the defined
    scales, mip_bounds returns the mip's Bbox, and the global-coords
    slice converters round-trip through bbox_to_mip exactly as the
    reference's frontends do (precomputed.py:470-484)."""
    import numpy as np

    from cloud_volume_spark.geometry import Bbox
    from cloud_volume_spark.volume import Volume

    arr = rng.integers(0, 99, size=(64, 64, 32, 1)).astype(np.uint8)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "mips"),
                            chunk_size=(32, 32, 32))
    vol.downsample(from_mip=0, factor=(2, 2, 1))
    assert vol.available_mips == [0, 1]
    b0 = vol.mip_bounds(0)
    b1 = vol.mip_bounds(1)
    assert tuple(b0.maxpt) == (64, 64, 32)
    assert tuple(b1.maxpt) == (32, 32, 32)

    sl0 = (slice(8, 40), slice(16, 64), slice(0, 32))
    sl1 = vol.slices_from_global_coords(sl0, mip=1)
    assert sl1 == Bbox((4, 8, 0), (20, 32, 32)).to_slices()
    # and back: to_global re-expands (integer-exact for this factor)
    back = vol.slices_to_global_coords(sl1, mip=1)
    assert back == sl0
    # Bbox in → Bbox out
    bb = vol.slices_from_global_coords(Bbox((8, 16, 0), (40, 64, 32)),
                                       mip=1)
    assert isinstance(bb, Bbox)
    assert tuple(bb.minpt) == (4, 8, 0) and tuple(bb.maxpt) == (20, 32, 32)
    # int axes / open-ended / negative slices normalize through
    # reify_slices exactly as on __getitem__ (review finding)
    got = vol.slices_from_global_coords((slice(8, None), slice(0, 64), 2),
                                        mip=1)
    assert got == Bbox((4, 0, 2), (32, 32, 3)).to_slices()  # z factor 1
    got = vol.slices_to_global_coords((slice(-4, None), slice(None), 0),
                                      mip=1)
    assert got == Bbox((56, 0, 0), (64, 64, 1)).to_slices()


def test_reference_metadata_property_parity(spark, rng, tmp_path):
    """The everyday reference-frontend metadata surface on Volume:
    bare properties are the mip-0 values (this class is mip-stateless)
    and the mip_* family mirrors the reference's methods 1:1."""
    import numpy as np

    from cloud_volume_spark.volume import Volume

    arr = rng.integers(0, 9, size=(64, 64, 32, 2)).astype(np.uint16)
    vol = Volume.from_numpy(spark, arr, str(tmp_path / "meta"),
                            chunk_size=(32, 32, 32))
    vol.downsample(from_mip=0, factor=(2, 2, 1))
    assert vol.layer_type in ("image", "segmentation")
    assert vol.data_type == "uint16" and vol.dtype == np.uint16
    assert vol.num_channels == 2
    assert vol.shape == (64, 64, 32, 2)
    assert vol.mip_shape(1) == (32, 32, 32, 2)
    assert tuple(vol.bounds.maxpt) == (64, 64, 32)
    assert vol.chunk_size == (32, 32, 32)
    assert vol.volume_size == (64, 64, 32)
    assert vol.mip_volume_size(1) == (32, 32, 32)
    assert vol.voxel_offset == (0, 0, 0)
    assert vol.encoding == vol.mip_encoding(0)
    assert vol.mip_resolution(1)[0] == 2 * vol.resolution[0]
    assert vol.available_resolutions == [
        vol.mip_resolution(0), vol.mip_resolution(1)]
