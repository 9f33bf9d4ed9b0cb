"""The driver read path: spatial-index and annotation lookups, point
reads and cutouts read parquet on the driver through
``fs.read_parquet`` — no Spark job, every ``PathOps`` scheme, and
exactly the files and columns Spark's own reader sees."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame, functions as F

from cloud_volume_spark.annotation_io import (
    PrecomputedAnnotationReader, export_precomputed,
)
from cloud_volume_spark.annotations import AnnotationLayer
from cloud_volume_spark.geometry import Bbox
from cloud_volume_spark.spatial_index import SpatialIndex
from cloud_volume_spark.volume import Volume

BOX = Bbox((10, 20, 5), (90, 70, 40))
LABEL = 7


def _half_open(df: DataFrame, box: Bbox) -> DataFrame:
    for i, a in enumerate("xyz"):
        df = df.where((F.col(a) >= float(box.minpt[i]))
                      & (F.col(a) < float(box.maxpt[i])))
    return df


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """One volume, spatial index and annotation layer per scheme: a
    plain path, and ``file://``, which takes PathOps' Hadoop branch (a
    SpatialIndex resolves a ``file://`` cloudpath to the plain path on
    open, so its two copies share the plain branch)."""
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 50, (96, 64, 48, 1)).astype(np.uint32)
    n = 3000
    pts = pd.DataFrame({"label": rng.integers(1, 40, n),
                        "x": rng.uniform(0, 128, n),
                        "y": rng.uniform(0, 128, n),
                        "z": rng.uniform(0, 64, n)})
    ann = pd.DataFrame({
        "id": np.arange(600, dtype=np.int64),
        "x": rng.uniform(0, 128, 600), "y": rng.uniform(0, 128, 600),
        "z": rng.uniform(0, 64, 600),
        "score": rng.integers(0, 9, 600).astype(np.int16),
        "rel_seg": [[int(v) for v in rng.integers(0, 30, 2)]
                    for _ in range(600)],
    })
    out = {}
    for scheme in ("", "file://"):
        root = f"{scheme}{tmp_path_factory.mktemp('drv')}"
        vol = Volume.from_numpy(spark, arr, f"{root}/vol",
                                chunk_size=(32, 32, 16))
        idx = SpatialIndex(spark, f"{root}/idx", cell_size=(32, 32, 32))
        idx.build_from_points(spark.createDataFrame(pts))
        layer = AnnotationLayer(spark, f"{root}/ann", grid_cell=(32, 32, 32),
                                properties={"score": "int16"},
                                relationships=["seg"])
        layer.write(spark.createDataFrame(ann).repartition(3))
        out[scheme] = (vol, idx, layer)
    return arr, out


# (op, call on (vol, idx, layer)); a DataFrame result must also be
# materialized by exactly one Spark job
OPS = [
    ("get_bbox", lambda vol, idx, layer: idx.get_bbox(LABEL)),
    ("query", lambda vol, idx, layer: idx.query(BOX)),
    ("get_by_bbox", lambda vol, idx, layer: layer.get_by_bbox(BOX)),
    ("read_voxel", lambda vol, idx, layer: vol.read_voxel((70, 33, 17))),
    ("cutout", lambda vol, idx, layer: vol.cutout(Bbox((3, 7, 2),
                                                       (91, 50, 47)))),
]


@pytest.mark.parametrize("op,call", OPS, ids=[o[0] for o in OPS])
def test_driver_reads_job_budget_and_scheme_parity(spark, stores, op, call):
    arr, by_scheme = stores
    sc = spark.sparkContext
    got = {}
    for scheme, objs in by_scheme.items():
        group = f"driver-read-{op}-{scheme or 'plain'}"
        sc.setJobGroup(group, op)
        try:
            res = call(*objs)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
            if isinstance(res, DataFrame):
                schema = res.schema
                res = res.toPandas()
                assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        finally:
            sc._jsc.clearJobGroup()
        got[scheme] = res

    vol, idx, layer = by_scheme[""]
    if op == "get_bbox":
        assert got[""] == got["file://"]
        env = idx.df().where(F.col("label") == LABEL).toPandas()
        assert tuple(got[""].minpt) == tuple(env[["x0", "y0", "z0"]].min())
        assert tuple(got[""].maxpt) == tuple(env[["x1", "y1", "z1"]].max())
    elif op == "query":
        # a per-cell bbox meeting the box implies its cell meets it
        want = idx.df()
        for i, a in enumerate("xyz"):
            want = want.where((F.col(f"{a}0") < float(BOX.maxpt[i]))
                              & (F.col(f"{a}1") >= float(BOX.minpt[i])))
        want = {r.label for r in want.select("label").distinct().collect()}
        assert want
        for res in got.values():
            assert sorted(res["label"]) == sorted(want)
        assert schema == idx.df().select("label").schema
    elif op == "get_by_bbox":
        want = _half_open(layer.df(), BOX)
        assert schema == want.schema
        want = want.toPandas().sort_values("id").reset_index(drop=True)
        assert len(want)
        for res in got.values():
            res = res.sort_values("id").reset_index(drop=True)
            pd.testing.assert_frame_equal(res.drop(columns="rel_seg"),
                                          want.drop(columns="rel_seg"))
            assert [list(v) for v in res["rel_seg"]] == \
                [list(v) for v in want["rel_seg"]]
    elif op == "read_voxel":
        for res in got.values():
            assert np.array_equal(res, arr[70, 33, 17])
    else:
        for res in got.values():
            assert np.array_equal(res, arr[3:91, 7:50, 2:47])


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_vanished_snapshot_file_rereads_the_manifest(spark, tmp_path,
                                                     monkeypatch, scheme):
    """A reader that resolved a manifest whose files a compact + vacuum
    then removed re-resolves once and serves the current data, never
    background; a file that stays missing raises."""
    # one file per chunk, so compact has multi-file slabs to re-pack
    monkeypatch.setattr(Volume, "_commit_bucket", lambda self: 0)
    rng = np.random.default_rng(3)
    arr = rng.integers(1, 50, (64, 64, 32, 1)).astype(np.uint32)
    vol = Volume.from_numpy(spark, arr, f"{scheme}{tmp_path}/vac",
                            chunk_size=(32, 32, 32))
    patch = np.full((32, 32, 32, 1), 77, np.uint32)
    vol.upload(patch, offset=(32, 0, 0))
    arr[32:64, 0:32] = patch
    stale = vol._read_manifest()
    assert vol.compact()
    vol.vacuum(keep_manifests=1)
    gone = [rel for rel in stale["entries"].values()
            if not vol._fs.exists(f"{vol.chunks_path}/{rel}")]
    assert gone

    real = vol._read_manifest
    calls = []

    def stale_once():
        calls.append(1)
        return stale if len(calls) == 1 else real()

    monkeypatch.setattr(vol, "_read_manifest", stale_once)
    assert np.array_equal(vol.read_voxel((40, 3, 5)), arr[40, 3, 5])
    assert len(calls) == 2
    calls.clear()
    assert np.array_equal(vol.cutout(Bbox((0, 0, 0), (64, 64, 32))), arr)
    assert len(calls) == 2

    monkeypatch.setattr(vol, "_read_manifest", lambda: stale)
    with pytest.raises(FileNotFoundError):
        vol.read_voxel((40, 3, 5))
    with pytest.raises(FileNotFoundError):
        vol.cutout(Bbox((0, 0, 0), (64, 64, 32)))


def test_bbox_max_face_is_half_open_in_both_annotation_readers(spark,
                                                               tmp_path):
    """A point on ``maxpt`` is outside the box and a point on ``minpt``
    inside it, for the layer and for the precomputed export's reader."""
    pdf = pd.DataFrame({
        "id": np.arange(1, 7, dtype=np.int64),
        "x": [64.0, 100.0, 80.0, 80.0, 10.0, 80.0],
        "y": [64.0, 80.0, 100.0, 80.0, 10.0, 80.0],
        "z": [64.0, 80.0, 80.0, 100.0, 10.0, 80.0],
    })
    layer = AnnotationLayer(spark, str(tmp_path / "face"),
                            grid_cell=(64, 64, 64))
    layer.write(spark.createDataFrame(pdf))
    out = str(tmp_path / "face_pre")
    export_precomputed(layer, out)
    rdr = PrecomputedAnnotationReader(spark, out)
    # maxpt inside a grid cell: only the exact filter decides the face
    box = Bbox((64, 64, 64), (100, 100, 100))
    assert {r.id for r in layer.get_by_bbox(box).collect()} == {1, 6}
    assert {r.id for r in rdr.get_by_bbox(box, mip=0).collect()} == {1, 6}


def test_streamed_layer_lookup_reads_only_committed_files(spark, tmp_path):
    """A layer written by the streaming ingest is defined by its sink
    log: a parquet file the log never committed is invisible to df()
    and must be invisible to get_by_bbox too."""
    from cloud_volume_spark.streaming import ingest_annotations_stream

    layer = AnnotationLayer(spark, str(tmp_path / "ann"),
                            grid_cell=(64, 64, 64))
    src = tmp_path / "incoming"
    src.mkdir()
    for i, part in enumerate((
            {"id": [1, 2], "x": [10.0, 200.0], "y": [10.0, 20.0],
             "z": [5.0, 70.0]},
            {"id": [3], "x": [30.0], "y": [40.0], "z": [50.0]})):
        spark.createDataFrame(pd.DataFrame(part)).coalesce(1) \
            .write.parquet(str(src / f"b{i}"))
    ingest_annotations_stream(
        layer, str(src) + "/*", str(tmp_path / "ckpt")).awaitTermination(120)
    orphan = pa.table({
        "id": pa.array([99], pa.int64()), "x": [1.0], "y": [1.0],
        "z": [1.0], "gx": pa.array([0], pa.int32()),
        "gy": pa.array([0], pa.int32()), "gz": pa.array([0], pa.int32())})
    pq.write_table(orphan, f"{layer.data_path}/part-99999-orphan.parquet")

    box = Bbox((0, 0, 0), (64, 64, 64))
    want = sorted(r.id for r in _half_open(layer.df(), box).collect())
    assert want == [1, 3]
    assert sorted(r.id for r in layer.get_by_bbox(box).collect()) == want


@pytest.mark.parametrize("wider_first", [False, True])
def test_appended_schemas_read_like_spark(spark, tmp_path, wider_first):
    """Files whose schemas differ (an append that added a column) give
    the rows and columns Spark's reader gives: the first file by path
    fixes the schema, so the added column is either null-filled or
    dropped depending on which write sorts first."""
    layer = AnnotationLayer(spark, str(tmp_path / "app"),
                            grid_cell=(64, 64, 64))
    base = pd.DataFrame({"id": [1, 2], "x": [5.0, 70.0], "y": [5.0, 6.0],
                         "z": [5.0, 7.0]})
    wider = pd.DataFrame({"id": [3, 4], "x": [9.0, 20.0], "y": [9.0, 30.0],
                          "z": [9.0, 40.0], "score": [0.5, 0.25]})

    def write(pdf, mode, prefix):
        layer.write(spark.createDataFrame(pdf).coalesce(1), mode=mode)
        for n in os.listdir(layer.data_path):
            if n.startswith("part-"):
                os.rename(f"{layer.data_path}/{n}",
                          f"{layer.data_path}/{prefix}{n}")

    write(base, "overwrite", "b-" if wider_first else "a-")
    write(wider, "append", "a-" if wider_first else "b-")

    box = Bbox((0, 0, 0), (64, 64, 64))
    want_df = _half_open(layer.df(), box)
    got_df = layer.get_by_bbox(box)
    assert ("score" in want_df.columns) == wider_first
    assert got_df.schema == want_df.schema
    assert sorted(map(tuple, got_df.collect())) == \
        sorted(map(tuple, want_df.collect()))


def test_read_parquet_filters_match_pyarrow_dataset(tmp_path):
    """The reader's row-group pruning and row filters give the rows
    ``pyarrow.dataset`` gives for the same conjunction, across files of
    several row groups."""
    import random

    import pyarrow.dataset as pads

    from cloud_volume_spark.fs import PathOps, read_parquet

    rng = np.random.default_rng(5)
    t = pa.table({
        "cx": pa.array(rng.integers(0, 10, 1000).astype(np.int32)),
        "x": rng.uniform(0, 100, 1000),
        "slab": pa.array(np.arange(1000, dtype=np.int32) // 100)})
    files = [str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")]
    pq.write_table(t.slice(0, 500), files[0], row_group_size=100)
    pq.write_table(t.slice(500), files[1], row_group_size=100)
    ops = PathOps(str(tmp_path))
    pick = random.Random(5)
    for _ in range(200):
        filters = []
        for _ in range(pick.randint(0, 3)):
            c = pick.choice(["cx", "x", "slab"])
            op = pick.choice(["==", "<", "<=", ">", ">=", "in", "not in"])
            if op in ("in", "not in"):
                v = [pick.randint(0, 12) for _ in range(pick.randint(1, 4))]
            else:
                v = pick.uniform(-1, 101) if c == "x" else pick.randint(-1, 12)
            filters.append((c, op, v))
        want = pads.dataset(files).to_table(
            filter=pq.filters_to_expression(filters) if filters else None)
        assert read_parquet(ops, files, filters=filters).to_pylist() == \
            want.to_pylist(), filters
