"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, oracle, serving, stats
from perfbench.harness import Recorder, check_equal
from perfbench.trace import Tracer, self_time, union_length


# -- seeded generators are deterministic -------------------------------------

@pytest.mark.parametrize("make", [
    lambda s: gen.image_volume(gen.rng_for(s, "image"), (64, 48, 20)),
    lambda s: gen.seg_volume(gen.rng_for(s, "seg"), (64, 48, 20)),
    lambda s: np.column_stack(gen.labeled_points(
        gen.rng_for(s, "points"), 500, (64, 48, 20), 30)),
    lambda s: np.column_stack(list(gen.point_annotations(
        gen.rng_for(s, "ann"), 300, (64, 48, 20)).values())),
])
def test_array_generators_are_seeded(make):
    a, b, c = make(7), make(7), make(8)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_query_tables_are_seeded():
    a, b, c = (gen.query_tables(s, sf=0.001) for s in (3, 3, 4))
    assert set(a) == set(oracle.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])


def test_serving_schedule_is_seeded_and_stratified():
    a, b, c = (serving.schedule(s, 3)[0] for s in (5, 5, 6))
    assert a == b and a != c
    per_pass = sum(serving.PASS_MIX.values())
    for p in range(3):
        kinds = [k for k, _ in a[p * per_pass:(p + 1) * per_pass]]
        assert {k: kinds.count(k) for k in set(kinds)} == serving.PASS_MIX


def test_zipf_is_bounded_to_the_chunk_ranks():
    p = serving.zipf_weights(48, 1.3)
    assert len(p) == 48 and p.sum() == pytest.approx(1.0)
    assert np.all(np.diff(p) < 0)
    assert p[0] / p[1] == pytest.approx(2 ** 1.3)
    # every Zipf read lands on a ranked chunk, and the hot quarter of the
    # ranks draws the share the weights give it
    ops, rank = serving.schedule(9, 60)
    hot = set(int(c) for c in rank[:12])
    reads = [serving.chunk_of(a) for k, a in ops if k == "point_read"]
    share = np.mean([c in hot for c in reads])
    want = 0.5 * p[:12].sum() + 0.5 * 12 / 48
    assert abs(share - want) < 0.05


def test_cache_figures_classify_hits_by_rchar():
    wl = serving.VolumeServing.__new__(serving.VolumeServing)
    wl.hot = {0, 1}
    wl.point_reads = [(0, 100), (1, 5000), (7, 0), (9, 8000)]
    f = wl.cache_figures()
    assert f["hot_share"] == (0.5, "ratio", 4)
    assert f["lru_hit_ratio"] == (0.5, "ratio", 4)


def test_blocks_round_trip(tmp_path):
    import pyarrow.parquet as pq

    arr = gen.seg_volume(gen.rng_for(1, "seg"), (40, 30, 12))
    n = gen.write_blocks(arr, (16, 16, 10), str(tmp_path / "b.parquet"))
    t = pq.read_table(str(tmp_path / "b.parquet")).to_pandas()
    assert n == len(t) == 3 * 2 * 2
    out = np.zeros_like(arr)
    for r in t.itertuples():
        shape = (r.x1 - r.x0, r.y1 - r.y0, r.z1 - r.z0)
        out[r.x0:r.x1, r.y0:r.y1, r.z0:r.z1] = np.frombuffer(
            r.blob, arr.dtype).reshape(shape, order="F")
    assert np.array_equal(out, arr)


# -- percentile and sample-count rule ----------------------------------------

def test_tail_needs_ten_samples_beyond():
    # 92 distinct samples: p90 = 82.9, 10 samples above -> reported
    assert "p90" in stats.summarize(list(range(1, 93)))
    # 91 distinct samples: p90 = 82.0, 9 samples above -> withheld
    s = stats.summarize(list(range(1, 92)))
    assert "p90" not in s and s["n"] == 91 and s["p50"] == 46
    # ties at the top do not count as "beyond"
    assert "p90" not in stats.summarize([1.0] * 500)


def test_summarize_empty():
    assert stats.summarize([]) == {"n": 0}


# -- span self time with overlapping children --------------------------------

def test_union_length_merges_overlaps():
    assert union_length([(1, 4), (2, 6), (8, 9)]) == 6
    assert union_length([]) == 0


def test_self_time_subtracts_union_of_overlapping_children():
    # children overlap each other (thread-pool decodes) and one runs past
    # the parent's end: covered = [1,6] + [8,10] = 7
    assert self_time(0, 10, [(1, 4), (2, 6), (8, 12)]) == pytest.approx(3)
    # a naive sum of child durations would give 10 - (3 + 4 + 4) < 0
    assert self_time(0, 10, [(0, 10), (0, 10)]) == 0


def test_tracer_parents_thread_pool_children():
    from concurrent.futures import ThreadPoolExecutor

    tr = Tracer()

    def work(_):
        with tr.child("decode", "codecs"):
            pass

    with tr.op("cutout", "volume", "cutout") as op:
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(work, range(8)))
    kids = tr.children_of(op.id)
    assert len(kids) == 8 and all(k.op == op.id for k in kids)


# -- a wrong result raises failed_ratio --------------------------------------

def test_recorder_counts_wrong_results_and_errors():
    rec = Recorder()
    rec.run("good", "c", "l", lambda: 1, lambda v: None)
    rec.run("wrong", "c", "l", lambda: 2, lambda v: "2 != 1")

    def boom():
        raise ValueError("x")

    rec.run("boom", "c", "l", boom)
    assert rec.attempted == 3 and rec.failed == 2
    assert rec.failed_ratio() == pytest.approx(2 / 3)
    assert set(rec.failures) == {"wrong", "boom"}


class _WrongVolume:
    """Stands in for the engine and returns one wrong voxel."""

    def __init__(self, mirror, bad):
        self.mirror, self.bad = mirror, bad

    def read_voxel(self, xyz):
        v = self.mirror[xyz]
        return np.array([v + 1 if xyz == self.bad else v])


def test_wrong_engine_result_raises_failed_ratio():
    wl = serving.VolumeServing.__new__(serving.VolumeServing)
    wl.mirror = gen.seg_volume(gen.rng_for(1, "seg"), (32, 32, 32))
    wl.vol = _WrongVolume(wl.mirror.copy(), (3, 4, 5))
    wl.point_reads = []
    rec = Recorder()
    for xyz in [(0, 0, 0), (3, 4, 5), (9, 9, 9), (31, 31, 31)]:
        wl._point_read(rec, xyz)
    assert rec.failed == 1 and rec.failed_ratio() == 0.25
    assert list(rec.failures) == ["point_read"]


def test_oracle_digest_ignores_order_but_not_values():
    df = pd.DataFrame({"b": [2.5, 1.0, 3.0], "a": [1, 2, 3], "s": ["x", "y", "z"]})
    shuffled = df.iloc[[2, 0, 1]][["s", "a", "b"]]
    assert oracle.digest(df) == oracle.digest(shuffled)
    wrong = df.copy()
    wrong.loc[1, "b"] = 1.0000001
    assert oracle.digest(df) != oracle.digest(wrong)
    as_float = df.assign(a=df["a"].astype(float))
    assert oracle.digest(df) != oracle.digest(as_float)


def test_check_equal_messages():
    a = np.arange(6).reshape(2, 3)
    assert check_equal(a, a.copy(), "x") is None
    assert "shape" in check_equal(a, a.T, "x")
    b = a.copy()
    b[0, 0] = 9
    assert "1 values differ" in check_equal(a, b, "x")


# -- BENCHMARK.json agrees with the code -------------------------------------

def test_benchmark_json_matches_metrics():
    import json
    import os

    from perfbench import run
    from perfbench.layers import PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == PER_LAYER
    assert sorted(w["name"] for w in doc["workloads"]) == sorted(run.WORKLOADS)
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))


def test_pass_seconds_uses_per_op_medians():
    from perfbench.run import pass_seconds

    rec = Recorder()
    for v in (1.0, 1.0, 9.0):          # one slow outlier among three runs
        rec.run("a", "c", "l", lambda: None)
        rec.by_name["a"][-1] = rec.samples["c"][-1] = v
    for v in (2.0, 4.0, 3.0):
        rec.run("b", "c", "l", lambda: None)
        rec.by_name["b"][-1] = rec.samples["c"][-1] = v
    # three passes, each ran "a" and "b" once: 1.0 + 3.0
    assert pass_seconds(rec, 3) == pytest.approx(4.0)
    # by class "a" and "b" pool: six samples, median 2.5, two per pass
    assert pass_seconds(rec, 3, "cls") == pytest.approx(5.0)


def test_overhead_ratio_compares_the_same_ops():
    from perfbench.run import overhead_ratio

    plain, traced = Recorder(), Recorder()
    for rec, vals in ((plain, {"a": [1, 1, 9], "b": [2, 2], "c": [5]}),
                      (traced, {"a": [1.1, 1.1], "b": [2.4], "d": [7]})):
        for name, vs in vals.items():
            for v in vs:
                rec.run(name, "c", "l", lambda: None)
                rec.by_name[name][-1] = v
    # per-op ratios 1.1 and 1.2; ops run by one loop only are left out
    assert overhead_ratio(plain, traced) == pytest.approx(1.15)


def test_measure_runs_whole_passes_until_the_time_is_up():
    from perfbench.run import measure

    class Loop:
        def run_pass(self, rec):
            rec.run("op", "c", "l", lambda: None)

    rec = Recorder()
    durations = measure(Loop(), rec, 0.0)
    assert len(durations) == 1 and rec.attempted == 1


def test_serving_warm_up_is_checked_but_left_out_of_the_figures(tmp_path):
    wl = serving.VolumeServing(str(tmp_path), 1)

    def one_pass(rec):
        rec.run("point_read", "point_read", "volume", lambda: 1,
                lambda v: "wrong" if v != 2 else None)
        wl.point_reads.append((0, 100))

    wl.run_pass = one_pass
    rec = Recorder()
    wl.warm_up(rec)
    assert rec.attempted == 1 and rec.failed == 1
    assert wl.point_reads == [] and wl.cache_figures() == {}
