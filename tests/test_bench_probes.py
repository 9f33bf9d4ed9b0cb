"""The r14 steal-detector contract: the r13 driver artifact recorded
seg-read at 7.4x BASELINE while claiming quiet_passes=3 at load1 17.37
— the single-thread probe is blind to many-core contention. These
tests pin the fix: (1) a pass under synthetic contention from half as
many processes as the probe is wide (16 of 32 on the r14 host) is
steal_flagged by the many-core probe, against its own quiet baseline,
even though the 1-thread probe stays nominal, and a load that was there
before the first probe never enters that baseline; (2) a high leg-entry
load1 forces not-quiet regardless of probe times; (3) the settle-wait
lets our own post-stage load decay instead of false-flagging a quiet
host. Pure-python: no Spark."""

import multiprocessing as mp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from cloud_volume_spark.session import session_cpus


def _spin_forever(stop_ev):
    acc = 0
    while not stop_ev.is_set():
        for i in range(200_000):
            acc += i


QUIET_PROBE = {"st": 0.1, "mt": 0.1, "l1": 1.0, "busy": 0.0}


def _half_probe_width_load():
    """Half as many spinners as the mt probe is wide: 16 on the r14
    32-core host. Leaves cores free, so a lone thread keeps a full
    core while the mt probe's workers must share."""
    return max(1, bench.MT_PROBE_PROCS // 2)


def _take_quiet_baseline():
    """One bracket before the load starts: the gate needs a baseline."""
    bench._probe()
    assert bench._mt_gate() is not None, (
        "host busy before the load started; re-run quiet")


def test_synthetic_contention_flags_the_leg(monkeypatch):
    """stress -c (half the probe width)-class load => steal_flagged,
    driven by the mt probe alone (load1 is pinned low so the entry gate
    passes, exactly the r13 blind spot where load1 was the only tell
    the old detector ignored and the 1-thread probe saw nothing)."""
    monkeypatch.setattr(bench, "LOAD1_SETTLE_SEC", 0.0)
    monkeypatch.setattr(bench, "_load1", lambda: 1.0)
    _take_quiet_baseline()
    ctx = mp.get_context("fork")
    stop = ctx.Event()
    loaders = [ctx.Process(target=_spin_forever, args=(stop,))
               for _ in range(_half_probe_width_load())]
    for p in loaders:
        p.start()
    try:
        out = bench._quiet_leg(lambda: {"t": 0.0}, "t",
                               base_passes=1, max_passes=2)
    finally:
        stop.set()
        for p in loaders:
            p.join()
    assert out["steal_flagged"] is True
    assert out["quiet_passes"] == 0
    # the blind spot itself: the single-thread probe still ran at
    # nominal speed under the load the mt probe caught
    st_times = [p["st"] for pair in out["probes_all"] for p in pair]
    mt_times = [p["mt"] for pair in out["probes_all"] for p in pair]
    assert min(st_times) <= bench.CPU_PROBE_QUIET_SEC
    assert min(mt_times) > bench._mt_gate()


def test_high_entry_load_flags_regardless_of_probe_times(monkeypatch):
    """The r13 counterexample: quiet probes, load1 17 => not quiet."""
    monkeypatch.setattr(bench, "LOAD1_SETTLE_SEC", 0.0)
    monkeypatch.setattr(bench, "_load1", lambda: 17.37)
    monkeypatch.setattr(bench, "_probe", lambda: dict(QUIET_PROBE))
    out = bench._quiet_leg(lambda: {"t": 0.0}, "t",
                           base_passes=1, max_passes=2)
    assert out["entry_load1"] == 17.37
    assert out["quiet_passes"] == 0
    assert out["steal_flagged"] is True


def test_quiet_host_passes_gate_and_records_probe_structure(monkeypatch):
    monkeypatch.setattr(bench, "LOAD1_SETTLE_SEC", 0.0)
    monkeypatch.setattr(bench, "_load1", lambda: 0.8)
    monkeypatch.setattr(bench, "_probe", lambda: dict(QUIET_PROBE))
    out = bench._quiet_leg(lambda: {"t": 0.5}, "t")
    assert out["steal_flagged"] is False
    assert out["quiet_passes"] >= 1
    assert out["entry_load1"] == 0.8
    for pre, post in out["probes_all"]:
        for p in (pre, post):
            assert set(p) == {"st", "mt", "l1", "busy"}


def test_settle_wait_outlasts_own_decay_but_not_sustained_steal(
        monkeypatch):
    """Our own just-finished stages' load1 decay must settle out (no
    false flag on a quiet host); a load that never drops exhausts the
    budget and returns the high value for the gate to flag."""
    seq = iter([12.0, 7.0, 2.0])
    sleeps = []
    monkeypatch.setattr(bench, "_load1", lambda: next(seq))
    monkeypatch.setattr(bench.time, "sleep", lambda s: sleeps.append(s))
    assert bench._settle_load(max_wait=60.0) == 2.0
    assert len(sleeps) == 2

    # a short budget: with sleep mocked out the wait is a busy loop
    monkeypatch.setattr(bench, "LOAD1_SETTLE_SEC", 0.05)
    monkeypatch.setattr(bench, "_load1", lambda: 17.0)
    l1, ok = bench._leg_entry_gate()
    assert l1 == 17.0 and ok is False


def test_mt_probe_detects_what_single_thread_misses():
    """Live calibration sanity (no mocks): under a load of half the
    probe width the 1-thread probe stays nominal while the many-core
    probe breaches the gate set by its own quiet baseline — the
    measured blind spot the r14 detector closes."""
    _take_quiet_baseline()
    ctx = mp.get_context("fork")
    stop = ctx.Event()
    loaders = [ctx.Process(target=_spin_forever, args=(stop,))
               for _ in range(_half_probe_width_load())]
    for p in loaders:
        p.start()
    try:
        st = bench._cpu_probe_sec()
        mt = bench._mt_probe_sec()
    finally:
        stop.set()
        for p in loaders:
            p.join()
    assert st <= bench.CPU_PROBE_QUIET_SEC, (
        "single-thread probe unexpectedly slowed — host already "
        f"contended ({st}); re-run quiet")
    assert mt > bench._mt_gate()


def test_load_before_first_probe_never_enters_the_baseline(monkeypatch):
    """A steady load of half the probe width that is already running at
    the first probe (load1 pinned low, as in the r13 blind spot): its
    brackets are steal_flagged by the busy cores beside the 1-thread
    probe, and no reading taken under it becomes the baseline, where it
    would raise the gate above itself."""
    monkeypatch.setattr(bench, "LOAD1_SETTLE_SEC", 0.0)
    monkeypatch.setattr(bench, "_load1", lambda: 1.0)
    monkeypatch.setattr(bench, "_MT_QUIET", [])
    ctx = mp.get_context("fork")
    stop = ctx.Event()
    loaders = [ctx.Process(target=_spin_forever, args=(stop,))
               for _ in range(_half_probe_width_load())]
    for p in loaders:
        p.start()
    try:
        out = bench._quiet_leg(lambda: {"t": 0.0}, "t",
                               base_passes=1, max_passes=2)
    finally:
        stop.set()
        for p in loaders:
            p.join()
    assert out["steal_flagged"] is True
    assert out["quiet_passes"] == 0
    assert bench._mt_baseline() is None and out["mt_gate"] is None
    probes = [p for pair in out["probes_all"] for p in pair]
    assert min(p["st"] for p in probes) <= bench.CPU_PROBE_QUIET_SEC
    assert min(p["busy"] for p in probes) > bench.BUSY_CORES_MAX


def test_mt_probe_sized_to_session_cores_with_relative_gate(monkeypatch):
    """The probe is as wide as get_spark's local[N] (session_cpus());
    its gate is MT_GATE_RATIO x the median reading of the quiet
    brackets, and neither a failed probe nor a busy bracket enters
    that median."""
    assert bench.MT_PROBE_PROCS == session_cpus()
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session_cpus() == 3
    monkeypatch.setenv("SPARK_MASTER", "local[2]")
    assert session_cpus() == 2
    monkeypatch.setenv("SPARK_MASTER", "local[*]")
    assert session_cpus() == (os.cpu_count() or 4)
    monkeypatch.delenv("SPARK_MASTER")
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session_cpus() == (os.cpu_count() or 4)

    class DeadPool:
        def map(self, *args, **kwargs):
            raise OSError("probe worker died")

    monkeypatch.setattr(bench, "_MT_QUIET", [0.29, 0.30, 0.45])
    assert bench._mt_gate() == 0.36
    monkeypatch.setattr(bench, "_MT_POOL", DeadPool())
    monkeypatch.setattr(bench, "_cpu_probe_sec", lambda: 0.1)
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 4)
    monkeypatch.setattr(bench, "BUSY_CORES_MAX", 0.8)

    def bracket(busy_jiffies):
        # 400 jiffies over 4 cores; 100 busy is the st spin alone
        jiffies = iter([(0, 0), (busy_jiffies, 400)])
        monkeypatch.setattr(bench, "_cpu_jiffies", lambda: next(jiffies))
        return bench._probe()

    failed = bracket(100)
    assert failed["mt"] == bench.MT_PROBE_FAILED and failed["busy"] == 0.0
    assert not bench._probe_quiet(failed)
    monkeypatch.setattr(bench, "_mt_probe_sec", lambda: 0.1)
    busy = bracket(400)
    assert busy["busy"] == 3.0 and not bench._probe_quiet(busy)
    assert bench._MT_QUIET == [0.29, 0.30, 0.45]
    quiet = bracket(100)
    assert bench._probe_quiet(quiet) and bench._MT_QUIET[-1] == 0.1
