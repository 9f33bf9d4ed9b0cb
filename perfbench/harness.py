"""Op recording, checking and host context shared by the workloads."""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager, nullcontext


class Recorder:
    """Times ops, checks their results and counts failures by op.

    ``run`` times only ``fn``; ``check(result)`` runs after the clock
    stops and returns ``None`` when the result is right, or a message.
    An op that raises or returns a wrong result counts as failed and is
    listed under its name; failures are never dropped."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.by_name: dict[str, list[float]] = {}
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0

    def run(self, name: str, cls: str, layer: str, fn, check=None):
        self.attempted += 1
        ctx = self.tracer.op(name, layer, cls) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx:
                out = fn()
        except Exception as exc:  # an op failure is data, not a crash
            self.fail(name, f"{type(exc).__name__}: {exc}"[:300])
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t0
        self.samples.setdefault(cls, []).append(dt)
        self.by_name.setdefault(name, []).append(dt)
        if check is not None:
            try:
                msg = check(out)
            except Exception as exc:
                msg = f"check raised {type(exc).__name__}: {exc}"
            if msg:
                self.fail(name, str(msg)[:300])
        return out

    def absorb(self, other: "Recorder") -> None:
        """Count another recorder's attempts and failures in this one."""
        self.attempted += other.attempted
        for k, v in other.failures.items():
            self.failures.setdefault(k, []).extend(v)

    def fail(self, name: str, msg: str) -> None:
        self.failures.setdefault(name, []).append(msg)

    @property
    def failed(self) -> int:
        return sum(len(v) for v in self.failures.values())

    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Phases(dict):
    """Wall times of named set-up phases, for the report: a list per name,
    one entry each time the phase ran."""

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setdefault(name, []).append(time.perf_counter() - t0)


def check_equal(got, want, what: str):
    """``None`` when the arrays are identical, else a short message."""
    import numpy as np

    got = np.asarray(got)
    if got.shape != np.shape(want):
        return f"{what}: shape {got.shape} != {np.shape(want)}"
    if not np.array_equal(got, want):
        bad = int(np.sum(got != want))
        return f"{what}: {bad} values differ"
    return None


# -- host context: recorded beside each run, never used to select runs ------

def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals


def host_snapshot() -> dict:
    return {"t": time.time(), "cpu": _cpu_times(), "load1": os.getloadavg()[0]}


def host_context(start: dict, end: dict, spark=None) -> dict:
    d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    total = sum(d) or 1
    steal = d[7] if len(d) > 7 else 0
    heap = None
    if spark is not None:
        heap = spark.sparkContext.getConf().get("spark.driver.memory", None)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "driver_heap": heap,
        "load1_start": round(start["load1"], 2),
        "load1_end": round(end["load1"], 2),
        "steal_pct": round(100.0 * steal / total, 3),
    }


def vm_hwm_mb(pid="self") -> float:
    """Peak resident set of a process (``VmHWM``), in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def rchar() -> int:
    """Bytes this process has read through read() calls (``/proc/self/io``),
    page-cache hits included: the driver-side read volume of an op."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0
