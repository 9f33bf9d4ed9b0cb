"""In-memory span tracing around the engine's public layers.

A traced run records one span per public call the benchmark makes (the
"op"), and child spans for the driver-side ``codecs`` functions and the
``PathOps`` methods the op reaches. The wrappers are installed from the
benchmark's own files by swapping module/class attributes for the
duration of the traced run; the engine's code is not edited. Spans are
kept in memory and written out when the run ends.

Self time of a span is its duration minus the *union* of its children's
intervals, because the cutout decode runs on a thread pool and sibling
codec spans overlap.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

CODEC_FUNCS = ("decompress_stream", "decode", "encode", "compress_stream",
               "read_voxel")
PATHOPS_METHODS = ("exists", "rmtree", "rename", "makedirs", "listdir",
                   "create_exclusive", "create_with_content", "remove",
                   "mtime", "read_bytes", "write_bytes")


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """``end - start`` minus the union of the children clipped to it."""
    clipped = [(max(s, start), min(e, end)) for s, e in children
               if min(e, end) > max(s, start)]
    return (end - start) - union_length(clipped)


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "op",
                 "attrs")

    def __init__(self, sid, name, layer, start, parent, op, attrs):
        self.id, self.name, self.layer = sid, name, layer
        self.start, self.end = start, None
        self.parent, self.op, self.attrs = parent, op, attrs

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "start": self.start, "end": self.end, "parent": self.parent,
                "op": self.op, **self.attrs}


class Tracer:
    """Collects spans. One client drives the engine, so the current op is
    shared across threads: codec spans from the cutout decode pool attach
    to the op the main thread is running."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._op: Span | None = None

    def _new(self, name, layer, parent, op, attrs) -> Span:
        with self._lock:
            s = Span(next(self._ids), name, layer, time.perf_counter(),
                     parent, op, attrs)
            self.spans.append(s)
        return s

    @contextmanager
    def op(self, name: str, layer: str, cls: str):
        """Span around one public call; Spark jobs it starts are tagged
        with a job group and counted from the status tracker."""
        s = self._new(name, layer, None, None, {"cls": cls})
        s.op = s.id
        group = f"perfbench-op-{s.id}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        self._op = s
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._op = None
            if sc is not None:
                sc._jsc.clearJobGroup()
                s.attrs.update(spark_counts(sc, group))

    @contextmanager
    def child(self, name: str, layer: str, **attrs):
        parent = self._op
        s = self._new(name, layer, parent.id if parent else None,
                      parent.id if parent else None, attrs)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    def children_of(self, op_id: int, layers=None) -> list[Span]:
        return [s for s in self.spans if s.parent == op_id
                and (layers is None or s.layer in layers)]

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def install(self, codecs_module, pathops_cls):
        """Wrap driver-side codec functions and ``PathOps`` methods.
        Returns a function that restores the originals."""
        saved = []
        for fname in CODEC_FUNCS:
            orig = getattr(codecs_module, fname)
            saved.append((codecs_module, fname, orig))
            setattr(codecs_module, fname, self._wrap(orig, fname, "codecs"))
        for mname in PATHOPS_METHODS:
            orig = getattr(pathops_cls, mname)
            saved.append((pathops_cls, mname, orig))
            setattr(pathops_cls, mname, self._wrap(orig, mname, "fs"))

        def restore():
            for owner, name, orig in reversed(saved):
                setattr(owner, name, orig)
        return restore

    def _wrap(self, fn, name, layer):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._op is None:  # result checks run between ops: untraced
                return fn(*args, **kwargs)
            with self.child(name, layer) as s:
                out = fn(*args, **kwargs)
                if isinstance(out, (bytes, bytearray, memoryview)):
                    s.attrs["bytes"] = len(out)
                elif hasattr(out, "nbytes"):
                    s.attrs["bytes"] = int(out.nbytes)
                return out
        return wrapper


def spark_counts(sc, group: str) -> dict:
    """Jobs and tasks Spark ran under ``group``, from the status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return {"jobs": len(jobs), "tasks": tasks}
