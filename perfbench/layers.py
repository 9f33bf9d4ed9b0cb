"""Per-layer metrics of a traced run, computed from its spans.

Every name in ``PER_LAYER`` is reported on every workload; a layer a
workload does not touch reports 0 (no work done there). Per-op figures
are means over the ops of one class.
"""

from __future__ import annotations

from perfbench.queries import QUERIES
from perfbench.trace import self_time, union_length

VOLUME_CLASSES = ["write", "read", "unique", "downsample", "point_read",
                  "cutout", "upload"]
SPARK_ONLY_CLASSES = ["lookup", "index_build", "export", "query_build",
                      "query_exec"]
CODEC_KIND = {"decompress_stream": "decompress", "decode": "decode",
              "read_voxel": "decode", "encode": "encode",
              "compress_stream": "compress"}
CREATES = ("create_exclusive", "create_with_content")

# (name, unit, better)
PER_LAYER = [("session.get_spark_s", "s", "lower")]
for _c in VOLUME_CLASSES:
    PER_LAYER += [
        (f"volume.{_c}.self_ms", "ms", "lower"),
        (f"codecs.{_c}.ms", "ms", "lower"),
        (f"fs.{_c}.ms", "ms", "lower"),
        (f"fs.{_c}.calls", "count", "lower"),
        (f"spark.{_c}.jobs", "count", "lower"),
        (f"spark.{_c}.tasks", "count", "lower"),
    ]
for _c in SPARK_ONLY_CLASSES:
    PER_LAYER += [(f"spark.{_c}.jobs", "count", "lower"),
                  (f"spark.{_c}.tasks", "count", "lower")]
PER_LAYER += [
    ("fs.listdir_per_point_read", "count", "lower"),
    ("fs.read_bytes_per_point_read", "count", "lower"),
    ("fs.create_per_commit", "count", "lower"),
]
for _k in ("decompress", "decode", "encode", "compress"):
    PER_LAYER += [(f"codecs.{_k}_s", "s", "lower"),
                  (f"codecs.{_k}_mb", "MB", "lower")]
PER_LAYER += [
    ("volume.stored_bytes_ratio", "ratio", "lower"),
    ("volume.files_per_write", "count", "lower"),
    ("volume.generations_end", "count", "lower"),
    ("volume.driver_read_bytes_per_point_read", "B", "lower"),
    ("volume.lru_hit_ratio", "ratio", "higher"),
    ("spatial_index.build_s", "s", "lower"),
    ("spatial_index.get_bbox_ms", "ms", "lower"),
    ("spatial_index.query_ms", "ms", "lower"),
    ("spatial_index.index_mb", "MB", "lower"),
    ("annotation_io.export_s", "s", "lower"),
    ("annotations.get_by_bbox_ms", "ms", "lower"),
    ("annotation_io.cells", "count", "lower"),
]
for _q in QUERIES:
    PER_LAYER += [(f"operators.{_q}.build_s", "s", "lower"),
                  (f"operators.{_q}.exec_s", "s", "lower")]
PER_LAYER += [
    ("operators.build_s", "s", "lower"),
    ("operators.exec_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("trace.spans", "count", "lower"),
]


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, facts: dict) -> dict:
    """``{name: value}`` for every ``PER_LAYER`` name."""
    ops = tracer.ops()
    kids: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    by_cls: dict[str, list] = {}
    by_name: dict[str, list] = {}
    for o in ops:
        by_cls.setdefault(o.attrs["cls"], []).append(o)
        by_name.setdefault(o.name, []).append(o)

    def ivals(o, layer):
        return [(c.start, c.end) for c in kids.get(o.id, ())
                if c.layer == layer]

    def count(o, layer, names=None):
        return sum(1 for c in kids.get(o.id, ()) if c.layer == layer
                   and (names is None or c.name in names))

    def dur(name):
        return _mean([o.end - o.start for o in by_name.get(name, [])])

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    for c in VOLUME_CLASSES + SPARK_ONLY_CLASSES:
        os_ = by_cls.get(c, [])
        m[f"spark.{c}.jobs"] = _mean([o.attrs.get("jobs", 0) for o in os_])
        m[f"spark.{c}.tasks"] = _mean([o.attrs.get("tasks", 0) for o in os_])
        if c not in VOLUME_CLASSES:
            continue
        m[f"volume.{c}.self_ms"] = 1e3 * _mean([
            self_time(o.start, o.end, ivals(o, "codecs") + ivals(o, "fs"))
            for o in os_])
        m[f"codecs.{c}.ms"] = 1e3 * _mean(
            [union_length(ivals(o, "codecs")) for o in os_])
        m[f"fs.{c}.ms"] = 1e3 * _mean(
            [union_length(ivals(o, "fs")) for o in os_])
        m[f"fs.{c}.calls"] = _mean([count(o, "fs") for o in os_])
    reads = by_cls.get("point_read", [])
    m["fs.listdir_per_point_read"] = _mean(
        [count(o, "fs", ("listdir",)) for o in reads])
    m["fs.read_bytes_per_point_read"] = _mean(
        [count(o, "fs", ("read_bytes",)) for o in reads])
    commits = by_cls.get("upload", []) + by_cls.get("write", [])
    m["fs.create_per_commit"] = _mean([count(o, "fs", CREATES) for o in commits])
    for s in tracer.spans:
        kind = CODEC_KIND.get(s.name) if s.layer == "codecs" else None
        if kind:
            m[f"codecs.{kind}_s"] += s.end - s.start
            m[f"codecs.{kind}_mb"] += s.attrs.get("bytes", 0) / 1e6
    m["spatial_index.build_s"] = dur("index_build")
    m["spatial_index.get_bbox_ms"] = 1e3 * dur("si_get_bbox")
    m["spatial_index.query_ms"] = 1e3 * dur("si_query")
    m["annotation_io.export_s"] = dur("export")
    m["annotations.get_by_bbox_ms"] = 1e3 * dur("ann_get_by_bbox")
    for q in QUERIES:
        m[f"operators.{q}.build_s"] = dur(f"build:{q}")
        m[f"operators.{q}.exec_s"] = dur(f"exec:{q}")
    m["operators.build_s"] = sum(m[f"operators.{q}.build_s"] for q in QUERIES)
    m["operators.exec_s"] = sum(m[f"operators.{q}.exec_s"] for q in QUERIES)
    builds = by_cls.get("query_build", [])
    m["operators.build_jobs"] = (
        sum(o.attrs.get("jobs", 0) for o in builds) * len(QUERIES) / len(builds)
        if builds else 0.0)
    m["trace.spans"] = len(tracer.spans)
    for k, v in facts.items():
        if k in m:
            m[k] = float(v)
    return m
