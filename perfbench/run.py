"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload volume_serving --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. First every input is made from the seed
(untimed); then the session starts and the engine's set-up (ingest,
index builds, layer writes) runs ``SETUP_REPEATS`` times: ``setup_s`` is
the session start plus the median set-up. Then the workload warms up
(``volume_serving``: one pass, checked but not timed) and whole passes
run until ``--seconds`` have elapsed. Every op's result is
checked; wrong results and errors count as failures, listed by op.

Output, on standard output: a ``report`` JSON line with every figure by
name and unit (including each workload's own end-to-end figures, sample
counts, ``failed_ratio``, failures by op and host context), then the
last line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics of a traced loop,
including the tracing overhead (see ``traced_run``). Reports (and,
traced, the spans) are also written under ``.perfbench_out/`` at the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

WORKLOADS = {
    "batch_etl": ("perfbench.etl", "BatchEtl"),
    "volume_serving": ("perfbench.serving", "VolumeServing"),
}
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("driver_peak_rss_mb", "MB")]
SETUP_REPEATS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(wl, rec, seconds: float) -> list:
    """Whole passes until ``seconds`` have elapsed; returns each pass's
    duration (checks included)."""
    durations = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        wl.run_pass(rec)
        durations.append(time.perf_counter() - t)
        if time.perf_counter() - t0 >= seconds:
            return durations


def pass_seconds(rec, passes: int, by: str = "name") -> float:
    """Time of one pass at median latency: the sum over op groups of the
    group's median latency times its runs per pass. Groups are op names
    (``by="name"``) or op classes (``by="cls"``). Result checks are
    excluded, and one slow op moves it no more than its group's median."""
    groups = rec.by_name if by == "name" else rec.samples
    return sum(stats.median(v) * len(v) / passes
               for v in groups.values() if v)


def op_gmean(rec) -> float:
    """Geometric mean over ops (by name) of each op's median latency:
    every kind of op weighs the same, however often it runs."""
    meds = [stats.median(v) for v in rec.by_name.values() if v]
    return float(np.exp(np.mean(np.log(meds))))


def overhead_ratio(plain, traced) -> float:
    """Median over op names of (traced median latency / untraced median
    latency), for two recorders that ran the same ops."""
    return stats.median([
        stats.median(traced.by_name[n]) / stats.median(v)
        for n, v in plain.by_name.items() if v and traced.by_name.get(n)])


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def traced_run(wl, rec, report, spark, args, get_spark_s, out_dir,
               codecs, pathops) -> dict:
    """Per-layer metrics from a traced loop of ``--seconds``, then the
    tracing overhead: half as many passes again, each run twice from the
    same schedule position, once with the wrappers removed and once with
    them installed, compared op by op. Spans of the traced loop are
    written beside the report."""
    from perfbench.harness import Recorder
    from perfbench.layers import PER_LAYER, per_layer
    from perfbench.trace import Tracer

    tracer = Tracer(spark)

    def traced_loop(r, run):
        restore = tracer.install(codecs, pathops)
        try:
            return run(r)
        finally:
            restore()

    main_rec = Recorder(tracer)
    passes = len(traced_loop(main_rec,
                             lambda r: measure(wl, r, args.seconds)))
    n_spans = len(tracer.spans)
    facts = dict(wl.layer_facts())
    facts["session.get_spark_s"] = get_spark_s

    # each replayed pass runs twice, untraced and traced, in alternating
    # order so that warming over the loop favours neither side
    k = max(1, passes // 2)
    plain, again = Recorder(), Recorder(tracer)
    for i in range(k):
        start = wl.position()
        for r in ((plain, again) if i % 2 == 0 else (again, plain)):
            wl.seek(start)
            if r is plain:
                wl.run_pass(r)
            else:
                traced_loop(r, wl.run_pass)
    del tracer.spans[n_spans:]
    for r in (main_rec, plain, again):
        rec.absorb(r)
    facts["trace.overhead_pct"] = 100.0 * (overhead_ratio(plain, again) - 1.0)
    values = per_layer(tracer, facts)
    report["overhead_passes"] = k
    with open(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
        json.dump([s.as_dict() for s in tracer.spans], f)
    return {n: {"value": values[n], "unit": u} for n, u, _ in PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the tier-1 session environment; temp files stay inside the checkout
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import importlib

    from perfbench import harness
    from perfbench.harness import Recorder

    try:
        from cloud_volume_spark import codecs, get_spark
        from cloud_volume_spark.fs import PathOps
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    mod, cls = WORKLOADS[args.workload]
    host0 = harness.host_snapshot()
    wl = getattr(importlib.import_module(mod), cls)(work, args.seed)
    wl.generate()
    t = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        repeats = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup(spark, f"setup{i}")
            repeats.append(time.perf_counter() - t)
        setup_s = get_spark_s + stats.median(repeats)
        wl.ready()
        warm = Recorder()
        with wl.phases("warm_up"):
            wl.warm_up(warm)
        rec = Recorder()
        rec.absorb(warm)
        phases = {"session": get_spark_s, "setup_repeats": repeats,
                  **wl.phases}

        report = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "seconds": args.seconds,
                  "setup_phases_s": phases}
        if args.trace:
            metrics = traced_run(wl, rec, report, spark, args, get_spark_s,
                                 out_dir, codecs, PathOps)
        else:
            pass_s = measure(wl, rec, args.seconds)
            passes = len(pass_s)
            e2e = {
                "setup_s": setup_s,
                "wall_s": pass_seconds(rec, passes, wl.wall_by),
                "driver_peak_rss_mb": harness.vm_hwm_mb(),
            }
            report["op_gmean_ms"] = 1e3 * op_gmean(rec)
            report["jvm_peak_rss_mb"] = harness.vm_hwm_mb(jvm_pid)
            report["peak_rss_mb"] = (e2e["driver_peak_rss_mb"]
                                     + report["jvm_peak_rss_mb"])
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
            report["passes"] = passes
            report["pass_s"] = pass_s
            report["workload_metrics"] = {
                k: {"value": v[0], "unit": v[1],
                    **({"n": v[2]} if len(v) > 2 else {})}
                for k, v in wl.report(rec).items()}
            report["ops"] = {k: {"median_s": stats.median(v), "n": len(v)}
                             for k, v in rec.by_name.items()}
        report["failed_ratio"] = rec.failed_ratio()
        report["failures"] = rec.failures
        report["host"] = harness.host_context(host0, harness.host_snapshot(),
                                              spark)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    report["metrics"] = metrics
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
