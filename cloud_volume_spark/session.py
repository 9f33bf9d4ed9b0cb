"""SparkSession factory tuned for the chunk-table workload.

Replaces the reference's hand-rolled execution stack (thread pools,
green threads, multiprocess fan-out — ``threaded_queue.py``,
``scheduler.py``) with Spark's scheduler. Defaults are sized for
local[32] testing but the knobs are the ones that matter on a
1000-executor cluster: AQE on (runtime re-plan, skew-join splitting),
Arrow on (pandas-UDF batches), shuffle partitions bounded by AQE
coalescing.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def session_cpus() -> int:
    """Task slots of the local session ``get_spark`` builds: N for a
    ``SPARK_MASTER`` of ``local[N]`` (``local[*]``: every core), else
    ``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``."""
    m = re.fullmatch(r"local\[(\d+|\*)(?:,\d+)?\]",
                     os.environ.get("SPARK_MASTER", ""))
    if m:
        return (os.cpu_count() or 4) if m.group(1) == "*" else int(m.group(1))
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "cloud-volume-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Every setting here is also correct at cluster scale:
    - AQE coalesces the static shuffle-partition count at runtime and
      splits skewed joins (hot morton keys / hot labels).
    - Arrow makes mapInPandas/applyInPandas codec UDFs batch-columnar.
    - ``maxPartitionBytes`` 128 MB keeps scan tasks ≥ the ~4 MB/task
      floor that BASELINE.md shows is needed to amortize request
      overhead, without exceeding executor memory at 100 TB.
    """
    # make this package importable in Python workers regardless of the
    # caller's cwd (executors unpickle UDFs that reference our modules)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pythonpath if pythonpath else "")
        )

    cpus = session_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-mode driver hosts all executor threads — size the heap
        # for 32 concurrent codec tasks on multi-MB chunk blobs
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r14 (guide §4.2): bound Arrow batches by BYTES, not rows —
        # the old 32-row cap protected MB-scale chunk blobs but forced
        # ~150x more Python batch dispatches on narrow rows (text docs,
        # embeddings). 1024 rows or 16 MB, whichever binds first: blob
        # paths land at ~8-32 rows/batch exactly as before, narrow-row
        # mapInPandas paths batch 32x larger
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(16 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # tolerate TIMESTAMP(NANOS) parquet (events.ts): read as long,
        # converted back to timestamp in operators.common.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # an ORDER BY ... LIMIT k under this threshold runs as an
        # in-memory top-k whose per-task buffer is preallocated at 2k
        # slots: a caller's "unbounded" k=10**9 asks for 2e9 references
        # (16 GB) per task. Above it the plan is a spilling sort + limit.
        # Every operator's own top-k (k <= a few hundred) stays in memory
        .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
        .config("spark.driver.maxResultSize", "4g")
        # dump a native traceback if a Python worker dies ("Python
        # worker exited unexpectedly" is undebuggable without it).
        # Default OFF: a 3-leg quiet-window A/B (OPTIMIZATION_r14.md)
        # measured it costing up to ~1 s/query on worker-heavy paths
        # (it changes worker lifecycle), so benches run without it;
        # tests/conftest.py turns it on, where the flaky worker crash
        # actually lives.
        .config("spark.python.worker.faulthandler.enabled",
                os.environ.get("SPARK_GRAFT_FAULTHANDLER", "false"))
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled",
                os.environ.get("SPARK_GRAFT_FAULTHANDLER", "false"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
