"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same config block is what we'd ship
to a 1000-executor cluster (AQE on, skew-join handling on, Arrow on).
Only the master / memory lines are local-mode specific.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# At 100 TB these would be set per-job by the scheduler; AQE coalescing
# makes the static shuffle-partition count a ceiling, not a constant.
_ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # genomic interval joins and graph iterations produce many small
    # stages; keep broadcast threshold generous (dims here are ~50k rows)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # keep stdout parseable (bench.py prints one JSON line)
    "spark.ui.showConsoleProgress": "false",
}


def driver_memory(meminfo: str | None) -> str:
    """``spark.driver.memory`` for a host whose ``/proc/meminfo`` text is
    ``meminfo``: about 60% of MemTotal, capped at 48g, so a local-mode
    JVM (executors included) leaves the rest of the host to Python
    workers and the OS. ``None`` (no such file) or text without a
    MemTotal line gives the cap."""
    m = re.search(r"^MemTotal:\s*(\d+)\s*kB", meminfo or "", re.MULTILINE)
    if m is None:
        return "48g"
    mb = int(m.group(1)) * 6 // 10 // 1024
    return f"{mb}m" if mb < 48 * 1024 else "48g"


def _read_meminfo() -> str | None:
    try:
        with open("/proc/meminfo") as fh:
            return fh.read()
    except OSError:
        return None


def get_session(app_name: str = "garden_net_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Return (or create) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    ``SPARK_GRAFT_DRIVER_MEM`` sets the driver memory; unset, it is sized
    from the host (:func:`driver_memory`).
    """
    # make google.protobuf importable (vendored shim) BEFORE the JVM
    # starts: python workers inherit PYTHONPATH from the JVM's env
    # snapshot, and the transformWithStateInPandas state client imports
    # the generated proto module inside the worker
    from ._vendor import ensure_protobuf_shim

    try:
        ensure_protobuf_shim()
    except Exception:
        pass  # shim is best-effort; TWS tests skip if absent
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(_read_meminfo())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
    )
    for k, v in _ENGINE_CONFS.items():
        builder = builder.config(k, v)
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
