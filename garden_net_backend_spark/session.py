"""SparkSession factory tuned for this engine, plus the helpers every
face shares: sending driver-held rows to the JVM (:func:`local_frame`),
pinning a frame that is read more than once (:func:`pin`,
:func:`release`), labelling the Spark jobs of one step
(:func:`job_description`) and turning the file URI Spark reports into a
local path (:func:`local_path`).

Local testing runs on local[N]; the same config block is what we'd ship
to a 1000-executor cluster (AQE on, skew-join handling on, Arrow on).
Only the master / memory lines are local-mode specific.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

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


#: the directory holding this package — on every Python worker's path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_package_on_pythonpath(env=os.environ) -> None:
    """Put the directory holding this package first on ``PYTHONPATH``
    in ``env`` (once). Python workers inherit PYTHONPATH from the
    JVM's environment at launch, and a Python UDF (q56) unpickles
    functions that import this package inside the worker: a tool that
    put the package on ``sys.path`` itself, run from another
    directory, reaches only the driver, and its workers fail with
    ``ModuleNotFoundError``."""
    prev = env.get("PYTHONPATH", "")
    if _PACKAGE_PARENT not in prev.split(os.pathsep):
        env["PYTHONPATH"] = _PACKAGE_PARENT + (os.pathsep + prev if prev else "")


def get_session(app_name: str = "garden_net_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Return (or create) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    ``SPARK_GRAFT_DRIVER_MEM`` sets the driver memory; unset, it is sized
    from the host (:func:`driver_memory`).
    """
    # make google.protobuf (vendored shim) and this package importable
    # BEFORE the JVM starts: python workers inherit PYTHONPATH from the
    # JVM's env snapshot, and the transformWithStateInPandas state
    # client imports the generated proto module inside the worker
    from ._vendor import ensure_protobuf_shim

    try:
        ensure_protobuf_shim()
    except Exception:
        pass  # shim is best-effort; TWS tests skip if absent
    ensure_package_on_pythonpath()
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


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` (tuples or Rows, in field order) as a frame of
    ``schema`` (a StructType or a DDL string such as ``"id long, v
    string"``), sent to the JVM as one Arrow table. Its plan is a
    ``LocalRelation`` (above ``spark.sql.execution.arrow.
    localRelationThreshold``, 48 MB by default, an RDD of the Arrow
    batches held in the JVM): building it runs no job, and reading it
    runs no Python worker.

    The one way driver-held rows enter the JVM in this package.
    ``createDataFrame(<Python list>)`` parallelizes a Python RDD that
    PySpark re-serializes through an identity ``map``, so every read of
    such a frame runs a Python-worker stage."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.table(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def pin(df: DataFrame) -> DataFrame:
    """``df`` eagerly local-checkpointed: computed once, its blocks held
    until :func:`release`. Local checkpointing registers the RDD as
    persisted before it is computed, so a computation that fails leaves
    it registered; here it is released before the error propagates."""
    pinned = df.localCheckpoint(eager=False)
    try:
        pinned._jdf.queryExecution().logical().rdd().count()
    except BaseException:
        release(pinned)
        raise
    return pinned


def release(pinned: DataFrame) -> None:
    """Drop the blocks of an eagerly local-checkpointed frame. Its
    logical plan is the LogicalRDD over the checkpointed RDD, which
    stays registered as persisted, blocks held, until it is unpersisted
    here: dropping the Python frame and a JVM GC do not release it.

    The context drops the RDD by id, which is what ``RDD.unpersist``
    does after it logs a "lineage has been truncated" WARN for every
    locally checkpointed RDD; the frame is dead after its release, so
    that warning says nothing here."""
    rdd = pinned._jdf.queryExecution().logical().rdd()
    rdd.context().unpersistRDD(rdd.id(), False)


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label every Spark job started inside the block with ``text`` (the
    ``spark.job.description`` local property, which the status store
    keeps per job), then restore the caller's label. The job group is
    left alone, so a caller that counts its jobs by group still sees
    them all."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def local_path(uri: str) -> str:
    """The local path of a file URI as Spark reports it
    (``input_file_name()``, ``inputFiles()``): ``file:///a%20b/x`` →
    ``/a b/x``. Spark percent-escapes the path, so stripping the scheme
    by hand leaves ``%20`` in a name that does not exist. A bare path
    passes through unchanged."""
    parsed = urlparse(uri)
    if parsed.scheme != "file":
        return uri
    return unquote(parsed.path)
