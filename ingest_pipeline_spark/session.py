"""SparkSession factory.

Local test profile: one JVM, N threads, AQE on, shuffle partitions
sized to cores (not the 200 default), UTC session timezone so results
compare bit-for-bit against the DuckDB oracle.  On a real cluster the
same builder works — only master/memory change; AQE + adaptive
coalescing keep shuffle sizing sane at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable: get_spark sets these, pin_session_conf re-pins them.
_PINNED = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # size shuffles to cores (the 200 default over-parallelizes local runs)
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Harmless for current timestamp[us] testdata (only applies to NANOS
    # columns); kept so older TIMESTAMP(NANOS) testdata still loads — see
    # tables.load_table, which normalizes both shapes.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_DEFAULTS = {  # builder-only keys on top
    **_PINNED,
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # LRU bound on compiled whole-stage/projection classes (default 100).
    # A mixed query sequence cycles through more distinct classes than
    # that, so each class is evicted before its query runs again and
    # re-pays its Janino compile and JIT warm-up.  Measured 2026-10-17
    # (local[4]): one sf0.01 sweep of all 334 queries in one session
    # compiles 5,395 distinct classes.  Memory follows the classes actually
    # cached, not the bound: Metaspace after that sweep is 226 MB, against
    # 186 MB at the default.
    "spark.sql.codegen.cache.maxEntries": "8192",
    # Python workers fork from worker_daemon, which stops each task from
    # re-reading every zip archive on sys.path (see its docstring).  Spark
    # appends executorEnv.PYTHONPATH after its own zips, so workers import
    # the package (and the daemon) whatever the driver's cwd.
    "spark.python.daemon.module": "ingest_pipeline_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def get_spark(app_name: str = "ingest_pipeline_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable defaults to an externally-provided session.

    The correctness driver hands us its own SparkSession; pin _PINNED here
    for oracle parity.  Static keys, the codegen cache bound included,
    cannot be pinned on a session built elsewhere: it keeps its own.
    """
    for k, v in _PINNED.items():
        spark.conf.set(k, v)
    return spark
