"""SparkSession factory tuned for this engine.

Local mode is a correctness/test environment; the config mirrors what we
would deploy on a large cluster (AQE on, skew-join handling, Arrow on,
UTC session timezone so timestamp semantics match the DuckDB oracle and
are stable across clusters). Python workers run the engine's own daemon
(``pydaemon``), which stops each UDF task re-reading ``pyspark.zip``'s
index, and find the package through ``spark.executorEnv.PYTHONPATH``
whatever the driver's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this package, for Python workers' import path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the number of CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))


def get_spark(app_name: str = "openseizuredatabase_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``default_cpus()``. On a real cluster the
    master/memory settings come from spark-submit; everything set here is
    safe to keep.
    """
    if cpus is None:
        cpus = default_cpus()
    shuffle_parts = max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamp[us] without isAdjustedToUTC would otherwise read
        # as TIMESTAMP_NTZ (Spark 4 default), which rejects cast-to-double /
        # unix_micros and diverges from DuckDB's naive-as-UTC reading. With
        # a UTC session, LTZ inference makes both engines see identical
        # instants regardless of how the writer flagged the column.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "openseizuredatabase_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
