"""Partition-width decisions, in one place.

No other module reads ``spark.sql.shuffle.partitions``,
``spark.sql.files.maxPartitionBytes`` or the core count. The rows rule
(``rows_width``) sizes loops, census coalesces, writes and streaming
state stores by measured rows; the map-spread rules
(``spread_small_scan``, ``spread_cpu_dense``) widen scans narrower than
the cores before CPU-heavy map work, never before a driver gate's
bounded collect. Widths change layout only, never
result membership; the oracle sweep re-verifies every query under them.

``stream_width`` owns every session conf a finite streaming replay
changes: the rows-rule shuffle width and, for a local checkpoint, the
checkpoint file manager.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from openseizuredatabase_spark.sources.tables import local_parquet_files

ROWS_PER_PARTITION = 50_000
CPU_DENSE_SPLIT_BYTES = 262_144
SAMPLE_FILES = 64


def session_width(spark: SparkSession) -> int:
    """The session's shuffle width as the plans have always read it: the
    explicitly set conf, else 32. (The typed getter would give Spark's
    200 on a session that never set the conf.)"""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def cores(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def sink_width(spark: SparkSession) -> int:
    """Range-partition width for sorted file sinks: half the cores."""
    return max(cores(spark) // 2, 1)


def max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` through the typed getter,
    which accepts size strings such as ``"64MB"`` or ``"1m"``."""
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def rows_width(spark: SparkSession, n_rows: int) -> int:
    return max(1, min(session_width(spark), n_rows // ROWS_PER_PARTITION))


def _sampled_sum(paths: list[str], measure) -> int:
    """Sum ``measure`` over at most ``SAMPLE_FILES`` evenly spaced paths,
    extrapolated by file count: a width only needs the magnitude, and
    the probe runs serially on the driver."""
    if len(paths) <= SAMPLE_FILES:
        return sum(measure(p) for p in paths)
    step = len(paths) / SAMPLE_FILES
    sample = [paths[int(i * step)] for i in range(SAMPLE_FILES)]
    return int(sum(measure(p) for p in sample) * (len(paths) / SAMPLE_FILES))


def scan_bytes(df: DataFrame) -> int | None:
    """Approximate input bytes of ``df``'s scan, or None when its files
    are not local (object store, HDFS) or cannot be sized."""
    paths = [p[len("file:"):] if p.startswith("file:") else p for p in df.inputFiles()]
    try:
        return _sampled_sum(paths, os.path.getsize)
    except OSError:
        return None


def spread_small_scan(df: DataFrame, spark: SparkSession, nbytes: int) -> DataFrame:
    """Round-robin a scan of ``nbytes`` (footer metadata, see
    ``tables.table_meta``) to full core width when it would plan fewer
    than 4 splits, before CPU-heavy map work (tokenization, hashing,
    multi-format parsing). A local one-row-group table otherwise runs
    the whole map side on one core; a lake-scale scan is left as is.
    Not for a scan a driver gate collects (``lineage.bounded_collect``):
    there the spread is a shuffle job whose rows all end on the driver;
    spread only on the gate's distributed fallback. Never size from
    ``df.rdd``: it forces a full physical planning and RDD conversion
    per call."""
    target = cores(spark)
    if nbytes >= min(4, target) * max_partition_bytes(spark):
        return df
    return df.repartition(target)


def spread_cpu_dense(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Widen a narrow scan feeding CPU-dense vectorized map passes (Lloyd
    rounds, PQ encode) to one partition per 256 KB of scanned bytes, up
    to the cores. Measured: a blanket full-width spread added 0.5-1.4 s
    to v8/v10/v18/t24 at sf0.1 (near-empty Arrow tasks on every pass),
    while v8 at x100, where one 2.9 MB file fed every pass, went from
    37 s to 18 s. A scan that already plans a full-width split count is
    left as is. Like ``spread_small_scan``, it belongs after a driver
    gate, on the distributed fallback (``ann.kmeans_exact``)."""
    nbytes = scan_bytes(df)
    if nbytes is None:
        return df
    target = cores(spark)
    if nbytes >= target * max_partition_bytes(spark):
        return df
    want = min(target, nbytes // CPU_DENSE_SPLIT_BYTES)
    return df.repartition(want) if want > 1 else df


_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _local_checkpoint(spark: SparkSession) -> bool:
    """Whether a replay's checkpoint lands on the local file system: the
    session's ``checkpointLocation`` (or, unset, the temp dir Spark
    picks) resolved against ``fs.defaultFS`` when it has no scheme."""
    loc = spark.conf.get("spark.sql.streaming.checkpointLocation", None) or "/"
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = hadoop.get("fs.defaultFS", "file:///")
    return (urlparse(loc).scheme or urlparse(default_fs).scheme) == "file"


@contextmanager
def stream_width(spark: SparkSession, sf_dir: str, table: str = "events"):
    """Set every session conf a finite availableNow replay changes, for
    the duration of one run; each is restored on exit, unset again if it
    was unset on entry.

    - ``spark.sql.shuffle.partitions``, and so the streaming state-store
      count, by the rows rule over ``table``'s parquet footers. Every
      stateful operator commits one store per shuffle partition per
      micro-batch: at the session width a small replay paid 32 commits
      x N operators of pure file latency per batch (s23: 58-95 s of
      summed commit time against ~66k state rows). A non-local table
      keeps the session width, the conf-driven production value.
    - ``spark.sql.streaming.checkpointFileManagerClass`` to
      ``FileSystemBasedCheckpointFileManager``, only when the checkpoint
      is local (``_local_checkpoint``): the default FileContext manager
      forks ``readlink`` on each checkpoint rename where the JVM has no
      libhadoop (``streaming.replay.replay_to_memory`` has the counts),
      and on a shared store its atomic rename keeps the checkpoint safe."""
    import pyarrow.parquet as pq

    confs = {}
    files = local_parquet_files(os.path.join(sf_dir, f"{table}.parquet"))
    if files is not None:
        n = _sampled_sum(files, lambda f: pq.ParquetFile(f).metadata.num_rows)
        confs["spark.sql.shuffle.partitions"] = str(rows_width(spark, n))
    if _local_checkpoint(spark):
        confs[_CKPT_MANAGER] = _FS_CKPT_MANAGER
    # None when a conf was never set: a vanilla session gets it unset
    # again, not an explicit default
    before = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in before.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
