"""The one writer path for a finite streaming replay: an availableNow run
into a memory sink, read back as a batch frame."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from openseizuredatabase_spark.sources.width import stream_width


def replay_to_memory(
    spark: SparkSession, sf_dir: str, out: DataFrame, mode: str
) -> DataFrame:
    """Run the streaming frame ``out`` once over everything available
    (``trigger(availableNow=True)``) into a memory sink in output mode
    ``mode``, and return the sink as a resolved batch frame.

    The run happens under ``width.stream_width``, which sets the rows-rule
    shuffle width and, when the checkpoint is local (no
    ``spark.sql.streaming.checkpointLocation``, or one whose scheme, or
    else ``fs.defaultFS``'s, is ``file``), the
    ``FileSystemBasedCheckpointFileManager``. Spark's default FileContext
    manager resolves symlinks on each checkpoint rename, and where the
    JVM has no libhadoop, Hadoop does that by forking ``readlink``. JFR
    ``jdk.ProcessStart`` counts per run at sf0.1 (``tools/profile_query.py``
    ``proc_starts``) went from 110 to 30 for s17 (80 ``readlink``), from
    462 to 110 for s23 (352 ``readlink``) and, for s22's
    ``foreachBatch`` run under the same context, from 156 to 75; each
    fork costs 3-4 ms. The ``chmod`` forks that remain come from
    ``RawLocalFileSystem`` setting file permissions. A shared checkpoint
    (HDFS and the like) keeps the FileContext manager, whose atomic
    rename is what makes it safe.

    The sink's temp view is dropped before returning: the returned frame
    holds the resolved sink plan, so it still collects and derives new
    frames, and no view outlives the replay holding its rows."""
    name = f"replay_{uuid.uuid4().hex}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df
