"""Lineage pinning for iterative DataFrame algorithms.

``pin`` is ``DataFrame.localCheckpoint(eager=False)`` plus one crucial
difference: the returned frame does NOT carry the origin plan's
statistics.

Why that matters: ``Dataset.localCheckpoint`` wraps the checkpointed RDD
in a ``LogicalRDD`` that preserves the child plan's estimated
``sizeInBytes`` (a ``BigInt``). Join size estimation multiplies the two
sides' estimates, so a loop of the shape

    labels = step(labels).localCheckpoint()      # step contains a join

SQUARES the carried estimate every round. The number itself compounds
across checkpoints — after N rounds the estimate is a
``~2^N``-digit ``BigInteger``, and Catalyst's size arithmetic
(``BigInteger.multiply`` → Toom-Cook) starts costing SECONDS of driver
CPU per planning pass. Measured on the v15 DBSCAN component loop: round
9's planning took 59 s and rounds grew ~2.5× each — a pure
driver-side statistics artifact while the actual data was 2k rows
(diagnosed per guide §7.3 with driver thread dumps:
``java.math.BigInteger.multiplyToomCook3`` burning a whole core).

``pin`` rebuilds the frame from the checkpointed RDD via
``internalCreateDataFrame``, whose ``LogicalRDD`` has no origin stats —
the estimate resets to ``spark.sql.defaultSizeInBytes`` every round, so
planning cost stays constant regardless of iteration count. The cost:
a pinned frame is never auto-broadcast from STATIC estimates (the
default is conservative-huge). Inside the iterative operators every
deliberately-broadcast side already carries an explicit
``F.broadcast``/hint, and AQE still converts shuffle joins to broadcast
at runtime from REAL sizes, so nothing regresses at any scale.

The materialization semantics are identical to a lazy localCheckpoint:
nothing runs at call time; the first action computes and persists the
RDD (including ``Dataset.localCheckpoint``'s defensive per-row copy —
building from ``queryExecution.toRdd`` directly would capture Spark's
REUSED UnsafeRow buffers and corrupt the persisted blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage (lazy local checkpoint) and DROP the
    origin plan's statistics so iterative loops can't compound them."""
    spark = df.sparkSession
    jdf_ck = df._jdf.localCheckpoint(False)
    rdd = jdf_ck.queryExecution().toRdd()
    jdf = spark._jsparkSession.internalCreateDataFrame(
        rdd, df._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


def bounded_collect(df: DataFrame, max_rows: int):
    """``df``'s rows as a ``pyarrow.Table`` when it holds at most
    ``max_rows`` rows, else ``None`` — one ``limit(max_rows + 1)`` job,
    so the driver never holds more than the cap plus one row whatever
    the input's size, and no separate count job runs. ``max_rows=-1``
    always answers ``None``.

    Arrow keeps the worker-side shape: ``to_pandas()`` gives the batch a
    ``mapInPandas`` function sees, ``column(c).to_pylist()`` exact Python
    values (ints, strings) as ``collect()`` would."""
    tbl = df.limit(max_rows + 1).toArrow()
    return tbl if tbl.num_rows <= max_rows else None
