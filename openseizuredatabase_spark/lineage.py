"""The engine's one materialization rule.

Every intermediate frame the package reuses — a loop's per-round state,
a narrow proxy read by several branches, an expensive decode read twice
— is materialized with :func:`pin`, and nothing else in the package
calls ``localCheckpoint``, ``persist`` or ``cache``
(``tests/test_lineage.py`` scans the sources for it).

``pin(df)`` is the lazy ``df.localCheckpoint(False)`` with one
statistics rule: the pinned frame keeps the size estimate the
checkpoint carries when that estimate is at most
``spark.sql.defaultSizeInBytes``; otherwise it is rebuilt without
statistics and the planner falls back to that default.

Why both halves matter:

* ``Dataset.localCheckpoint`` wraps the checkpointed RDD in a
  ``LogicalRDD`` that keeps the origin plan's estimated ``sizeInBytes``
  (a ``BigInt``). Join estimation multiplies the two sides' estimates,
  so a loop of the shape ``labels = step(labels).localCheckpoint()``
  (``step`` contains a join) SQUARES the carried estimate every round:
  after N rounds it is a ~2^N-digit ``BigInteger`` and Catalyst's size
  arithmetic (``BigInteger.multiplyToomCook3``, seen in driver thread
  dumps) costs seconds per planning pass. On the v15 DBSCAN component
  loop round 9's planning took 59 s. In a 24-round self-join loop on
  Spark 4.1.2 the raw estimate grew from 22 to 169, 1,344 and 10,745
  bits by round 9, and py4j raised ``ValueError`` converting it to a
  Python ``int`` — so :func:`pin` compares it as JVM-formatted digits.
  Above the default the estimate carries no information the default
  does not (the default is the planner's "unknown, huge"), so resetting
  it loses nothing and keeps every round's planning cost constant.
* Dropping EVERY estimate (this module's earlier rule) also drops the
  static broadcast of small pinned frames: routing the raw checkpoints
  through it slowed p10, t18, t35 and t45 by 20–30 % at sf0.1 and
  added jobs and stages to a19, t5 and t42. Keeping the small estimates
  plans those joins exactly as the raw checkpoints did, and re-enables
  the static broadcast at the former stat-dropping sites (j13: 20 → 14
  jobs; t36: 19 → 14).

A pin is lazy: it computes and stores its blocks in the first action
that reads it, inside that action's own job, and runs no job of its
own — unless its plan holds an exchange: under AQE, building the
checkpoint's RDD runs the adaptive plan's query stages, so a pinned
``repartition`` costs one job when the pin is built. On Spark 4.1.2
(sf0.1, ``local[4]``) the twelve sites that once
pinned eagerly, for an AQE cache-lock race seen on an older Spark, ran
fewer jobs lazily at equal or lower median time — m46–m54's media
fingerprints one job fewer each; with the caps at -1, v5/v6/v8 one
fewer, v10 three and v15's distributed DBSCAN two or three.

:func:`drop_persisted` is the between-query counterpart: a long-lived
harness session frees completed queries' pinned blocks with it, and it
blocks until they are gone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def pin(df: DataFrame) -> DataFrame:
    """The lazy ``df.localCheckpoint(False)`` whose size estimate is kept
    when it is at most ``spark.sql.defaultSizeInBytes`` and reset to
    that default otherwise, so iterative loops cannot compound it."""
    spark = df.sparkSession
    ck = df.localCheckpoint(False)
    if _fits_default(ck):
        return ck
    # rebuild from the checkpointed RDD: its LogicalRDD has no origin
    # stats. The RDD is Dataset.localCheckpoint's defensively copied one
    # — building from the origin's queryExecution.toRdd would capture
    # Spark's REUSED UnsafeRow buffers and corrupt the persisted blocks
    jdf = spark._jsparkSession.internalCreateDataFrame(
        ck._jdf.queryExecution().toRdd(), df._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


def _fits_default(df: DataFrame) -> bool:
    """Whether ``df``'s planner size estimate is at most
    ``spark.sql.defaultSizeInBytes``. The estimate is compared as the
    decimal digits the JVM formats: ``stats().sizeInBytes()`` would hand
    the ``BigInt`` to Python through ``int(str)``, which refuses more
    than 4,300 digits — a compounded loop estimate passes that within
    ten rounds."""
    limit = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    digits = stats.productIterator().take(1).mkString()  # sizeInBytes
    return len(digits) <= len(str(limit)) and int(digits) <= limit


def drop_persisted(spark: SparkSession) -> None:
    """Unpersist every persisted RDD of ``spark``'s context and wait for
    the blocks to go. ``JavaRDD.unpersist()`` without an argument does
    not wait (``RDD.unpersist``'s ``blocking`` defaults to false in
    Spark 4.1.2), which lands the block removal in the next timed
    window."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


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
