"""lineage: the materialization rule (pin), the between-query cleanup and
the bounded collect."""

import pathlib
import threading
import uuid

from pyspark.sql import functions as F

import openseizuredatabase_spark
from openseizuredatabase_spark.lineage import (
    _fits_default,
    bounded_collect,
    drop_persisted,
    pin,
)


def test_small_pinned_frame_is_broadcast_statically(spark):
    small = pin(spark.range(10).withColumnRenamed("id", "k"))
    big = spark.range(10**9).select((F.col("id") % 10).alias("k"))
    plan = big.join(small, "k")._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_self_join_loop_keeps_the_estimate_bounded(spark):
    df = pin(spark.range(40).select(F.col("id").alias("k"), F.lit(1).alias("v")))
    for rnd in range(24):
        other = df.select("k", F.col("v").alias("w"))
        df = pin(df.join(other, "k").select("k", (F.col("v") + F.col("w")).alias("v")))
        assert _fits_default(df), f"round {rnd}"
    assert df.count() == 40


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_pin_runs_no_job_until_read(spark):
    src = spark.range(100).select((F.col("id") * 2).alias("x"))
    pinned, jobs = _jobs_of(spark, lambda: pin(src))
    assert jobs == []
    assert sorted(r.x for r in pinned.collect()) == list(range(0, 200, 2))


def test_bounded_collect_at_and_over_the_cap(spark):
    df = spark.range(5)
    tbl = bounded_collect(df, 5)
    assert sorted(tbl.column("id").to_pylist()) == list(range(5))
    assert bounded_collect(df, 4) is None
    assert bounded_collect(df, -1) is None


def test_drop_persisted_waits_for_the_blocks_to_go(spark):
    pinned = pin(spark.range(1000).select((F.col("id") % 7).alias("x")))
    assert pinned.count() == 1000
    jvm = spark._jvm
    blocks = spark.sparkContext._jsc.sc().env().blockManager()
    rdd_ids = list(spark.sparkContext._jsc.getPersistentRDDs().keys())
    stored = [jvm.org.apache.spark.storage.RDDBlockId(int(i), 0) for i in rdd_ids]
    held = next(b for b in stored if blocks.getStatus(b).isDefined())
    # a read lock held on one stored block stalls its removal, so only a
    # drop that waits for the removal is still running after two seconds
    assert blocks.blockInfoManager().lockForReading(held, True).isDefined()
    done = threading.Event()
    worker = threading.Thread(target=lambda: (drop_persisted(spark), done.set()))
    worker.start()
    try:
        assert not done.wait(2)
    finally:
        blocks.blockInfoManager().unlock(held, jvm.scala.Option.apply(None))
        worker.join(60)
    assert done.is_set()
    assert blocks.getStatus(held).isEmpty()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_no_module_outside_lineage_materializes():
    pkg = pathlib.Path(openseizuredatabase_spark.__file__).parent
    words = (".localCheckpoint(", ".persist(", ".cache()")
    hits = [
        f"{path.relative_to(pkg)}: {w}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "lineage.py"
        for w in words
        if w in path.read_text()
    ]
    assert not hits, hits
