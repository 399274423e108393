"""End-to-end pipeline tests: curator ETL and the training sequence."""

import datetime as dt
import glob
import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openseizuredatabase_spark.pipelines.curator import (
    CuratorConfig,
    curate,
    run_curator,
)
from openseizuredatabase_spark.pipelines.training import (
    TrainConfig,
    run_training_pipeline,
)


@pytest.fixture(scope="module")
def curated_input(spark):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    # three raw alarms within 3 min for user 1 (one tagged, one ALARM)
    rows.append(Row(id=1, userId="1", type="Seizure", subType="TC",
                    desc="", osdAlarmState=1, dataSourceName="Garmin",
                    dataTime="2024-01-01 10:00:00",
                    eventTimestamp=base))
    rows.append(Row(id=2, userId="1", type="Seizure", subType="TC",
                    desc="real one", osdAlarmState=2, dataSourceName="Garmin",
                    dataTime="2024-01-01 10:01:00",
                    eventTimestamp=base + dt.timedelta(minutes=1)))
    rows.append(Row(id=3, userId="1", type="Seizure", subType="TC",
                    desc="tagged", osdAlarmState=0, dataSourceName="Garmin",
                    dataTime="2024-01-01 10:02:00",
                    eventTimestamp=base + dt.timedelta(minutes=2)))
    # a 'test' event to be dropped (F5)
    rows.append(Row(id=4, userId="2", type="Seizure", subType=None,
                    desc="just a test", osdAlarmState=2, dataSourceName="Garmin",
                    dataTime="2024-01-01 11:00:00",
                    eventTimestamp=base + dt.timedelta(hours=1)))
    # an invalid id (F7) and an untagged warning (F3)
    rows.append(Row(id=5, userId="3", type="False Alarm", subType=None,
                    desc="fa", osdAlarmState=0, dataSourceName="Phone",
                    dataTime="2024-01-01 12:00:00",
                    eventTimestamp=base + dt.timedelta(hours=2)))
    rows.append(Row(id=6, userId="3", type="Unknown", subType=None,
                    desc=None, osdAlarmState=1, dataSourceName="Phone",
                    dataTime="2024-01-01 12:30:00",
                    eventTimestamp=base + dt.timedelta(hours=2, minutes=30)))
    return spark.createDataFrame(rows)


def test_curate_semantics(curated_input):
    cfg = CuratorConfig(invalid_events=(5,))
    out = curate(curated_input, cfg)
    ids = {r.id: r for r in out.collect()}
    # user-1 bucket collapses to the ALARM row (id=2), not first row
    assert 2 in ids and 1 not in ids and 3 not in ids
    assert ids[2].n_rows == 3
    # 'test' desc dropped, invalid id dropped, untagged warning dropped
    assert 4 not in ids and 5 not in ids and 6 not in ids
    assert ids[2].category == "allSeizures"


def test_run_curator_writes_lake_and_index(curated_input, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("cur") / "lake")
    idx = str(tmp_path_factory.mktemp("cur") / "index")
    out = run_curator(curated_input, CuratorConfig(invalid_events=(5,)), lake, idx)
    assert out.count() == 1
    assert glob.glob(os.path.join(lake, "category=allSeizures", "event_date=2024-01-01", "*.parquet"))
    assert glob.glob(os.path.join(idx, "part-*.csv"))


@pytest.fixture(scope="module")
def training_input(spark):
    """8 labeled events: seizures shake at 5 Hz, false alarms at 0.5 Hz."""
    t = np.arange(125) / 25.0
    base = dt.datetime(2024, 1, 1)
    rows = []
    for eid in range(8):
        seiz = eid % 2 == 0
        freq, amp = (5.0, 500.0) if seiz else (0.5, 40.0)
        rng = np.random.default_rng(eid)
        for k in range(4):
            sig = 1000 + amp * np.sin(2 * np.pi * freq * t) + rng.normal(0, 5, 125)
            rows.append(
                Row(
                    eventId=eid,
                    type="Seizure" if seiz else "False Alarm",
                    dpTimestamp=base + dt.timedelta(minutes=10 * eid, seconds=5 * k),
                    rawData=[float(v) for v in sig],
                    hr=80.0,
                )
            )
    return spark.createDataFrame(rows)


def test_training_pipeline_learns_separable_data(training_input):
    model, metrics = run_training_pipeline(
        training_input, TrainConfig(test_fold=0, n_folds=4, epochs=80, lr=0.5)
    )
    m = metrics.collect()[0]
    # folds 1-3 train, fold 0 (events 0,4 → one seizure... and 4) tests;
    # the classes are linearly separable in the chosen features
    assert m.ntp + m.nfp + m.ntn + m.nfn == 2  # events 0 and 4 in fold 0
    assert m.nfp == 0 and m.nfn == 0


def test_training_pipeline_leaves_no_cached_frame(spark, training_input):
    spark.catalog.clearCache()
    model, metrics = run_training_pipeline(
        training_input, TrainConfig(test_fold=0, n_folds=4, epochs=2, lr=0.5)
    )
    metrics.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
