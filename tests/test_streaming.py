"""Streaming-mode tests: drive the streaming operators to completion with
a file source + memory sink (processAllAvailable), and check parity with
the batch implementations."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openseizuredatabase_spark.detection.osd_alg import (
    OsdSettings,
    run_state_machine,
)
from openseizuredatabase_spark.streaming.sessionize import (
    session_clusters,
    streaming_alarm_machine,
    windowed_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("flag", T.BooleanType()),
    ]
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in (1, 2):
        # 4 dps 5s apart (one session), a 2-min hole, then 2 more
        for i in range(4):
            rows.append(Row(user_id=u, ts=base + dt.timedelta(seconds=5 * i), flag=True))
        for i in range(2):
            rows.append(
                Row(user_id=u, ts=base + dt.timedelta(seconds=140 + 5 * i), flag=False)
            )
    path = str(tmp_path_factory.mktemp("stream"))
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(path)
    return path


def _run_to_memory(df, name, mode="append"):
    # aggregations use "complete": with a finite replay nothing advances
    # the watermark past the last window, so append would emit nothing
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_session_clusters_stream(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = session_clusters(stream, "ts", ["user_id"], gap="60 seconds")
    _run_to_memory(out, "sessions", "complete")
    rows = spark.sql("SELECT * FROM sessions").collect()
    # per user: one 4-dp session and one 2-dp session
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.n)
    assert {u: sorted(v) for u, v in per_user.items()} == {1: [2, 4], 2: [2, 4]}


def test_windowed_counts_stream(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = windowed_counts(stream, "ts", ["user_id"], window_duration="3 minutes")
    _run_to_memory(out, "windows", "complete")
    rows = spark.sql("SELECT * FROM windows ORDER BY user_id, bucket_start").collect()
    # all 6 dps per user fall in the single 00:00-00:03 bucket
    assert [(r.user_id, r.n) for r in rows] == [(1, 6), (2, 6)]


def test_sliding_counts_overlap(spark, stream_dir):
    from openseizuredatabase_spark.streaming.sessionize import sliding_counts

    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = sliding_counts(
        stream, "ts", ["user_id"], window_duration="2 minutes", slide="1 minute"
    )
    _run_to_memory(out, "sliding", "complete")
    rows = spark.sql(
        "SELECT * FROM sliding ORDER BY user_id, bucket_start"
    ).collect()
    # per user: 4 dps in minute 0 (00:00-00:20), 2 dps in minute 2
    # (02:20-02:25). 2-min windows sliding 1 min → window starting at
    # -1 min sees the first 4; 00:00 sees 4; 01:00 sees the later 2;
    # 02:00 sees the later 2. Every event appears in exactly 2 windows.
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.n)
    assert {u: sorted(v) for u, v in per_user.items()} == {
        1: [2, 2, 4, 4],
        2: [2, 2, 4, 4],
    }
    assert sum(n for v in per_user.values() for n in v) == 2 * 12


def test_streaming_alarm_machine_matches_batch(spark, stream_dir):
    settings = OsdSettings(sample_period=5, warn_time=5, alarm_time=10)
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = streaming_alarm_machine(stream, "user_id", "ts", "flag", settings)
    _run_to_memory(out, "alarms")
    got = {
        (r.user_id, r.ts): (r.alarmState, r.alarmCount)
        for r in spark.sql("SELECT * FROM alarms").collect()
    }
    batch_df = spark.read.parquet(stream_dir).withColumn("rid", F.monotonically_increasing_id())
    batch_out = run_state_machine(batch_df, ["user_id"], "ts", "flag", "rid", settings)
    joined = batch_df.select("user_id", "ts", "rid").join(batch_out, ["user_id", "rid"])
    expect = {
        (r.user_id, r.ts): (r.alarmState, r.alarmCount) for r in joined.collect()
    }
    assert got == expect
    # and the machine actually walked to ALARM on the 4-dp run
    states = [got[(1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=5 * i))][0] for i in range(4)]
    assert states == [0, 1, 2, 2]


def test_watermark_emission_contract(spark, tmp_path_factory):
    """Watermark gates emission, not input (pinned by s12): append mode
    emits a window exactly once when the watermark passes its end; rows
    older than the watermark still aggregate into a transient window
    (Spark's drop guarantee is one-sided); open windows are withheld."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base_us = 1735689600_000_000  # 2025-01-01T00:00:00Z

    def frame(rows):
        return pa.table(
            {
                "event_id": pa.array([i for i, _ in rows], pa.int64()),
                "ts": pa.array([t for _, t in rows], pa.timestamp("us", tz="UTC")),
                "event_type": pa.array(["replay"] * len(rows), pa.string()),
            }
        )

    d = str(tmp_path_factory.mktemp("late"))
    f1, f2 = os.path.join(d, "b1.parquet"), os.path.join(d, "b2.parquet")
    pq.write_table(
        frame([(i, base_us + 2 * 3600_000_000 + i * 60_000_000) for i in range(30)]),
        f1,
    )
    pq.write_table(
        frame(
            [(i, base_us) for i in range(30, 40)]
            + [(i, base_us + 3 * 3600_000_000 + i * 60_000_000) for i in range(40, 60)]
        ),
        f2,
    )
    os.utime(f1, (1_000_000, 1_000_000))
    os.utime(f2, (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = windowed_counts(
        stream, "ts", ["event_type"], window_duration="1 hour", watermark="30 minutes"
    )
    emissions = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: emissions.append(
                sorted((str(r.bucket_start), r.n) for r in df.collect())
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # batch0 (on-time file): nothing closed yet -> no emission
    assert emissions[0] == []
    # batch1 (late + on-time file): the late rows' transient window is
    # finalized immediately (watermark already past its end)
    assert emissions[1] == [("2025-01-01 00:00:00", 10)]
    # batch2 (no-data finalization): 02:00 closes; 03:00 stays open forever
    assert emissions[2] == [("2025-01-01 02:00:00", 30)]
    assert len(emissions) == 3


def test_paced_replay_emits_in_order(spark):
    # W11: rate-source clock × static join releases dps in time order
    import datetime
    import time

    from openseizuredatabase_spark.streaming.sessionize import paced_replay

    base = datetime.datetime(2024, 1, 1)
    dps = spark.createDataFrame(
        [(i, base + datetime.timedelta(seconds=5 * i)) for i in range(20)],
        "dp_id long, dpTimestamp timestamp",
    )
    out = paced_replay(spark, dps, rows_per_second=50)
    q = (
        out.writeStream.format("memory")
        .queryName("replay_test")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT dp_id, __idx FROM replay_test ORDER BY __idx"
            ).collect()
            if len(rows) >= 20:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 20
    # replay preserves the time order: dp_id == __idx by construction
    assert [r["dp_id"] for r in rows[:20]] == list(range(20))


def test_paced_replay_subhertz_period(spark):
    # 0.5 Hz -> 1 Hz ticks, every 2nd released: the plan must gate on
    # value % period and scale the index join
    from openseizuredatabase_spark.streaming.sessionize import paced_replay

    dps = spark.createDataFrame(
        [(1, None)], "dp_id long, dpTimestamp timestamp"
    ).limit(0)
    out = paced_replay(spark, dps, rows_per_second=0.2)
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "% 5" in plan or "% cast(5" in plan


def test_dp_model_detector_streaming_parity(spark, tmp_path_factory):
    """The per-dp model family streams: the scoring stage is stateless
    (pandas_udf per micro-batch), only the machine carries state — so a
    live stream through score + streaming_alarm_machine must equal the
    batch run_dp_model_alg replay row-for-row."""
    import numpy as np
    import pandas as pd

    from openseizuredatabase_spark.detection.dp_model_algs import (
        DpModelSettings,
        default_dp_score,
        run_dp_model_alg,
        svm_vectorize,
    )

    s = DpModelSettings(n_samp=25)
    score = default_dp_score(s.n_samp, bias=-0.55)

    rows = []
    for eid in (1, 2):
        for i in range(5):
            amp = 800.0 if (eid == 1 and i < 3) else 0.0
            sig = [1000.0 + amp * ((-1) ** n) for n in range(25)]
            rows.append((eid, dt.datetime(2024, 1, 1, 0, 0, 5 * i), sig))
    df = spark.createDataFrame(
        rows, "eventId long, dpTimestamp timestamp, rawData array<double>"
    )
    sdir = str(tmp_path_factory.mktemp("dpstream"))
    df.write.mode("overwrite").parquet(sdir)

    # batch reference
    batch = {
        (r["eventId"], r["dpTimestamp"]): (r["alarmState"], r["alarmCount"])
        for r in run_dp_model_alg(df, svm_vectorize(s), score, s).collect()
    }

    # streaming: stateless score -> boolean flag -> stateful machine
    @F.pandas_udf("double")
    def p_seizure(sigs: pd.Series) -> pd.Series:
        mat, valid = svm_vectorize(s)(sigs, pd.Series([None] * len(sigs)))
        probs = np.zeros(len(sigs))
        if valid.any():
            probs[valid] = score(mat[valid])
        return pd.Series(np.where(valid, probs, 0.0))

    stream = (
        spark.readStream.schema(
            "eventId long, dpTimestamp timestamp, rawData array<double>"
        )
        .parquet(sdir)
        .withColumn("flag", p_seizure(F.col("rawData")) > s.prob_thresh)
    )
    out = streaming_alarm_machine(
        stream, "eventId", "dpTimestamp",
        "flag", OsdSettings(sample_period=5, warn_time=5, alarm_time=10),
    )
    _run_to_memory(out, "dp_alarms")
    got = {
        (r["eventId"], r["dpTimestamp"]): (r["alarmState"], r["alarmCount"])
        for r in spark.sql("SELECT * FROM dp_alarms").collect()
    }
    assert got == batch
    assert max(st for st, _ in got.values()) == 2  # event 1 alarms


def test_streaming_distinct_matches_batch_and_bounds_state(spark, tmp_path):
    """s13 shape: dropDuplicatesWithinWatermark emission equals batch
    DISTINCT for a single availableNow replay."""
    import pandas as pd

    from openseizuredatabase_spark.streaming.sessionize import (
        streaming_distinct,
    )

    sdir = str(tmp_path / "dedup_src")
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 2, 2, 3, 1],
            "grp": ["a", "a", "b", "b", "a", "a"],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",
                    "2024-01-01 00:00:30",
                    "2024-01-01 00:01:00",
                    "2024-01-01 00:09:00",
                    "2024-01-01 00:02:00",
                    "2024-01-01 00:03:00",
                ]
            ),
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema("k long, grp string, ts timestamp").parquet(
        sdir
    )
    out = streaming_distinct(stream, "ts", ["k", "grp"])
    _run_to_memory(out, "s13_dedup_t")
    got = {
        (r["k"], r["grp"])
        for r in spark.sql("SELECT * FROM s13_dedup_t").collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "a")}


def test_stream_interval_join_pairs(spark, tmp_path):
    """stream_interval_join emits exactly the batch interval-join pairs:
    right rows within [left.ts − lookback, left.ts] per key, and the
    inner-join output is complete under availableNow."""
    import pandas as pd

    from openseizuredatabase_spark.streaming.sessionize import (
        stream_interval_join,
    )

    sdir = str(tmp_path / "sij")
    pdf = pd.DataFrame(
        {
            "key": [1, 1, 1, 2, 2],
            "kind": ["L", "R", "R", "L", "R"],
            "eid": [10, 20, 21, 11, 22],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 01:00:00",  # L key1
                    "2024-01-01 00:58:00",  # R in window
                    "2024-01-01 00:40:00",  # R outside 5-min lookback
                    "2024-01-01 02:00:00",  # L key2
                    "2024-01-01 02:00:00",  # R exactly at L.ts (inclusive)
                ]
            ),
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema(
        "key long, kind string, eid long, ts timestamp"
    ).parquet(sdir)
    left = stream.filter(F.col("kind") == "L").select(
        "key", F.col("eid").alias("l_eid"), F.col("ts").alias("l_ts")
    )
    right = stream.filter(F.col("kind") == "R").select(
        "key", F.col("eid").alias("r_eid"), F.col("ts").alias("r_ts")
    )
    out = stream_interval_join(
        left, right, "key", "l_ts", "r_ts", lookback="5 minutes"
    ).select("l_eid", "r_eid")
    _run_to_memory(out, "sij_t")
    got = {
        (r["l_eid"], r["r_eid"])
        for r in spark.sql("SELECT * FROM sij_t").collect()
    }
    assert got == {(10, 20), (11, 22)}


def test_alarm_machine_checkpoint_kill_resume(spark, tmp_path_factory):
    """Crash-recovery proof for the stateful alarm machine: run HALF the
    stream against a checkpoint, stop the query (the 'kill'), land more
    data, restart from the same checkpoint, and assert the final
    emission is identical to a single batch pass over everything. If
    restart lost the per-key (alarmState, alarmCount) state, the
    second half would re-walk from IDLE and the escalation sequence
    would diverge; if offset tracking failed, rows would duplicate or
    vanish from the exactly-once file sink."""
    base = dt.datetime(2024, 1, 1)
    settings = OsdSettings(sample_period=5, warn_time=5, alarm_time=10)
    in_dir = tmp_path_factory.mktemp("ckpt_in")
    out_dir = str(tmp_path_factory.mktemp("ckpt_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_state"))

    # first half ends MID-ESCALATION: two True flags leave user 1 at
    # WARN (count=10) — the resumed half must continue to ALARM
    first = [
        Row(user_id=u, ts=base + dt.timedelta(seconds=5 * i), flag=True)
        for u in (1, 2)
        for i in range(2)
    ]
    second = [
        Row(user_id=u, ts=base + dt.timedelta(seconds=5 * i), flag=f)
        for u in (1, 2)
        for i, f in [(2, True), (3, True), (4, False), (5, False)]
    ]
    spark.createDataFrame(first, SCHEMA).write.parquet(
        str(in_dir), mode="append"
    )

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(str(in_dir))
        out = streaming_alarm_machine(
            stream, "user_id", "ts", "flag", settings
        )
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()  # half 1
    got_half = {
        (r.user_id, r.ts): (r.alarmState, r.alarmCount)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert len(got_half) == 4  # only the first half emitted so far

    spark.createDataFrame(second, SCHEMA).write.parquet(
        str(in_dir), mode="append"
    )
    run_once()  # restart from the same checkpoint

    got = {
        (r.user_id, r.ts): (r.alarmState, r.alarmCount)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert len(got) == 12  # exactly-once: 4 + 8, no dup, no loss

    all_df = spark.createDataFrame(first + second, SCHEMA).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    batch_out = run_state_machine(
        all_df, ["user_id"], "ts", "flag", "rid", settings
    )
    expect = {
        (r.user_id, r.ts): (r.alarmState, r.alarmCount)
        for r in all_df.select("user_id", "ts", "rid")
        .join(batch_out, ["user_id", "rid"])
        .collect()
    }
    assert got == expect
    # the resumed run continued the escalation: WARN at t=5 (from half
    # 1's state) then ALARM at t=10 — impossible if state restarted
    states = [
        got[(1, base + dt.timedelta(seconds=5 * i))][0] for i in range(6)
    ]
    assert states == [0, 1, 2, 2, 1, 0]


def test_session_window_matches_gap_islands(spark, tmp_path_factory):
    """Native session_window streaming aggregation must agree with the
    hand-rolled gap-and-islands batch sessionization (d2's rule) on
    the same data — merge-on-overlap, end = last event + gap."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u, offsets in ((1, [0, 30, 70, 400, 430]), (2, [10, 500])):
        rows.extend(
            Row(user_id=u, ts=base + dt.timedelta(seconds=s), flag=True)
            for s in offsets
        )
    path = str(tmp_path_factory.mktemp("sessw"))
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "120 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_to_memory(agg, "sessw", mode="complete")
    got = sorted(
        (r.user_id, r.session_window.start, r.session_window.end, r.n)
        for r in spark.sql("SELECT * FROM sessw").collect()
    )
    td = dt.timedelta
    assert got == [
        (1, base, base + td(seconds=190), 3),
        (1, base + td(seconds=400), base + td(seconds=550), 2),
        (2, base + td(seconds=10), base + td(seconds=130), 1),
        (2, base + td(seconds=500), base + td(seconds=620), 1),
    ]


STREAMING_QUERIES = [
    "s10_streaming_sessionize",
    "s11_streaming_tumbling",
    "s12_streaming_late_data",
    "s13_streaming_dedup",
    "s15_streaming_detector",
    "s16_streaming_interval_join",
    "s17_streaming_sliding",
    "s18_streaming_enrichment",
    "s19_streaming_temporal_join",
    "s20_streaming_session_window",
    "s22_stream_upsert",
    "s23_stream_outer_join",
    "s24_streaming_osd_detector",
    "s25_streaming_merge_grouping",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    from openseizuredatabase_spark.plans.oracle_check import _duckdb_conn

    return _duckdb_conn(sf_dir)


@pytest.mark.parametrize("confs", ["replay_context", "session_defaults"])
@pytest.mark.parametrize("name", STREAMING_QUERIES)
def test_streaming_oracle_with_and_without_replay_context(
    spark, sf_dir, oracle_con, monkeypatch, name, confs
):
    """The replay context changes layout and checkpoint I/O only: every
    streaming query matches its oracle under it and under the session's
    own confs. Either way the replay leaves no temp view behind (the
    returned frame is collected after its sink's view is dropped) and no
    session conf changed."""
    import contextlib

    from openseizuredatabase_spark.plans import q_relational
    from openseizuredatabase_spark.plans.oracle_check import compare_query
    from openseizuredatabase_spark.plans.registry import QUERIES
    from openseizuredatabase_spark.sources import width
    from openseizuredatabase_spark.streaming import replay

    if confs == "session_defaults":
        for mod in (replay, q_relational):
            monkeypatch.setattr(
                mod, "stream_width", lambda *a, **k: contextlib.nullcontext()
            )
    keys = ("spark.sql.shuffle.partitions", width._CKPT_MANAGER)
    conf_before = {k: spark.conf.get(k, None) for k in keys}
    views_before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    ok, msg = compare_query(spark, oracle_con, QUERIES[name], sf_dir)
    assert ok, f"{name} ({confs}): {msg}"
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views_before
    assert {k: spark.conf.get(k, None) for k in keys} == conf_before
