"""Statistical-test and distribution-diagnostic queries (N*).

Split out of plans/registry.py (round 6); statements moved verbatim.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openseizuredatabase_spark.operators import aggregates as agg_ops
from openseizuredatabase_spark.operators import dedup as dedup_ops
from openseizuredatabase_spark.operators import filters as filter_ops
from openseizuredatabase_spark.operators import joins as join_ops
from openseizuredatabase_spark.operators import splits as split_ops
from openseizuredatabase_spark.operators import windows as window_ops
from openseizuredatabase_spark.functions.literal import literal_df, rows_frame
from openseizuredatabase_spark.lineage import bounded_collect, pin
from openseizuredatabase_spark.functions import text as text_fns
from openseizuredatabase_spark.functions.text import bpe_token_count_sql
from openseizuredatabase_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
    seeded_md5_long,
    seeded_md5_long_sql,
)
from openseizuredatabase_spark.sources.lake import morton_sql
from openseizuredatabase_spark.sources import tables
from openseizuredatabase_spark.sources.tables import load_table, table_meta
from openseizuredatabase_spark.streaming.replay import replay_to_memory

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)
from openseizuredatabase_spark.plans.q_shared import (  # noqa: F401
    _N3_P,
)



@query(
    "n1_dp_detector",
    """
    WITH RECURSIVE scored AS (
        SELECT user_id, value, (value > 150.5) AS flag,
               1.0 / (1.0 + exp(-(value - 150.5))) AS p,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts
               ) AS rn
        FROM events
    ), steps AS (
        SELECT user_id, rn, 0 AS state,
               CASE WHEN flag THEN 5.0 ELSE 0.0 END::DOUBLE AS cnt
        FROM scored WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn,
               CASE WHEN o.flag THEN
                        CASE WHEN s.cnt + 5.0 > 10.0 THEN 2
                             WHEN s.cnt + 5.0 > 5.0 THEN 1
                             ELSE s.state END
                    ELSE CASE WHEN s.state = 2 THEN 1 ELSE 0 END
               END AS state,
               CASE WHEN o.flag THEN s.cnt + 5.0
                    ELSE CASE WHEN s.state = 2 THEN 5.0 ELSE 0.0 END
               END AS cnt
        FROM steps s
        JOIN scored o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    ), machine AS (
        SELECT user_id,
               count(*) FILTER (WHERE state = 2) AS n_alarm_dps,
               count(*) FILTER (WHERE state = 1) AS n_warn_dps
        FROM steps GROUP BY user_id
    ), probs AS (
        SELECT user_id, count(*) AS n_dps, round(sum(p), 2) AS p_sum
        FROM scored GROUP BY user_id
    )
    SELECT p.user_id, p.n_dps, m.n_alarm_dps, m.n_warn_dps, p.p_sum
    FROM probs p JOIN machine m USING (user_id)
    """,
    "Per-dp model detector family (svmAlg.py:44-98 scaffold, shared by "
    "amber/jamie1): windows synthesized per event row, stacked and scored "
    "with ONE LinearModel batch call inside the per-key Arrow batch, "
    "then the accumulate/decay machine. Model chosen for cross-engine "
    "exactness: weight 1.0 on x[0] (= value) and 0 elsewhere, bias "
    "-150.5, so z = value - 150.5 is fp-exact in both engines, the "
    "in-alarm flag reduces to value > 150.5 by sigmoid monotonicity "
    "(exact: |z| >= ulp(150.5) >> 1e-16 whenever value != 150.5), and "
    "libm sigmoid ulp is absorbed by the 2-dp-rounded per-user p_sum "
    "(m5's grand-sum pattern). Oracle: recursive CTE walks the same "
    "recurrence (w10 pattern) + sigmoid sum per user.",
)
def n1_dp_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.detection.dp_model_algs import (
        DpModelSettings,
        run_dp_model_alg,
        svm_vectorize,
    )
    from openseizuredatabase_spark.ml.inference import LinearModel

    s = DpModelSettings(n_samp=25)
    model = LinearModel(weights=(1.0,) + (0.0,) * 24, bias=-150.5)
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("eventId"),
        F.col("ts").alias("dpTimestamp"),
        F.expr(
            "transform(sequence(0, 24), i -> value + CAST(i AS DOUBLE))"
        ).alias("rawData"),
    )
    out = run_dp_model_alg(ev, svm_vectorize(s), model.predict, s)
    return out.groupBy(F.col("eventId").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_dps"),
        F.count(F.when(F.col("alarmState") == 2, 1)).alias("n_alarm_dps"),
        F.count(F.when(F.col("alarmState") == 1, 1)).alias("n_warn_dps"),
        F.round(F.sum("pSeizure"), 2).alias("p_sum"),
    )


@query(
    "n2_differential_report",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, (value > 150) AS fa, (value > 150.5) AS fb,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    ), steps AS (
        SELECT user_id, rn,
               0 AS sa, CASE WHEN fa THEN 5.0 ELSE 0.0 END::DOUBLE AS ca,
               0 AS sb, CASE WHEN fb THEN 5.0 ELSE 0.0 END::DOUBLE AS cb
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn,
               CASE WHEN o.fa THEN
                        CASE WHEN s.ca + 5.0 > 10.0 THEN 2
                             WHEN s.ca + 5.0 > 5.0 THEN 1
                             ELSE s.sa END
                    ELSE CASE WHEN s.sa = 2 THEN 1 ELSE 0 END
               END AS sa,
               CASE WHEN o.fa THEN s.ca + 5.0
                    ELSE CASE WHEN s.sa = 2 THEN 5.0 ELSE 0.0 END
               END AS ca,
               CASE WHEN o.fb THEN
                        CASE WHEN s.cb + 5.0 > 10.0 THEN 2
                             WHEN s.cb + 5.0 > 5.0 THEN 1
                             ELSE s.sb END
                    ELSE CASE WHEN s.sb = 2 THEN 1 ELSE 0 END
               END AS sb,
               CASE WHEN o.fb THEN s.cb + 5.0
                    ELSE CASE WHEN s.sb = 2 THEN 5.0 ELSE 0.0 END
               END AS cb
        FROM steps s
        JOIN ordered o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id,
           count(*) AS n_dps,
           count(*) AS n_both,
           count(*) FILTER (WHERE sa = sb) AS n_state_match,
           max(CASE WHEN sa = 2 THEN 1 ELSE 0 END) AS verdict_a,
           max(CASE WHEN sb = 2 THEN 1 ELSE 0 END) AS verdict_b,
           CASE WHEN max(CASE WHEN sa = 2 THEN 1 ELSE 0 END)
                     = max(CASE WHEN sb = 2 THEN 1 ELSE 0 END)
                THEN 1 ELSE 0 END AS verdict_match
    FROM steps GROUP BY user_id
    """,
    "Two-backend differential validation (compare_streaming_algorithms"
    ".py:338-432 role): the SAME per-user event stream replayed through "
    "two registered backends — the osd threshold machine (in-alarm: "
    "value > 150, the w10 device twin) and the svm linear-model detector "
    "(z = value - 150.5, the n1 model) — per-dp outputs equi-joined on "
    "(user, timestamp) and rolled into the per-event agreement summary "
    "(state-match count + event verdict per backend). Each backend is an "
    "independent distributed job; the diff join is co-partitioned. "
    "Oracle: ONE recursive CTE walks both alarm recurrences in lockstep.",
)
def n2_differential_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.detection.differential import (
        event_diff_summary,
        per_dp_diff,
    )
    from openseizuredatabase_spark.detection.dp_model_algs import (
        DpModelSettings,
        run_dp_model_alg,
        svm_vectorize,
    )
    from openseizuredatabase_spark.detection.osd_alg import (
        OsdSettings,
        run_state_machine,
    )
    from openseizuredatabase_spark.ml.inference import LinearModel

    ev = _t(spark, sf_dir, "events")
    # backend A: threshold state machine (the physical-device twin); ts
    # passes through the machine, so no join-back shuffle to recover it
    a = run_state_machine(
        ev.withColumn("in_alarm", F.col("value") > 150),
        ["user_id"],
        "ts",
        "in_alarm",
        "event_id",
        OsdSettings(sample_period=5, warn_time=5, alarm_time=10),
        passthrough=[("ts", "timestamp")],
    )
    a_dp = a.select(
        F.col("user_id").alias("eventId"),
        F.col("ts").alias("dpTimestamp"),
        "alarmState",
    )
    # backend B: per-dp linear-model detector (the n1 model)
    s = DpModelSettings(n_samp=25)
    model = LinearModel(weights=(1.0,) + (0.0,) * 24, bias=-150.5)
    b_in = ev.select(
        F.col("user_id").alias("eventId"),
        F.col("ts").alias("dpTimestamp"),
        F.expr(
            "transform(sequence(0, 24), i -> value + CAST(i AS DOUBLE))"
        ).alias("rawData"),
    )
    b_dp = run_dp_model_alg(b_in, svm_vectorize(s), model.predict, s)
    diff = per_dp_diff(a_dp, b_dp.select("eventId", "dpTimestamp", "alarmState"))
    summary = event_diff_summary(diff)
    return summary.select(
        F.col("eventId").alias("user_id"),
        "n_dps",
        "n_both",
        "n_state_match",
        "verdict_a",
        "verdict_b",
        "verdict_match",
    )


@query(
    "n31_osd_replay",
    """
    WITH RECURSIVE ev AS (
        SELECT event_id, (event_id % 5 + 1)::DOUBLE AS freq
        FROM events WHERE event_id < 30
    ), frames AS (
        SELECT event_id, freq, d.dp AS dp,
               CASE WHEN d.dp % 4 < 3 THEN 600.37 ELSE 5.23 END AS amp
        FROM ev, unnest(generate_series(0, 5)) AS d(dp)
    ), samples AS (
        SELECT event_id, dp, n.n AS n,
               1000.0 + amp * sin(2 * pi() * freq
                                  * (n.n + dp * 125)::DOUBLE / 25.0) AS x
        FROM frames, unnest(generate_series(0, 124)) AS n(n)
    ), bins AS (
        SELECT event_id, dp, k.k AS k,
               sum(x * cos(2 * pi() * k.k * n / 125.0)) AS re,
               sum(x * sin(2 * pi() * k.k * n / 125.0)) AS im
        FROM samples, unnest(generate_series(1, 62)) AS k(k)
        GROUP BY event_id, dp, k.k
    ), powers AS (
        SELECT event_id, dp,
               sum(re*re + im*im) FILTER (WHERE k BETWEEN 1 AND 60)
                   / 125.0 / 2.0 / 1000.0 AS spec,
               sum(re*re + im*im) FILTER (WHERE k BETWEEN 15 AND 39)
                   / 25.0 / 1000.0 AS roi
        FROM bins GROUP BY event_id, dp
    ), flagged AS (
        SELECT event_id, dp, spec, roi,
               CASE WHEN roi > 500.0 THEN 10.0 * roi / spec
                    ELSE 0.0 END AS ratio,
               (CASE WHEN roi > 500.0 THEN 10.0 * roi / spec
                     ELSE 0.0 END) > 57.0 AS flag
        FROM powers
    ), steps AS (
        SELECT event_id, dp, spec, roi, ratio, 0 AS state,
               CASE WHEN flag THEN 5.0 ELSE 0.0 END::DOUBLE AS cnt
        FROM flagged WHERE dp = 0
        UNION ALL
        SELECT f.event_id, f.dp, f.spec, f.roi, f.ratio,
               CASE WHEN f.flag THEN
                        CASE WHEN s.cnt + 5.0 > 10.0 THEN 2
                             WHEN s.cnt + 5.0 > 5.0 THEN 1
                             ELSE s.state END
                    ELSE CASE WHEN s.state = 2 THEN 1 ELSE 0 END
               END AS state,
               CASE WHEN f.flag THEN s.cnt + 5.0
                    ELSE CASE WHEN s.state = 2 THEN 5.0 ELSE 0.0 END
               END AS cnt
        FROM steps s
        JOIN flagged f ON f.event_id = s.event_id AND f.dp = s.dp + 1
    )
    SELECT event_id, dp,
           round(spec, 6) AS spec_power,
           round(roi, 6) AS roi_power,
           round(ratio, 6) AS roi_ratio,
           state AS alarm_state, cnt AS alarm_count
    FROM steps
    """,
    "Full OSD replay on the CORRECTED spectral kernels (round-7 "
    "fidelity fix; osdAlg.py:161-187,210-219,264-313 with the "
    "testConfig.json 'OSD_no_flap' thresholds 500/57): 30 synthetic "
    "events × 6 contiguous 125-sample dp frames (1-5 Hz tones, "
    "amplitude pattern driving OK→WARN→ALARM→decay traffic), replayed "
    "through run_osd_alg — one applyInPandas shuffle on the event key, "
    "frames built Catalyst-side. Per-dp specPower (sum bins 1..60 /125"
    "/2/1000), roiPower (mean bins [15,40) /1000), gated ratio, and "
    "the accumulate/decay machine. Oracle: literal O(N²) DFT per frame "
    "+ recursive CTE walking the same recurrence; 6-dp rounding "
    "absorbs FFT-vs-DFT drift, non-round amplitudes (600.37/5.23) "
    "keep every value away from rounding boundaries, and each "
    "engine derives flags from its own unrounded ratio (decisively "
    "0 or ~100 vs the 57 threshold).",
)
def n31_osd_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.detection.osd_alg import (
        OsdSettings,
        run_osd_alg,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 30)
    freq = (F.col("event_id") % 5 + 1).cast("double")
    dps = ev.select("event_id", freq.alias("freq")).select(
        "event_id",
        "freq",
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("dp"),
    )
    amp = F.when(F.col("dp") % 4 < 3, F.lit(600.37)).otherwise(F.lit(5.23))
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(124)),
        lambda i: 1000.0
        + amp
        * F.sin(
            2 * math.pi * F.col("freq")
            * (i + F.col("dp") * 125).cast("double") / 25.0
        ),
    )
    frames = dps.select(
        F.col("event_id").alias("eventId"),
        F.timestamp_seconds(F.col("dp") * 5).alias("dpTimestamp"),
        raw.alias("rawData"),
    )
    out = run_osd_alg(
        frames,
        OsdSettings(
            alarm_thresh=500.0,
            alarm_ratio_thresh=57.0,
            sample_period=5.0,
            warn_time=5.0,
            alarm_time=10.0,
        ),
    )
    return out.select(
        F.col("eventId").alias("event_id"),
        (F.col("dpTimestamp").cast("long") / 5).cast("long").alias("dp"),
        F.round("specPower", 6).alias("spec_power"),
        F.round("roiPower", 6).alias("roi_power"),
        F.round("roiRatio", 6).alias("roi_ratio"),
        F.col("alarmState").alias("alarm_state"),
        F.col("alarmCount").alias("alarm_count"),
    )


@query(
    "n32_osd_flap_replay",
    """
    WITH RECURSIVE ev AS (
        SELECT event_id,
               CASE event_id % 4
                 WHEN 0 THEN 2.2 WHEN 1 THEN 5.0
                 WHEN 2 THEN 2.2 ELSE 1.0 END AS freq,
               CASE event_id % 4
                 WHEN 0 THEN 300.41 WHEN 1 THEN 600.37
                 WHEN 2 THEN 100.23 ELSE 600.11 END AS amp
        FROM events WHERE event_id < 24
    ), samples AS (
        SELECT event_id, d.dp AS dp, n.n AS n,
               1000.0 + (CASE WHEN d.dp % 4 < 3 THEN amp ELSE 5.23 END)
                   * sin(2 * pi() * freq
                         * (n.n + d.dp * 125)::DOUBLE / 25.0) AS x
        FROM ev,
             unnest(generate_series(0, 5)) AS d(dp),
             unnest(generate_series(0, 124)) AS n(n)
    ), bins AS (
        SELECT event_id, dp, k.k AS k,
               sum(x * cos(2 * pi() * k.k * n / 125.0)) AS re,
               sum(x * sin(2 * pi() * k.k * n / 125.0)) AS im
        FROM samples, unnest(generate_series(1, 62)) AS k(k)
        GROUP BY event_id, dp, k.k
    ), powers AS (
        SELECT event_id, dp,
               sum(re*re + im*im) FILTER (WHERE k BETWEEN 1 AND 60)
                   / 125.0 / 2.0 / 1000.0 AS spec,
               sum(re*re + im*im) FILTER (WHERE k BETWEEN 15 AND 39)
                   / 25.0 / 1000.0 AS roi,
               sum(re*re + im*im) FILTER (WHERE k BETWEEN 10 AND 19)
                   / 10.0 / 1000.0 AS floi
        FROM bins GROUP BY event_id, dp
    ), flagged AS (
        SELECT event_id, dp, spec, roi,
               CASE WHEN roi > 500.0 THEN 10.0 * roi / spec
                    ELSE 0.0 END AS ratio,
               ((CASE WHEN roi > 500.0 THEN 10.0 * roi / spec
                      ELSE 0.0 END) > 57.0)
               OR ((CASE WHEN floi > 10000.0 THEN 10.0 * floi / spec
                         ELSE 0.0 END) > 80.0) AS flag
        FROM powers
    ), steps AS (
        SELECT event_id, dp, spec, roi, ratio, 0 AS state,
               CASE WHEN flag THEN 5.0 ELSE 0.0 END::DOUBLE AS cnt
        FROM flagged WHERE dp = 0
        UNION ALL
        SELECT f.event_id, f.dp, f.spec, f.roi, f.ratio,
               CASE WHEN f.flag THEN
                        CASE WHEN s.cnt + 5.0 > 10.0 THEN 2
                             WHEN s.cnt + 5.0 > 5.0 THEN 1
                             ELSE s.state END
                    ELSE CASE WHEN s.state = 2 THEN 1 ELSE 0 END
               END AS state,
               CASE WHEN f.flag THEN s.cnt + 5.0
                    ELSE CASE WHEN s.state = 2 THEN 5.0 ELSE 0.0 END
               END AS cnt
        FROM steps s
        JOIN flagged f ON f.event_id = s.event_id AND f.dp = s.dp + 1
    )
    SELECT event_id, dp,
           round(spec, 6) AS spec_power,
           round(roi, 6) AS roi_power,
           round(ratio, 6) AS roi_ratio,
           state AS alarm_state, cnt AS alarm_count
    FROM steps
    """,
    "Flap-detector replay — the published testConfig.json 'OSD_flap' "
    "algorithm block (osdAlg.py:189-233,249-258,293-295: a second "
    "2-4 Hz band ratio whose verdict FORCES the in-alarm flag into the "
    "shared machine; flapAlarmThresh 10000, flapAlarmRatioThresh 80). "
    "Event mix isolates every branch on bin-exact tones: 2.2 Hz (flap "
    "band [2,4) = bins [10,20), OUTSIDE the main ROI [15,40)) loud → "
    "flap-only alarm while the main ratio stays 0; 5 Hz loud → main "
    "alarm; 2.2 Hz quiet → flapRoi ~3.9k below the 10k gate → OK; "
    "1 Hz → both bands empty → OK. Spark side is run_osd_alg with "
    "flap_enabled (the per-dp flap check runs inside the same Arrow "
    "stage). Oracle: the n31 DFT + recursive-CTE pattern extended with "
    "the flap-band power and the OR-forced flag.",
)
def n32_osd_flap_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.detection.osd_alg import (
        OsdSettings,
        run_osd_alg,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 24)
    freq = (
        F.when(F.col("event_id") % 4 == 0, 2.2)
        .when(F.col("event_id") % 4 == 1, 5.0)
        .when(F.col("event_id") % 4 == 2, 2.2)
        .otherwise(1.0)
    )
    amp_base = (
        F.when(F.col("event_id") % 4 == 0, 300.41)
        .when(F.col("event_id") % 4 == 1, 600.37)
        .when(F.col("event_id") % 4 == 2, 100.23)
        .otherwise(600.11)
    )
    dps = ev.select(
        "event_id", freq.alias("freq"), amp_base.alias("amp")
    ).select(
        "event_id",
        "freq",
        "amp",
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("dp"),
    )
    amp = F.when(F.col("dp") % 4 < 3, F.col("amp")).otherwise(F.lit(5.23))
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(124)),
        lambda i: 1000.0
        + amp
        * F.sin(
            2 * math.pi * F.col("freq")
            * (i + F.col("dp") * 125).cast("double") / 25.0
        ),
    )
    frames = dps.select(
        F.col("event_id").alias("eventId"),
        F.timestamp_seconds(F.col("dp") * 5).alias("dpTimestamp"),
        raw.alias("rawData"),
    )
    out = run_osd_alg(
        frames,
        OsdSettings(
            alarm_thresh=500.0,
            alarm_ratio_thresh=57.0,
            sample_period=5.0,
            warn_time=5.0,
            alarm_time=10.0,
            flap_enabled=True,
            flap_freq_min=2.0,
            flap_freq_max=4.0,
            flap_alarm_thresh=10000.0,
            flap_ratio_thresh=80.0,
        ),
    )
    return out.select(
        F.col("eventId").alias("event_id"),
        (F.col("dpTimestamp").cast("long") / 5).cast("long").alias("dp"),
        F.round("specPower", 6).alias("spec_power"),
        F.round("roiPower", 6).alias("roi_power"),
        F.round("roiRatio", 6).alias("roi_ratio"),
        F.col("alarmState").alias("alarm_state"),
        F.col("alarmCount").alias("alarm_count"),
    )


def _s24_oracle() -> str:
    """Aggregate n31's per-dp replay oracle per event — the streaming
    twin emits the same machine walk, so the two entries share one
    recurrence definition."""
    return f"""
    SELECT event_id, count(*) AS n_dps,
           count(CASE WHEN alarm_state = 2 THEN 1 END) AS n_alarm_dps,
           count(CASE WHEN alarm_state = 1 THEN 1 END) AS n_warn_dps
    FROM ({QUERIES['n31_osd_replay'].oracle}) t
    GROUP BY event_id
    """


@query(
    "s24_streaming_osd_detector",
    _s24_oracle(),
    "The CORRECTED OSD spectral detector as a REGISTERED streaming "
    "query — batch/streaming parity for the real kernels (n31's batch "
    "twin shares the recurrence through one oracle definition): "
    "readStream events → the n31 sinusoid frames built in the "
    "streaming projection (pure Catalyst) → per-dp "
    "specPower/roiPower/gated ratio via a scalar Arrow pandas UDF "
    "(the literal osdAlg.py kernels at the published 500/57 "
    "thresholds) → applyInPandasWithState alarm machine (state = "
    "(alarmState, alarmCount) per event across micro-batches) → "
    "per-event rollup. availableNow over a static lake is one "
    "deterministic batch with no (event, ts) ties, so the streamed "
    "machine equals the batch walk row for row.",
)
def s24_streaming_osd_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.detection.osd_alg import OsdSettings
    from openseizuredatabase_spark.functions.signal import (
        roi_power,
        spec_power,
        spectrum_ratio,
    )
    from openseizuredatabase_spark.plans.q_relational import _stream_events
    from openseizuredatabase_spark.streaming.sessionize import (
        streaming_alarm_machine,
    )

    stream = _stream_events(spark, sf_dir, "s24_events_").filter(
        F.col("event_id") < 30
    )
    freq = (F.col("event_id") % 5 + 1).cast("double")
    dps = stream.select(
        "event_id", freq.alias("freq"),
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("dp"),
    )
    amp = F.when(F.col("dp") % 4 < 3, F.lit(600.37)).otherwise(F.lit(5.23))
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(124)),
        lambda i: 1000.0
        + amp
        * F.sin(
            2 * math.pi * F.col("freq")
            * (i + F.col("dp") * 125).cast("double") / 25.0
        ),
    )
    frames = dps.select(
        "event_id",
        F.timestamp_seconds(F.col("dp") * 5).alias("dpTimestamp"),
        raw.alias("rawData"),
    )

    @F.pandas_udf("boolean")
    def in_alarm(sigs: pd.Series) -> pd.Series:
        flags = []
        for sig in sigs:
            a = np.asarray(sig, dtype=np.float64)
            sp = spec_power(a)
            rp = roi_power(a)
            flags.append(spectrum_ratio(sp, rp, 500.0) > 57.0)
        return pd.Series(flags)

    flagged = frames.select(
        "event_id", "dpTimestamp", in_alarm(F.col("rawData")).alias("flag")
    )
    out = streaming_alarm_machine(
        flagged,
        "event_id",
        "dpTimestamp",
        "flag",
        OsdSettings(sample_period=5.0, warn_time=5.0, alarm_time=10.0),
    )
    return (
        replay_to_memory(spark, sf_dir, out, "append")
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_dps"),
            F.count(F.when(F.col("alarmState") == 2, 1)).alias(
                "n_alarm_dps"
            ),
            F.count(F.when(F.col("alarmState") == 1, 1)).alias(
                "n_warn_dps"
            ),
        )
    )


@query(
    "n3_event_level_metrics",
    f"""
    WITH ev AS (
        SELECT user_id,
               max(value) >= 170 AS label,
               max({_N3_P}) AS max_p,
               count(*) AS n_dp,
               count(CASE WHEN {_N3_P} >= 0.5 THEN 1 END) AS n_dp_pos
        FROM events GROUP BY user_id
    )
    SELECT
        count(CASE WHEN label AND max_p >= 0.5 THEN 1 END)::BIGINT AS event_tp,
        count(CASE WHEN NOT label AND max_p >= 0.5 THEN 1 END)::BIGINT AS event_fp,
        count(CASE WHEN NOT label AND max_p < 0.5 THEN 1 END)::BIGINT AS event_tn,
        count(CASE WHEN label AND max_p < 0.5 THEN 1 END)::BIGINT AS event_fn,
        count(*) AS n_events,
        count(CASE WHEN label THEN 1 END) AS n_seizure_events,
        round(count(CASE WHEN label AND max_p >= 0.5 THEN 1 END)
              / nullif(count(CASE WHEN label THEN 1 END), 0)::DOUBLE, 6)
            AS event_tpr,
        round(count(CASE WHEN NOT label AND max_p >= 0.5 THEN 1 END)
              / nullif(count(CASE WHEN NOT label THEN 1 END), 0)::DOUBLE, 6)
            AS event_fpr,
        round(sum(CASE WHEN label THEN n_dp_pos END)
              / nullif(sum(CASE WHEN label THEN n_dp END), 0)::DOUBLE, 6)
            AS datapoint_tpr,
        round(sum(CASE WHEN NOT label THEN n_dp_pos END)
              / nullif(sum(CASE WHEN NOT label THEN n_dp END), 0)::DOUBLE, 6)
            AS datapoint_fpr
    FROM ev
    """,
    "Event-level vs datapoint-level detection metrics "
    "(eventLevelMetrics.py:13-90): an event's prediction is the MAX "
    "pSeizure over its datapoints thresholded at 0.5 (nnTester's rule); "
    "the reference prints both levels to show event-level sensitivity "
    "exceeding datapoint-level. Two aggregations: datapoints to events "
    "(partial-combined shuffle on the event key), events to one metrics "
    "row (tiny final reduce).",
)
def n3_event_level_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-((F.col("value") - 150) / F.lit(25.0)))
    )
    return agg_ops.event_level_metrics(
        ev, "user_id", F.col("value") >= 170, p
    )


def _n4_models():
    """Five dyadic-weight linear scorers standing in for the k-fold
    models the reference ensembles (ensemblePredictor.py:119-176)."""
    from openseizuredatabase_spark.ml.inference import LinearModel

    return [
        LinearModel(weights=(0.5, 0.25, -0.5), bias=0.125),
        LinearModel(weights=(0.25, -0.5, 0.5), bias=-0.25),
        LinearModel(weights=(-0.5, 0.5, 0.25), bias=0.0625),
        LinearModel(weights=(0.375, -0.125, -0.25), bias=-0.0625),
        LinearModel(weights=(-0.25, 0.375, 0.125), bias=0.25),
    ]


def _n4_oracle() -> str:
    from openseizuredatabase_spark.functions.stats import (
        harrell_davis_weights,
    )

    ws = harrell_davis_weights(5, 0.6)
    ps = []
    for m in _n4_models():
        z = " + ".join(
            f"({w!r})*x{i + 1}" for i, w in enumerate(m.weights)
        )
        ps.append(f"1.0 / (1.0 + exp(-({z} + ({m.bias!r}))))")
    p_cols = ", ".join(f"{p} AS p{k}" for k, p in enumerate(ps))
    dot = " + ".join(f"l[{i + 1}]*({w!r})" for i, w in enumerate(ws))
    return f"""
    WITH x AS (
        SELECT vec_id,
               embedding[1]::DOUBLE AS x1,
               embedding[2]::DOUBLE AS x2,
               embedding[3]::DOUBLE AS x3
        FROM embeddings
    ), p AS (
        SELECT vec_id, {p_cols} FROM x
    ), s AS (
        SELECT vec_id, list_sort([p0, p1, p2, p3, p4]) AS l FROM p
    )
    SELECT vec_id, round({dot}, 6) AS p_ens FROM s
    """


@query(
    "n4_ensemble_quantile",
    _n4_oracle(),
    "Harrell-Davis quantile ensemble (ensemblePredictor.py:27-66, Spahr "
    "et al. 2025): five fold-models score every row, the K scores sort "
    "and combine under beta-CDF order-statistic weights — the tunable-"
    "sensitivity combine the reference uses over its k-fold CNNs. The "
    "incomplete-beta weights come from functions/stats.py (no scipy in "
    "this environment) computed ONCE driver-side; one Arrow stage "
    "produces the (N, K) score matrix and the weighted sorted sum, no "
    "shuffle. The oracle embeds the identical weight literals and walks "
    "the same sigmoids + list_sort in SQL.",
)
def n4_ensemble_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.ml.inference import (
        assemble_features,
        ensemble_predict,
    )

    emb = _ts(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        *[
            F.element_at(F.col("embedding"), i + 1).alias(f"x{i}")
            for i in range(3)
        ],
    )
    scored = ensemble_predict(
        assemble_features(feats, ["x0", "x1", "x2"]),
        _n4_models(),
        quantile=0.6,
        out_col="p_ens",
    )
    return scored.select("vec_id", F.round("p_ens", 6).alias("p_ens"))


_N5_GRID = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


@query(
    "n5_threshold_sweep",
    f"""
    WITH ev AS (
        SELECT user_id, max(value) >= 170 AS label, max({_N3_P}) AS max_p
        FROM events GROUP BY user_id
    ), sw AS (
        SELECT t.th AS threshold, label, max_p
        FROM ev,
             unnest([{", ".join(repr(t) for t in _N5_GRID)}]::DOUBLE[]) AS t(th)
    )
    SELECT threshold,
        count(CASE WHEN label AND max_p >= threshold THEN 1 END)::BIGINT
            AS event_tp,
        count(CASE WHEN NOT label AND max_p >= threshold THEN 1 END)::BIGINT
            AS event_fp,
        count(CASE WHEN NOT label AND max_p < threshold THEN 1 END)::BIGINT
            AS event_tn,
        count(CASE WHEN label AND max_p < threshold THEN 1 END)::BIGINT
            AS event_fn,
        round(count(CASE WHEN label AND max_p >= threshold THEN 1 END)
              / nullif(count(CASE WHEN label THEN 1 END), 0)::DOUBLE, 6)
            AS event_tpr,
        round(count(CASE WHEN NOT label AND max_p >= threshold THEN 1 END)
              / nullif(count(CASE WHEN NOT label THEN 1 END), 0)::DOUBLE, 6)
            AS event_fpr
    FROM sw GROUP BY threshold
    """,
    "Event-level decision-threshold sweep (nnTester.py:1578-1616; the "
    "hyperparameter-sweep shape of runOptimisation.py): TPR/FPR at each "
    "grid threshold, an event firing when its max datapoint probability "
    "reaches it. The reference re-loops the pandas frame per threshold; "
    "here the datapoint->event aggregate runs ONCE and the sweep is a "
    "constant fan-out of the tiny event table — a 100-point grid would "
    "not change the plan shape, and datapoints are never re-read.",
)
def n5_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-((F.col("value") - 150) / F.lit(25.0)))
    )
    return agg_ops.threshold_sweep(
        ev, "user_id", F.col("value") >= 170, p, _N5_GRID
    )


@query(
    "n6_auc_rank",
    f"""
    WITH dp AS (
        SELECT round({_N3_P}, 6) AS bin,
               max(value) OVER (PARTITION BY user_id) >= 170 AS l
        FROM events
    ), bins AS (
        SELECT bin,
               count(CASE WHEN l THEN 1 END) AS n_pos,
               count(CASE WHEN NOT l THEN 1 END) AS n_neg
        FROM dp GROUP BY bin
    ), c AS (
        SELECT n_pos, n_neg,
               n_pos * (coalesce(sum(n_neg) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
                 + 0.5 * n_neg) AS contrib
        FROM bins
    )
    SELECT sum(n_pos)::BIGINT AS n_pos, sum(n_neg)::BIGINT AS n_neg,
           round(sum(contrib)
                 / (sum(n_pos)::DOUBLE * sum(n_neg)::DOUBLE), 6) AS auc
    FROM c
    """,
    "Exact ROC AUC via the Mann-Whitney rank identity (the scalar "
    "behind nnTester.py:1648-1664's ROC plot): AUC = P(p_pos > p_neg) "
    "+ 0.5 P(tie). Scores quantize to 6 decimals, so the pos/neg "
    "histogram (one partial-combined shuffle) is BOUNDED by the "
    "quantization grid regardless of corpus size and the cumulative "
    "window runs over bins, never a global sort of datapoints; all "
    "contributions are exact integer+half doubles, so summation order "
    "cannot change the result.",
)
def n6_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-((F.col("value") - 150) / F.lit(25.0)))
    )
    label = (
        F.max("value").over(Window.partitionBy("user_id")) >= 170
    )
    return agg_ops.auc_rank(ev, label, p)


def _n7_oracle() -> str:
    h = md5_long_sql("CAST(event_id AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)")
    return f"""
    WITH reps AS (
        SELECT unnest(generate_series(0, 31)) AS b
    ), sub AS (
        SELECT e.event_type, b.b,
               round(e.value * 100)::BIGINT AS c
        FROM events e, reps b
        WHERE {h} % 100 < 63
    ), means AS (
        SELECT event_type, b,
               round((sum(c)::DOUBLE / count(*)) / 100, 6) AS m
        FROM sub GROUP BY event_type, b
    ), ranked AS (
        SELECT event_type, m,
               row_number() OVER (PARTITION BY event_type ORDER BY m, b)
                   AS rn,
               count(*) OVER (PARTITION BY event_type) AS nb
        FROM means
    ), full_mean AS (
        SELECT event_type,
               round((sum(round(value * 100))::DOUBLE / count(*)) / 100, 6)
                   AS est_mean
        FROM events GROUP BY event_type
    )
    SELECT f.event_type, f.est_mean,
           max(CASE WHEN r.rn = 2 THEN r.m END) AS ci_lo,
           max(CASE WHEN r.rn = r.nb - 1 THEN r.m END) AS ci_hi,
           max(r.nb) AS n_replicas
    FROM full_mean f JOIN ranked r ON f.event_type = r.event_type
    GROUP BY f.event_type, f.est_mean
    """


@query(
    "n7_bootstrap_ci",
    _n7_oracle(),
    "Bootstrap confidence intervals, fully deterministic: 32 "
    "subsample replicas (each row joins replica b iff "
    "hash(event_id:b) % 100 < 63 — the e⁻¹ inclusion rate of a "
    "classic bootstrap, from the portable md5 family, so any engine "
    "draws the SAME replicas), per-replica means from exact integer "
    "cent sums + one IEEE division, and the CI = 2nd/31st order "
    "statistics of the replica means. Gives the detection-metrics "
    "tier (n3-n6) the uncertainty quantification the reference's "
    "point summaries lack. Scale: the replica cross-join multiplies "
    "the scan by B=32 but stays map-side (filter before the single "
    "(type, b) shuffle); state is B means per group. The driver hash "
    "pins every replica boundary via the order statistics.",
)
def n7_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _ts, not _t: the replica fan-out amplifies the portable-md5 work
    # 32x before the first shuffle, and the local single-file scan
    # otherwise runs that whole map side on one core (guide §2.5 input
    # skew; measured 3.2 s single-task vs 0.3 s spread at sf0.1)
    ev = _ts(spark, sf_dir, "events")
    h = md5_long(
        F.concat_ws(
            ":",
            F.col("event_id").cast("string"),
            F.col("b").cast("string"),
        )
    )
    # replica fan-out as a Generate (explode of a literal sequence)
    # instead of crossJoin(broadcast(range)): the BroadcastNestedLoopJoin
    # emitted the same 32x rows OUTSIDE whole-stage codegen, so every
    # md5 ran through the interpreted row path (guide §2.4 — same rows,
    # one fused scan stage; the per-event cent value is also computed
    # once per event, not once per replica)
    sub = (
        ev.select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .select(
            "event_id",
            "event_type",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
        )
        .filter(h % 100 < 63)
        .select("event_type", "b", "c")
    )
    means = sub.groupBy("event_type", "b").agg(
        F.round(
            (F.sum("c").cast("double") / F.count(F.lit(1))) / 100, 6
        ).alias("m")
    )
    wr = Window.partitionBy("event_type").orderBy("m", "b")
    wn = Window.partitionBy("event_type")
    ranked = means.select(
        "event_type",
        "m",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("nb"),
    )
    full_mean = ev.groupBy("event_type").agg(
        F.round(
            (F.sum(F.round(F.col("value") * 100, 0)).cast("double")
             / F.count(F.lit(1)))
            / 100,
            6,
        ).alias("est_mean")
    )
    return (
        full_mean.join(ranked, "event_type")
        .groupBy("event_type", "est_mean")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.max(
                F.when(F.col("rn") == F.col("nb") - 1, F.col("m"))
            ).alias("ci_hi"),
            F.max("nb").alias("n_replicas"),
        )
    )


@query(
    "n23_cramers_v",
    """
    WITH obs AS (
        SELECT event_type AS r, (user_id % 4)::BIGINT AS c,
               count(*)::BIGINT AS o
        FROM events GROUP BY 1, 2
    ), rt AS (SELECT r, sum(o)::BIGINT AS nr FROM obs GROUP BY r),
    ct AS (SELECT c, sum(o)::BIGINT AS nc FROM obs GROUP BY c),
    tot AS (SELECT sum(o)::BIGINT AS n,
                   count(DISTINCT r)::BIGINT AS kr,
                   count(DISTINCT c)::BIGINT AS kc
            FROM obs),
    terms AS (
        SELECT CAST(round(
                 (o - (nr * nc)::DOUBLE / n)
                 * (o - (nr * nc)::DOUBLE / n)
                 / ((nr * nc)::DOUBLE / n) * 1000000) AS BIGINT)
                   AS term_micro
        FROM obs JOIN rt USING (r) JOIN ct USING (c), tot
    )
    SELECT t.n, t.kr, t.kc,
           round(s.chi2_micro / 1000000.0, 6) AS chi2,
           round(sqrt(s.chi2_micro / 1000000.0
                      / (t.n * least(t.kr - 1, t.kc - 1))), 6)
               AS cramers_v
    FROM (SELECT sum(term_micro)::BIGINT AS chi2_micro FROM terms) s, tot t
    """,
    "Chi-squared independence test + Cramér's V effect size over the "
    "(event_type x user-cohort) contingency table — the categorical-"
    "association audit every EDA/data-quality pass runs (m28's chi2 is "
    "GOODNESS-OF-FIT against fixed probabilities; this tests "
    "independence of two observed factors and normalizes to [0,1]): "
    "observed/expected from exact integer marginals, per-cell terms "
    "quantized to micro-units BEFORE the sum (each cell's double is "
    "IEEE-identical cross-engine; the SUM must be order-free), V by "
    "one sqrt on the quantized total. One contingency aggregation + "
    "kilobyte marginal broadcasts.",
)
def n23_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("r"),
        (F.col("user_id") % 4).cast("long").alias("c"),
    )
    obs = ev.groupBy("r", "c").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    # the ~20-row contingency table feeds four downstream branches
    # (marginals, totals, terms) — pin it so the corpus aggregation
    # runs once instead of once per branch
    obs = pin(obs)
    rt = obs.groupBy("r").agg(F.sum("o").cast("long").alias("nr"))
    ct = obs.groupBy("c").agg(F.sum("o").cast("long").alias("nc"))
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("r").cast("long").alias("kr"),
        F.countDistinct("c").cast("long").alias("kc"),
    )
    e = (F.col("nr") * F.col("nc")).cast("double") / F.col("n")
    term = F.round(
        (F.col("o") - e) * (F.col("o") - e) / e * 1e6, 0
    ).cast("long")
    terms = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term_micro"))
    )
    s = terms.agg(F.sum("term_micro").cast("long").alias("chi2_micro"))
    chi2 = F.col("chi2_micro") / 1e6
    dof = F.col("n") * F.least(F.col("kr") - 1, F.col("kc") - 1)
    return s.crossJoin(F.broadcast(tot)).select(
        "n",
        "kr",
        "kc",
        F.round(chi2, 6).alias("chi2"),
        F.round(F.sqrt(chi2 / dof), 6).alias("cramers_v"),
    )


@query(
    "n24_mann_kendall",
    """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               count(*)::BIGINT AS y
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               sum(CASE WHEN b.y > a.y THEN 1
                        WHEN b.y < a.y THEN -1 ELSE 0 END)::BIGINT AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY a.event_type
    ), nn AS (
        SELECT event_type, count(*)::BIGINT AS n FROM daily GROUP BY 1
    ), ties AS (
        SELECT event_type,
               sum(t * (t - 1) / 2)::BIGINT AS n1,
               sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_var
        FROM (SELECT event_type, y, count(*)::BIGINT AS t
              FROM daily GROUP BY 1, 2)
        GROUP BY event_type
    )
    SELECT p.event_type, n.n, p.s,
           round(p.s / sqrt((n.n * (n.n - 1) / 2 - t.n1)::DOUBLE
                            * (n.n * (n.n - 1) / 2)::DOUBLE), 6)
               AS tau_b,
           round((CASE WHEN p.s > 0 THEN p.s - 1
                       WHEN p.s < 0 THEN p.s + 1
                       ELSE 0 END)
                 / sqrt((n.n * (n.n - 1) * (2 * n.n + 5)
                         - t.tie_var)::DOUBLE / 18.0), 6) AS z_stat
    FROM pairs p JOIN nn n USING (event_type)
    JOIN ties t USING (event_type)
    """,
    "Mann-Kendall trend test + Kendall's tau-b (Mann 1945 / Kendall "
    "1938 — the standard nonparametric monotone-trend detector for "
    "environmental/ops time series; pairs with n17's Spearman rho as "
    "the second classic rank correlation): per-type daily counts, "
    "S = sum of pairwise sign(y_j - y_i) over the ~30-day frame via a "
    "day-ordered self-join that is quadratic only in DAYS (never in "
    "events — the corpus term is the one daily aggregation), tau-b "
    "with exact tie counts, and the continuity-corrected normal z "
    "with the tie-corrected variance. Every statistic derives from "
    "exact BIGINTs through one IEEE sqrt/divide.",
)
def n24_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # feeds three branches below
    daily = pin(
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    a = daily.select(
        "event_type", F.col("day").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("db"),
        F.col("y").alias("yb"),
    )
    s = (
        a.join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.col("da") < F.col("db")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            ).cast("long").alias("s")
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tie_groups = daily.groupBy("event_type", "y").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    ties = tie_groups.groupBy("event_type").agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("n1"),
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .cast("long").alias("tie_var"),
    )
    n0 = F.col("n") * (F.col("n") - 1) / 2
    tau = F.col("s") / F.sqrt(
        (n0 - F.col("n1")).cast("double") * n0.cast("double")
    )
    sc_ = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    var = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_var")
    ).cast("double") / 18.0
    return (
        s.join(nn, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            "n",
            "s",
            F.round(tau, 6).alias("tau_b"),
            F.round(sc_ / F.sqrt(var), 6).alias("z_stat"),
        )
    )


@query(
    "n8_mcnemar",
    """
    WITH v AS (
        SELECT (event_type = 'error') AS truth,
               (round(value * 100)::BIGINT > 15000) AS det_a,
               (round(value * 100)::BIGINT > 18000) AS det_b
        FROM events
    ), ct AS (
        SELECT
            sum(CASE WHEN det_a = truth AND det_b = truth
                THEN 1 ELSE 0 END)::BIGINT AS both_right,
            sum(CASE WHEN det_a = truth AND det_b <> truth
                THEN 1 ELSE 0 END)::BIGINT AS only_a,
            sum(CASE WHEN det_a <> truth AND det_b = truth
                THEN 1 ELSE 0 END)::BIGINT AS only_b,
            sum(CASE WHEN det_a <> truth AND det_b <> truth
                THEN 1 ELSE 0 END)::BIGINT AS both_wrong,
            count(*)::BIGINT AS n
        FROM v
    )
    SELECT n, both_right, only_a, only_b, both_wrong,
           round(CASE WHEN only_a + only_b > 0 THEN
                 (greatest(abs(only_a - only_b) - 1, 0)
                  * greatest(abs(only_a - only_b) - 1, 0))::DOUBLE
                 / (only_a + only_b) ELSE 0.0 END, 6) AS chi2
    FROM ct
    """,
    "McNemar's paired-detector significance test (continuity-"
    "corrected χ² on the discordant cells — the statistical missing "
    "piece after n5's threshold sweep / n6's AUC / n2's differential "
    "report: ARE two detectors' accuracies actually different, or "
    "within paired noise?): verdict pairs for two operating points "
    "against the event-type truth reduce to one 2×2 contingency in a "
    "single map-side-combined aggregation. χ² = (|b−c|−1)²/(b+c) on "
    "integer cells, one IEEE division — bit-stable cross-engine. At "
    "100 TB this is a full-scan reduce to FOUR integers; the verdict "
    "columns come free with any n1-style scoring pass.",
)
def n8_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("long")
    v = ev.select(
        (F.col("event_type") == "error").alias("truth"),
        (vc > 15000).alias("det_a"),
        (vc > 18000).alias("det_b"),
    )
    a_right = F.col("det_a") == F.col("truth")
    b_right = F.col("det_b") == F.col("truth")
    ct = v.agg(
        F.sum(F.when(a_right & b_right, 1).otherwise(0)).alias(
            "both_right"
        ),
        F.sum(F.when(a_right & ~b_right, 1).otherwise(0)).alias("only_a"),
        F.sum(F.when(~a_right & b_right, 1).otherwise(0)).alias("only_b"),
        F.sum(F.when(~a_right & ~b_right, 1).otherwise(0)).alias(
            "both_wrong"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    disc = F.col("only_a") + F.col("only_b")
    corr = F.greatest(
        F.abs(F.col("only_a") - F.col("only_b")) - 1, F.lit(0)
    )
    return ct.select(
        "n",
        "both_right",
        "only_a",
        "only_b",
        "both_wrong",
        F.round(
            F.when(
                disc > 0, (corr * corr).cast("double") / disc
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("chi2"),
    )


@query(
    "n9_cohens_kappa",
    """
    WITH v AS (
        SELECT (round(value * 100)::BIGINT > 15000) AS det_a,
               (round(value * 100)::BIGINT > 18000) AS det_b
        FROM events
    ), ct AS (
        SELECT
            sum(CASE WHEN det_a AND det_b THEN 1 ELSE 0 END)::BIGINT
                AS n11,
            sum(CASE WHEN det_a AND NOT det_b THEN 1 ELSE 0 END)::BIGINT
                AS n10,
            sum(CASE WHEN NOT det_a AND det_b THEN 1 ELSE 0 END)::BIGINT
                AS n01,
            sum(CASE WHEN NOT det_a AND NOT det_b THEN 1 ELSE 0 END)
                ::BIGINT AS n00,
            count(*)::BIGINT AS n
        FROM v
    )
    SELECT n, n11, n10, n01, n00,
           round(
               (n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
                                   + (n01 + n00) * (n10 + n00)))::DOUBLE
               / (n * n - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00))), 6) AS kappa
    FROM ct
    """,
    "Cohen's kappa inter-annotator agreement between n8's two "
    "operating points — the labeling-pipeline staple McNemar doesn't "
    "cover (McNemar asks 'are their ERROR rates different', kappa asks "
    "'do they AGREE beyond chance' — the number a labeling vendor "
    "contract actually specifies). The 2×2 verdict table is one "
    "map-side-combined full-scan reduce to four integers; kappa "
    "collapses to the single-division integer identity "
    "(n·agree − Σ row·col) / (n² − Σ row·col), so the only IEEE op is "
    "the final division of two exact int64s (< 2^53 even at the 100× "
    "stress) before the 6-dp round — bit-stable cross-engine.",
)
def n9_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("long")
    v = ev.select(
        (vc > 15000).alias("det_a"), (vc > 18000).alias("det_b")
    )
    ct = v.agg(
        F.sum(F.when(F.col("det_a") & F.col("det_b"), 1).otherwise(0))
        .cast("long").alias("n11"),
        F.sum(F.when(F.col("det_a") & ~F.col("det_b"), 1).otherwise(0))
        .cast("long").alias("n10"),
        F.sum(F.when(~F.col("det_a") & F.col("det_b"), 1).otherwise(0))
        .cast("long").alias("n01"),
        F.sum(F.when(~F.col("det_a") & ~F.col("det_b"), 1).otherwise(0))
        .cast("long").alias("n00"),
        F.count(F.lit(1)).alias("n"),
    )
    chance = (F.col("n11") + F.col("n10")) * (
        F.col("n11") + F.col("n01")
    ) + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    kappa = (
        (F.col("n") * (F.col("n11") + F.col("n00")) - chance).cast(
            "double"
        )
        / (F.col("n") * F.col("n") - chance)
    )
    return ct.select(
        "n", "n11", "n10", "n01", "n00", F.round(kappa, 6).alias("kappa")
    )


_BT_SCALE = 100_000_000  # keeps W·SCALE and g·SCALE < 2^53 at 100x
# Cell cap for n10's driver MM rounds: at or under this many
# (winner, loser) duel cells, one bounded collect brings the matrix to
# the driver; above it the unrolled relational plan runs. Not a
# measured crossover: the matrix has k² cells for a vocabulary of k
# event types (the lakes have 5), so the cap only bounds driver memory.
_BT_DRIVER_CELL_CAP = 100_000


def _bt_oracle(iters: int = 3) -> str:
    fdiv = lambda x, d: f"((({x}) - (({x}) % ({d}))) / ({d}))"  # noqa: E731
    s = _BT_SCALE
    its = []
    prev = "p0"
    for r in range(1, iters + 1):
        its.append(f"""s{r} AS (
        SELECT o.i,
               sum({fdiv(f'o.g * {s}', 'pa.p + pb.p')})::BIGINT AS sm
        FROM opp o
        JOIN {prev} pa ON o.i = pa.i
        JOIN {prev} pb ON o.j = pb.i
        GROUP BY o.i
    ), p{r} AS (
        SELECT s{r}.i,
               greatest({fdiv(f'w.n_wins * {s}', f's{r}.sm')}, 1)::BIGINT
                   AS p
        FROM s{r} JOIN winsum w ON s{r}.i = w.i
    )""")
        prev = f"p{r}"
    return f"""
    WITH lagged AS (
        SELECT event_type, value,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS pt,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pv
        FROM events
    ), duels AS (
        SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS win_t,
               CASE WHEN value > pv THEN pt ELSE event_type END AS lose_t
        FROM lagged
        WHERE pt IS NOT NULL AND pt <> event_type AND pv <> value
    ), wl AS (
        SELECT win_t, lose_t, count(*)::BIGINT AS n
        FROM duels GROUP BY win_t, lose_t
    ), opp AS (
        SELECT i, j, sum(n)::BIGINT AS g FROM (
            SELECT win_t AS i, lose_t AS j, n FROM wl
            UNION ALL
            SELECT lose_t AS i, win_t AS j, n FROM wl
        ) GROUP BY i, j
    ), winsum AS (
        SELECT o.i, coalesce(w.nw, 0)::BIGINT AS n_wins
        FROM (SELECT DISTINCT i FROM opp) o
        LEFT JOIN (SELECT win_t AS i, sum(n)::BIGINT AS nw
                   FROM wl GROUP BY win_t) w ON o.i = w.i
    ), games AS (
        SELECT i, sum(g)::BIGINT AS n_games FROM opp GROUP BY i
    ), p0 AS (
        SELECT i, 1000000::BIGINT AS p FROM winsum
    ), {', '.join(its)}
    SELECT w.i AS event_type, w.n_wins, g.n_games,
           p.p AS strength_micro
    FROM winsum w JOIN games g ON w.i = g.i
    JOIN {prev} p ON w.i = p.i
    """


@query(
    "n10_bradley_terry",
    _bt_oracle(),
    "Bradley-Terry preference-strength fit — the RLHF-era aggregation "
    "(pairwise human preferences → per-item strength, Zermelo's MM "
    "algorithm) the reference has nothing like. Duels come from one "
    "per-user window pass (consecutive events; higher value wins — "
    "the comparisons-stream shape); the duel matrix collapses to "
    "per-(winner,loser) counts, so every MM iteration runs on "
    "type-cardinality-sized frames: p'_i = W_i / Σ_j g_ij/(p_i+p_j) "
    "in exact integer micro-units via the portable floor-division "
    "identity (all operands positive and < 2^53 even at the 100× "
    "stress), 3 rounds unrolled — the SQL oracle replays them "
    "bit-for-bit. At 100 TB the ONLY data-scale stage is the duel "
    "count (one window shuffle + one combine-heavy groupBy); the "
    "iteration state is k² count cells, broadcast-sized for any "
    "realistic item vocabulary.",
)
def n10_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _BT_SCALE
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("pt"),
        F.lag("value").over(w).alias("pv"),
    )
    duels = lagged.filter(
        F.col("pt").isNotNull()
        & (F.col("pt") != F.col("event_type"))
        & (F.col("pv") != F.col("value"))
    ).select(
        F.when(F.col("value") > F.col("pv"), F.col("event_type"))
        .otherwise(F.col("pt"))
        .alias("win_t"),
        F.when(F.col("value") > F.col("pv"), F.col("pt"))
        .otherwise(F.col("event_type"))
        .alias("lose_t"),
    )
    # the duel-count matrix feeds every MM round (twice each, through
    # opp and the weight chain) — pin the k²-row frame so the window
    # pass over events runs exactly once
    wl = pin(duels.groupBy("win_t", "lose_t").agg(F.count(F.lit(1)).alias("n")))
    # Round-12 (guide §1.2, the p10/v14/t34 driver-iterate pattern):
    # everything downstream of wl — opp/winsum/games and the 3 MM
    # rounds — is arithmetic over the k²-bounded duel-count matrix
    # (k = event-type vocabulary; "broadcast-sized for any realistic
    # item vocabulary" is this query's own scale contract). The pin's
    # first action materializes the ONE data-scale stage (window pass +
    # combine-heavy groupBy), the k² rows collect under a fixed cap,
    # and the MM fixed point runs in exact Python integers (the same
    # floor-division identity: (x - x%d)/d == x // d for positive
    # operands, and Python ints are exact at any magnitude), returning
    # a VALUES literal. Beyond the cap — or on an empty duel set — the
    # unrolled relational plan below is unchanged.
    tbl = bounded_collect(wl, _BT_DRIVER_CELL_CAP)
    if tbl is not None and tbl.num_rows > 0:
        wlc = zip(*(tbl.column(c).to_pylist() for c in ("win_t", "lose_t", "n")))
        opp_d: dict = {}
        wins_d: dict = {}
        for w_t, l_t, n in wlc:
            opp_d[(w_t, l_t)] = opp_d.get((w_t, l_t), 0) + n
            opp_d[(l_t, w_t)] = opp_d.get((l_t, w_t), 0) + n
            wins_d[w_t] = wins_d.get(w_t, 0) + n
        nodes = sorted({i for i, _ in opp_d})
        n_wins = {i: wins_d.get(i, 0) for i in nodes}
        n_games: dict = {i: 0 for i in nodes}
        for (i, _j), g in opp_d.items():
            n_games[i] += g
        p_d = {i: 1_000_000 for i in nodes}
        for _ in range(3):
            sm_d = {i: 0 for i in nodes}
            for (i, j), g in opp_d.items():
                sm_d[i] += (g * s) // (p_d[i] + p_d[j])
            p_d = {
                i: max((n_wins[i] * s) // sm_d[i], 1) for i in nodes
            }
        return rows_frame(
            spark,
            [(i, n_wins[i], n_games[i], p_d[i]) for i in nodes],
            "event_type string, n_wins long, n_games long, "
            "strength_micro long",
        )
    opp = (
        wl.selectExpr("win_t AS i", "lose_t AS j", "n")
        .unionByName(wl.selectExpr("lose_t AS i", "win_t AS j", "n"))
        .groupBy("i", "j")
        .agg(F.sum("n").cast("long").alias("g"))
    )
    winsum = (
        opp.select("i")
        .distinct()
        .join(
            wl.groupBy(F.col("win_t").alias("i")).agg(
                F.sum("n").cast("long").alias("nw")
            ),
            "i",
            "left",
        )
        .select("i", F.coalesce("nw", F.lit(0)).cast("long").alias("n_wins"))
    )
    games = opp.groupBy("i").agg(F.sum("g").cast("long").alias("n_games"))

    def fdiv(x, d):
        return ((x - (x % d)) / d).cast("long")

    p = winsum.select("i", F.lit(1_000_000).cast("long").alias("p"))
    for _ in range(3):
        pa = p.selectExpr("i", "p AS p_i")
        pb = p.selectExpr("i AS j", "p AS p_j")
        sm = (
            opp.join(F.broadcast(pa), "i")
            .join(F.broadcast(pb), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    fdiv(F.col("g") * s, F.col("p_i") + F.col("p_j"))
                )
                .cast("long")
                .alias("sm")
            )
        )
        p = sm.join(winsum, "i").select(
            "i",
            F.greatest(
                fdiv(F.col("n_wins") * s, F.col("sm")), F.lit(1)
            )
            .cast("long")
            .alias("p"),
        )
    return (
        winsum.join(games, "i")
        .join(p, "i")
        .select(
            F.col("i").alias("event_type"),
            "n_wins",
            "n_games",
            F.col("p").alias("strength_micro"),
        )
    )


@query(
    "n11_welch_ttest",
    """
    WITH m AS (
        SELECT
            sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                ::BIGINT AS na,
            sum(CASE WHEN event_type = 'click' THEN vc ELSE 0 END)
                ::BIGINT AS sa,
            sum(CASE WHEN event_type = 'click' THEN vc * vc ELSE 0 END)
                ::BIGINT AS qa,
            sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                ::BIGINT AS nb,
            sum(CASE WHEN event_type = 'view' THEN vc ELSE 0 END)
                ::BIGINT AS sb,
            sum(CASE WHEN event_type = 'view' THEN vc * vc ELSE 0 END)
                ::BIGINT AS qb
        FROM (SELECT event_type, round(value * 100)::BIGINT AS vc
              FROM events WHERE value IS NOT NULL)
    ), s AS (
        SELECT na, nb,
               sa::DOUBLE / na AS ma, sb::DOUBLE / nb AS mb,
               (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na) / (na - 1)
                   AS va,
               (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb) / (nb - 1)
                   AS vb
        FROM m
    )
    SELECT na, nb, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           round(va, 6) AS var_a, round(vb, 6) AS var_b,
           round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
           round((va / na + vb / nb) * (va / na + vb / nb)
                 / ((va / na) * (va / na) / (na - 1)
                    + (vb / nb) * (vb / nb) / (nb - 1)), 6) AS df
    FROM s
    """,
    "Welch's unequal-variance t-test between two event types' value "
    "distributions — the A/B-experiment readout (the stats family's "
    "two-sample mean test, alongside n8's paired McNemar and n7's "
    "bootstrap): ONE conditional full-scan aggregation produces both "
    "groups' exact integer moments (values in centi-units so the "
    "square-sum stays in int64 past the 100× stress); mean, variance, "
    "t and the Welch-Satterthwaite df are then pure IEEE expressions "
    "over those exact ints in a fixed operand order — bit-identical "
    "cross-engine before the 6-dp rounds. Means/variances are in "
    "centi-unit space (t and df are scale-invariant).",
)
def n11_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vc = F.round(F.col("value") * 100, 0).cast("long")
    is_a = F.col("event_type") == "click"
    is_b = F.col("event_type") == "view"
    m = ev.select(F.col("event_type"), vc.alias("vc")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(is_a, F.col("vc")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(is_a, F.col("vc") * F.col("vc")).otherwise(0))
        .cast("long")
        .alias("qa"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(is_b, F.col("vc")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.sum(F.when(is_b, F.col("vc") * F.col("vc")).otherwise(0))
        .cast("long")
        .alias("qb"),
    )
    ma = F.col("sa").cast("double") / F.col("na")
    mb = F.col("sb").cast("double") / F.col("nb")
    va = (
        F.col("qa").cast("double")
        - F.col("sa").cast("double") * F.col("sa").cast("double") / F.col("na")
    ) / (F.col("na") - 1)
    vb = (
        F.col("qb").cast("double")
        - F.col("sb").cast("double") * F.col("sb").cast("double") / F.col("nb")
    ) / (F.col("nb") - 1)
    s = m.select(
        "na", "nb",
        ma.alias("ma"), mb.alias("mb"), va.alias("va"), vb.alias("vb"),
    )
    sea = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    df = (sea * sea) / (
        (F.col("va") / F.col("na")) * (F.col("va") / F.col("na"))
        / (F.col("na") - 1)
        + (F.col("vb") / F.col("nb")) * (F.col("vb") / F.col("nb"))
        / (F.col("nb") - 1)
    )
    return s.select(
        "na",
        "nb",
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round("va", 6).alias("var_a"),
        F.round("vb", 6).alias("var_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(sea), 6).alias(
            "t_stat"
        ),
        F.round(df, 6).alias("df"),
    )


# ---------------------------------------------------------------------------
# Round-4 session-6: nonparametric tests, survival, time-series diagnostics
# ---------------------------------------------------------------------------


@query(
    "n12_ks_test",
    """
    WITH pv AS (
        SELECT round(value * 100)::BIGINT AS vc,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   ::BIGINT AS ca,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   ::BIGINT AS cb
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        GROUP BY vc
    ), tot AS (
        SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM pv
    ), cum AS (
        SELECT t.na, t.nb,
               sum(pv.ca) OVER (ORDER BY pv.vc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cca,
               sum(pv.cb) OVER (ORDER BY pv.vc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS ccb
        FROM pv CROSS JOIN tot t
    )
    SELECT na, nb,
           max(abs(cca * nb - ccb * na))::BIGINT AS d_scaled,
           round(max(abs(cca * nb - ccb * na))::DOUBLE
                 / (na::DOUBLE * nb::DOUBLE), 6) AS d_stat,
           round(1.358 * sqrt((na + nb)::DOUBLE
                              / (na::DOUBLE * nb::DOUBLE)), 6)
               AS crit_05,
           max(abs(cca * nb - ccb * na))::DOUBLE
               / (na::DOUBLE * nb::DOUBLE)
               > 1.358 * sqrt((na + nb)::DOUBLE
                              / (na::DOUBLE * nb::DOUBLE)) AS reject_05
    FROM cum GROUP BY na, nb
    """,
    "Two-sample Kolmogorov-Smirnov test between the click and view "
    "value distributions (the distribution-shape counterpart of n11's "
    "mean test — detects ANY drift, not just a mean shift; pairs with "
    "r3's binned PSI as the exact unbinned alternative). One scan "
    "reduces the data to per-centi-value counts; the ECDF gap is kept "
    "as the EXACT integer |ca_cum*nb − cb_cum*na| (the w16 rescaling "
    "trick — max over integers, no float ECDFs), and D plus the "
    "critical value at alpha=.05 are single fixed-order IEEE "
    "expressions over exact ints. The only window runs over the "
    "distinct-value frame (bounded by the value range x100, metadata-"
    "sized next to the event scan at any SF).",
)
def n12_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "view")
    )
    pv = (
        ev.select(
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
            F.col("event_type"),
        )
        .groupBy("vc")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    tot = pv.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    wc = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pv.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        F.sum("ca").over(wc).cast("long").alias("cca"),
        F.sum("cb").over(wc).cast("long").alias("ccb"),
    )
    gap = F.abs(F.col("cca") * F.col("nb") - F.col("ccb") * F.col("na"))
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    crit = 1.358 * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double") / (nad * nbd)
    )
    return cum.groupBy("na", "nb").agg(
        F.max(gap).cast("long").alias("d_scaled"),
        F.round(F.max(gap).cast("double") / (nad * nbd), 6).alias(
            "d_stat"
        ),
        F.round(crit, 6).alias("crit_05"),
        (F.max(gap).cast("double") / (nad * nbd) > crit).alias(
            "reject_05"
        ),
    )


@query(
    "n13_mannwhitney_u",
    """
    WITH pv AS (
        SELECT round(value * 100)::BIGINT AS vc,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   ::BIGINT AS ca,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   ::BIGINT AS cb
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
        GROUP BY vc
    ), tot AS (
        SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
               sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                   ::BIGINT AS ties
        FROM pv
    ), cum AS (
        SELECT pv.ca, pv.cb,
               sum(pv.ca + pv.cb) OVER (ORDER BY pv.vc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT - (pv.ca + pv.cb) AS before_n
        FROM pv
    ), r AS (
        SELECT sum(ca * (2 * before_n + ca + cb + 1))::BIGINT AS r2a
        FROM cum
    )
    SELECT t.na, t.nb, t.ties,
           (r.r2a - t.na * (t.na + 1))::BIGINT AS u2,
           round(((r.r2a - t.na * (t.na + 1))::DOUBLE
                  - t.na::DOUBLE * t.nb::DOUBLE)
                 / (2.0 * sqrt(
                     t.na::DOUBLE * t.nb::DOUBLE / 12.0
                     * ((t.na + t.nb + 1)::DOUBLE
                        - t.ties::DOUBLE
                          / ((t.na + t.nb)::DOUBLE
                             * (t.na + t.nb - 1)::DOUBLE)))), 6)
               AS z_stat
    FROM r CROSS JOIN tot t
    """,
    "Mann-Whitney U rank-sum test (the nonparametric sibling of n11's "
    "Welch t — medians/stochastic dominance instead of means, robust "
    "to the heavy-tailed value distributions a mean test misreads). "
    "Average ranks with ties are kept exact by working in doubled "
    "units: 2*R_A = sum over distinct values of ca*(2*before + cnt + "
    "1) — pure int64 — and the tie-corrected variance term sum(t^3 - "
    "t) is an integer aggregate of the same per-value frame. z is one "
    "fixed-order IEEE expression over five exact integers. Same "
    "distinct-value reduction as n12: the data-scale work is a single "
    "scan-aggregate; the ranking window never sees raw rows.",
)
def n13_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "view")
    )
    pv = (
        ev.select(
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
            F.col("event_type"),
        )
        .groupBy("vc")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    cnt = F.col("ca") + F.col("cb")
    tot = pv.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(cnt * cnt * cnt - cnt).cast("long").alias("ties"),
    )
    wc = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pv.select(
        "ca",
        "cb",
        (F.sum(cnt).over(wc).cast("long") - cnt).alias("before_n"),
    )
    r = cum.agg(
        F.sum(
            F.col("ca")
            * (2 * F.col("before_n") + F.col("ca") + F.col("cb") + 1)
        )
        .cast("long")
        .alias("r2a")
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    u2 = F.col("r2a") - F.col("na") * (F.col("na") + 1)
    var = (
        nad * nbd / 12.0
        * (
            (F.col("na") + F.col("nb") + 1).cast("double")
            - F.col("ties").cast("double")
            / (
                (F.col("na") + F.col("nb")).cast("double")
                * (F.col("na") + F.col("nb") - 1).cast("double")
            )
        )
    )
    return r.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        "ties",
        u2.cast("long").alias("u2"),
        F.round(
            (u2.cast("double") - nad * nbd) / (2.0 * F.sqrt(var)), 6
        ).alias("z_stat"),
    )


@query(
    "n14_acf_daily",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS x
        FROM events GROUP BY event_type, d
    ), mu AS (
        SELECT event_type,
               round(sum(x)::DOUBLE / count(*))::BIGINT AS m,
               count(*)::BIGINT AS n_days
        FROM daily GROUP BY event_type
    ), dev AS (
        SELECT d.event_type, m.n_days, d.x - m.m AS dv,
               row_number() OVER (PARTITION BY d.event_type
                                  ORDER BY d.d) AS rn
        FROM daily d JOIN mu m ON d.event_type = m.event_type
    ), den AS (
        SELECT event_type, sum(dv * dv)::BIGINT AS den
        FROM dev GROUP BY event_type
    ), lags AS (
        SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7))
            AS l(lag)
    ), num AS (
        SELECT a.event_type, l.lag, a.n_days,
               sum(a.dv * b.dv)::BIGINT AS num
        FROM dev a
        JOIN lags l ON TRUE
        JOIN dev b ON b.event_type = a.event_type
                  AND b.rn = a.rn + l.lag
        GROUP BY a.event_type, l.lag, a.n_days
    )
    SELECT n.event_type, n.lag, n.n_days, n.num, d.den,
           round(n.num::DOUBLE / d.den::DOUBLE, 6) AS acf
    FROM num n JOIN den d ON n.event_type = d.event_type
    """,
    "Autocorrelation function of the per-type daily count series at "
    "lags 1-7 (the time-series diagnostic behind w17's seasonal "
    "baseline and w19's decomposition: it MEASURES the weekly "
    "periodicity they assume). Deviations are taken about the half-"
    "away-ROUNDED integer mean, so every product d_t*d_{t+k} and both "
    "sums are exact int64 — the estimator is pinned as 'ACF about the "
    "rounded mean', identical text in both engines; one IEEE division "
    "per emitted lag. Lagged alignment is an rn = rn + lag self-join "
    "on the metadata-sized daily frame (7 lags ride one 7-row values "
    "table, no variable-offset lead) — the raw event scan happens "
    "once, in the daily aggregate.",
)
def n14_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    mu = daily.groupBy("event_type").agg(
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 0
        )
        .cast("long")
        .alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    dev = daily.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "n_days",
        (F.col("x") - F.col("m")).alias("dv"),
        F.row_number().over(wo).alias("rn"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    b = dev.select(
        F.col("event_type").alias("event_type_b"),
        F.col("dv").alias("dv_b"),
        F.col("rn").alias("rn_b"),
    )
    num = (
        dev.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("event_type_b") == F.col("event_type"))
            & (F.col("rn_b") == F.col("rn") + F.col("lag")),
        )
        .groupBy("event_type", "lag", "n_days")
        .agg(F.sum(F.col("dv") * F.col("dv_b")).cast("long").alias("num"))
    )
    return num.join(den, "event_type").select(
        "event_type",
        "lag",
        "n_days",
        "num",
        "den",
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"), 6
        ).alias("acf"),
    )


_N15_R = 32  # permutation replicas


def _n15_parts(h: str) -> tuple[str, str, str]:
    """Shared-text pieces for the permutation test: (replica agg cols,
    replica diff exprs folded into n_ge, observed diff expr). One
    60-bit md5 per row supplies all 32 replica labels (bit r of the
    hash) — one scan, no row explosion. ``h`` is the dialect's
    rendering of the SAME portable seeded-md5 integer (the only
    non-shared text)."""
    aggs, diffs = [], []
    for r in range(_N15_R):
        bit = f"(({h} % {2 ** (r + 1)}) >= {2 ** r})"
        aggs.append(
            f"sum(CASE WHEN {bit} THEN vc ELSE 0 END) AS s{r}"
        )
        aggs.append(
            f"sum(CASE WHEN {bit} THEN 1 ELSE 0 END) AS c{r}"
        )
        diffs.append(
            f"(CASE WHEN abs(round(CAST(s{r} AS DOUBLE)"
            f" / CAST(c{r} AS DOUBLE)"
            f" - CAST(st - s{r} AS DOUBLE)"
            f" / CAST(nt - c{r} AS DOUBLE), 6)) >= abs(obs_diff)"
            " THEN 1 ELSE 0 END)"
        )
    obs = (
        "round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6)"
    )
    return ", ".join(aggs), " + ".join(diffs), obs


def _n15_oracle() -> str:
    aggs, n_ge, obs = _n15_parts(
        f"({seeded_md5_long_sql('event_id::VARCHAR', 97)})"
    )
    return f"""
    WITH base AS (
        SELECT event_id, event_type, round(value * 100)::BIGINT AS vc
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ), m AS (
        SELECT
            sum(CASE WHEN event_type = 'click' THEN vc ELSE 0 END)
                ::BIGINT AS sa,
            sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                ::BIGINT AS na,
            sum(CASE WHEN event_type = 'view' THEN vc ELSE 0 END)
                ::BIGINT AS sb,
            sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                ::BIGINT AS nb,
            sum(vc)::BIGINT AS st, count(*)::BIGINT AS nt,
            {aggs}
        FROM base
    ), o AS (
        SELECT *, {obs} AS obs_diff FROM m
    )
    SELECT na, nb, obs_diff,
           CAST({n_ge} AS BIGINT) AS n_ge,
           round((1.0 + CAST({n_ge} AS DOUBLE)) / {_N15_R + 1}.0, 6)
               AS p_value
    FROM o
    """


@query(
    "n15_permutation_test",
    _n15_oracle(),
    "Permutation test for the click-vs-view mean difference (the "
    "resampling counterpart of n7's bootstrap CI and the exact-"
    "inference sibling of n11's parametric t): 32 label permutations, "
    "p = (1 + #{|diff_perm| >= |diff_obs|}) / 33. All 32 replicas "
    "ride ONE scan — bit r of a single portable 60-bit md5 labels "
    "replica r, so the 64 replica aggregates are conditional sums in "
    "one map-side-combined pass, never a 32x row explosion. Group "
    "sums stay exact int64 (centi-units); each replica's mean "
    "difference is a fixed-order IEEE expression rounded to 6 dp "
    "before the >= comparison, making the count an integer decision. "
    "The replica formula text is generated once and shared verbatim "
    "by both engines.",
)
def n15_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    aggs, n_ge, obs = _n15_parts(
        "(CAST(conv(substr(md5(concat('97', ':',"
        " CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT))"
    )
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "view")
    )
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    agg_exprs = [
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'click' THEN vc ELSE 0 END)"
            " AS BIGINT)"
        ).alias("sa"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("na"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'view' THEN vc ELSE 0 END)"
            " AS BIGINT)"
        ).alias("sb"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("nb"),
        F.expr("CAST(sum(vc) AS BIGINT)").alias("st"),
        F.expr("CAST(count(*) AS BIGINT)").alias("nt"),
    ]
    # split the shared replica-agg text into individual expressions
    # (top-level commas only — the CASE bodies contain commas-free text
    # but the split must still respect parens)
    rep_exprs = []
    depth = 0
    cur = ""
    for ch in aggs:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            rep_exprs.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        rep_exprs.append(cur.strip())
    for e in rep_exprs:
        body, alias = e.rsplit(" AS ", 1)
        agg_exprs.append(F.expr(body).cast("long").alias(alias))
    m = base.agg(*agg_exprs)
    o = m.withColumn("obs_diff", F.expr(obs))
    return o.select(
        "na",
        "nb",
        "obs_diff",
        F.expr(n_ge).cast("long").alias("n_ge"),
        F.expr(
            f"round((1.0 + CAST({n_ge} AS DOUBLE)) / {_N15_R + 1}.0, 6)"
        ).alias("p_value"),
    )


def _n16_formulas() -> dict[str, str]:
    """Shared-text final expressions for the one-way ANOVA F — plain
    arithmetic + CAST + round, valid verbatim in Spark SQL and DuckDB,
    over identical int64 inputs (k, nt, st, sst, sb_units), so every
    IEEE intermediate is bit-identical cross-engine. Group terms are
    quantized to WHOLE centi^2 units (not micro): s^2/n scales like the
    sum of squares itself, so unit quantization survives 1000x data
    where micro units overflowed int64 at 30x (caught by the stress
    harness); the <=0.5-per-group rounding error is ~1e-13 relative,
    far inside the 6 dp output round."""
    ssb = (
        "(CAST(sb_units AS DOUBLE)"
        " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))"
    )
    ssw = "(CAST(sst AS DOUBLE) - CAST(sb_units AS DOUBLE))"
    return {
        "ssb": f"round({ssb}, 2)",
        "ssw": f"round({ssw}, 2)",
        "f": (
            f"round(({ssb} / CAST(k - 1 AS DOUBLE))"
            f" / ({ssw} / CAST(nt - k AS DOUBLE)), 6)"
        ),
    }


@query(
    "n16_anova_f",
    f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT event_type, sum(vc)::BIGINT AS s, count(*)::BIGINT AS n,
               sum(vc * vc)::BIGINT AS ss
        FROM base GROUP BY event_type
    ), tot AS (
        SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt,
               sum(s)::BIGINT AS st, sum(ss)::BIGINT AS sst,
               sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(n AS DOUBLE)) AS BIGINT)
               )::BIGINT AS sb_units
        FROM g
    )
    SELECT k AS n_groups, nt AS n_total,
           {_n16_formulas()['ssb']} AS ss_between,
           {_n16_formulas()['ssw']} AS ss_within,
           {_n16_formulas()['f']} AS f_stat
    FROM tot
    """,
    "One-way ANOVA F-statistic across event types (the k-group "
    "generalization of n11's two-sample Welch t: does mean value differ "
    "across ANY of the k event types). Values quantize to exact "
    "centi-int64, so the per-group moments (s, n, ss) are order-free "
    "integer sums in ONE map-side-combined pass. The between-group sum "
    "of squares needs per-group s^2/n terms whose sum order would be "
    "engine-dependent in floating point — so each group's term is "
    "quantized to integer micro-units FIRST and the cross-group sum "
    "stays integer. The final SSB/SSW/F expressions are shared verbatim "
    "by both engines over identical int64 inputs (fixed-order IEEE ops "
    "are bit-identical). Scale shape: one shuffle of k rows; everything "
    "else is the scan.",
)
def n16_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _n16_formulas()
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
    )
    g = base.groupBy("event_type").agg(
        F.sum("vc").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum(
            F.expr(
                "CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
                " / CAST(n AS DOUBLE)) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("sb_units"),
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_total"),
        F.expr(fx["ssb"]).alias("ss_between"),
        F.expr(fx["ssw"]).alias("ss_within"),
        F.expr(fx["f"]).alias("f_stat"),
    )


_N17_RHO = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
)


@query(
    "n17_spearman_rho",
    f"""
    WITH base AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS qx,
               CAST(round(l_extendedprice) AS BIGINT) AS qy
        FROM lineitem
    ), cx AS (
        SELECT qx AS v, count(*)::BIGINT AS c FROM base GROUP BY qx
    ), tot AS (
        SELECT sum(c)::BIGINT AS nt FROM cx
    ), rx AS (
        SELECT v, CAST(round(CAST(2 * coalesce(sum(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) + c + 1 AS DOUBLE)
                   / CAST(2 * tot.nt AS DOUBLE) * 100000.0) AS BIGINT)
                   AS u
        FROM cx, tot
    ), cy AS (
        SELECT qy AS v, count(*)::BIGINT AS c FROM base GROUP BY qy
    ), ry AS (
        SELECT v, CAST(round(CAST(2 * coalesce(sum(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) + c + 1 AS DOUBLE)
                   / CAST(2 * tot.nt AS DOUBLE) * 100000.0) AS BIGINT)
                   AS u
        FROM cy, tot
    ), j AS (
        SELECT rx.u AS r2x, ry.u AS r2y
        FROM base JOIN rx ON base.qx = rx.v JOIN ry ON base.qy = ry.v
    ), m AS (
        SELECT count(*)::BIGINT AS n,
               sum(r2x)::BIGINT AS sx, sum(r2y)::BIGINT AS sy,
               sum(r2x * r2x)::BIGINT AS sxx,
               sum(r2y * r2y)::BIGINT AS syy,
               sum(r2x * r2y)::BIGINT AS sxy
        FROM j
    )
    SELECT n, {_N17_RHO} AS rho
    FROM m
    """,
    "Spearman rank correlation between quantity and extended price over "
    "lineitem — the tie-aware, outlier-robust dependence measure (n14's "
    "ACF is Pearson on lags; this is Pearson on RANKS). The scalable "
    "rank trick: average ranks with ties are computed per DISTINCT "
    "value (group-count frame bounded by the value domain, not the row "
    "count), doubled so tie-averages (.5s) stay exact integers, then "
    "NORMALIZED to [0, 1e5] micro-rank integers (rho is affine-"
    "invariant; raw doubled-rank second moments are ~n^3 and the 30x "
    "stress proved they blow int64 past ~2M rows — normalized moments "
    "are ~n*1e10, safe past 600M rows, at a 1e-5 rank-resolution cost "
    "three orders below the 6 dp output round) and broadcast-joined "
    "back — the raw data never sees a global sort or a single-"
    "partition window. The closing rho is one shared-text fixed-order "
    "IEEE expression rounded to 6 dp.",
)
def n17_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "lineitem").select(
        F.round("l_quantity", 0).cast("long").alias("qx"),
        F.round("l_extendedprice", 0).cast("long").alias("qy"),
    )

    def ranks(col: str) -> DataFrame:
        c = base.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        tot = c.agg(F.sum("c").cast("long").alias("nt"))
        return c.crossJoin(F.broadcast(tot)).select(
            "v",
            F.expr(
                "CAST(round(CAST(2 * coalesce(sum(c) OVER (ORDER BY v"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
                "), 0) + c + 1 AS DOUBLE)"
                " / CAST(2 * nt AS DOUBLE) * 100000.0) AS BIGINT)"
            ).alias("r2"),
        )

    rx = ranks("qx").withColumnRenamed("r2", "r2x")
    ry = ranks("qy").withColumnRenamed("r2", "r2y")
    j = base.join(
        F.broadcast(rx), base.qx == rx.v
    ).join(F.broadcast(ry), base.qy == ry.v)
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2x").cast("long").alias("sx"),
        F.sum("r2y").cast("long").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("long").alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("long").alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("long").alias("sxy"),
    )
    return m.select("n", F.expr(_N17_RHO).alias("rho"))


_N18_R = 16  # label permutations per group


def _n18_parts() -> tuple[str, str, str]:
    """Shared-text pieces for the grouped permutation tests (n15's
    machinery, GROUP BY event_type): replica aggregate columns, the
    folded n_ge count, and the observed-diff expression. All text
    references base columns only (vc, la, he) so BOTH engines consume
    it verbatim."""
    aggs, diffs = [], []
    for r in range(_N18_R):
        bit = f"((he % {2 ** (r + 1)}) >= {2 ** r})"
        aggs.append(
            f"CAST(sum(CASE WHEN {bit} THEN vc ELSE 0 END) AS BIGINT)"
            f" AS s{r}"
        )
        aggs.append(
            f"CAST(sum(CASE WHEN {bit} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS c{r}"
        )
        diffs.append(
            f"(CASE WHEN abs(round(CAST(s{r} AS DOUBLE)"
            f" / CAST(c{r} AS DOUBLE)"
            f" - CAST(st - s{r} AS DOUBLE)"
            f" / CAST(nt - c{r} AS DOUBLE), 6)) >= abs(obs_diff)"
            " THEN 1 ELSE 0 END)"
        )
    obs = (
        "round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(st - sa AS DOUBLE) / CAST(nt - na AS DOUBLE), 6)"
    )
    return ", ".join(aggs), " + ".join(diffs), obs


def _n18_oracle() -> str:
    aggs, n_ge, obs = _n18_parts()
    hu = seeded_md5_long_sql("user_id::VARCHAR", 53)
    he = seeded_md5_long_sql("event_id::VARCHAR", 97)
    return f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc,
               (({hu}) % 2 = 0) AS la,
               ({he}) AS he
        FROM events WHERE value IS NOT NULL
    ), m AS (
        SELECT event_type,
               CAST(sum(CASE WHEN la THEN vc ELSE 0 END) AS BIGINT) AS sa,
               CAST(sum(CASE WHEN la THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(vc) AS BIGINT) AS st,
               CAST(count(*) AS BIGINT) AS nt,
               {aggs}
        FROM base GROUP BY event_type
    ), o AS (
        SELECT *, {obs} AS obs_diff FROM m
    ), p AS (
        SELECT event_type, na, nt, obs_diff,
               CAST({n_ge} AS BIGINT) AS n_ge,
               round((1.0 + CAST({n_ge} AS DOUBLE)) / {_N18_R + 1}.0, 6)
                   AS p_value
        FROM o
    ), r AS (
        SELECT *,
               CAST(row_number() OVER (ORDER BY p_value, event_type)
                    AS BIGINT) AS p_rank,
               CAST(count(*) OVER () AS BIGINT) AS m_tests
        FROM p
    ), b AS (
        SELECT *, round(CAST(p_rank AS DOUBLE) * 0.1
                        / CAST(m_tests AS DOUBLE), 6) AS bh_crit
        FROM r
    ), x AS (
        SELECT *, max(CASE WHEN p_value <= bh_crit THEN p_rank
                           ELSE 0 END) OVER () AS kmax
        FROM b
    )
    SELECT event_type, na AS n_a, CAST(nt - na AS BIGINT) AS n_b,
           obs_diff, n_ge, p_value, p_rank, bh_crit,
           (p_rank <= kmax) AS rejected
    FROM x
    """


@query(
    "n18_fdr_bh",
    _n18_oracle(),
    "Benjamini-Hochberg FDR correction over a FAMILY of per-group "
    "permutation tests — the multiple-comparisons step every screen "
    "that runs n11/n15 per segment needs before acting on 'significant' "
    "groups. Per event type: a user-hash split defines the two arms, "
    "16 label permutations ride bits of ONE portable per-row md5 "
    "(n15's no-row-explosion trick, here under GROUP BY), and "
    "p = (1 + #{|d_perm| >= |d_obs|}) / 17 is exact-rational before a "
    "6 dp round. Then BH at alpha = 0.10: rank p ascending "
    "((p, event_type) tiebreak), reject ranks <= max{k: p_(k) <= "
    "0.1 k/m} — windows over the k-row test frame only. The replica "
    "formula text is generated once and shared verbatim; every "
    "comparison is between identically-rounded doubles, making each "
    "reject verdict an integer decision.",
)
def n18_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    aggs, n_ge, obs = _n18_parts()
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
            (
                seeded_md5_long(F.col("user_id").cast("string"), 53) % 2
                == 0
            ).alias("la"),
            seeded_md5_long(F.col("event_id").cast("string"), 97).alias(
                "he"
            ),
        )
    )
    agg_exprs = [
        F.expr(
            "CAST(sum(CASE WHEN la THEN vc ELSE 0 END) AS BIGINT)"
        ).alias("sa"),
        F.expr("CAST(sum(CASE WHEN la THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "na"
        ),
        F.expr("CAST(sum(vc) AS BIGINT)").alias("st"),
        F.expr("CAST(count(*) AS BIGINT)").alias("nt"),
    ]
    depth, cur = 0, ""
    for ch in aggs:
        depth += ch == "("
        depth -= ch == ")"
        if ch == "," and depth == 0:
            body, alias = cur.strip().rsplit(" AS ", 1)
            agg_exprs.append(F.expr(body).alias(alias))
            cur = ""
        else:
            cur += ch
    if cur.strip():
        body, alias = cur.strip().rsplit(" AS ", 1)
        agg_exprs.append(F.expr(body).alias(alias))
    m = base.groupBy("event_type").agg(*agg_exprs)
    o = m.withColumn("obs_diff", F.expr(obs))
    p = o.select(
        "event_type",
        "na",
        "nt",
        "obs_diff",
        F.expr(n_ge).cast("long").alias("n_ge"),
        F.expr(
            f"round((1.0 + CAST({n_ge} AS DOUBLE)) / {_N18_R + 1}.0, 6)"
        ).alias("p_value"),
    )
    r = p.select(
        "*",
        F.expr(
            "CAST(row_number() OVER (ORDER BY p_value, event_type)"
            " AS BIGINT)"
        ).alias("p_rank"),
        F.expr("CAST(count(*) OVER () AS BIGINT)").alias("m_tests"),
    )
    b = r.withColumn(
        "bh_crit",
        F.expr(
            "round(CAST(p_rank AS DOUBLE) * 0.1"
            " / CAST(m_tests AS DOUBLE), 6)"
        ),
    )
    x = b.withColumn(
        "kmax",
        F.expr(
            "max(CASE WHEN p_value <= bh_crit THEN p_rank ELSE 0 END)"
            " OVER ()"
        ),
    )
    return x.select(
        "event_type",
        F.col("na").alias("n_a"),
        (F.col("nt") - F.col("na")).cast("long").alias("n_b"),
        "obs_diff",
        "n_ge",
        "p_value",
        "p_rank",
        "bh_crit",
        (F.col("p_rank") <= F.col("kmax")).alias("rejected"),
    )


_N19_Q = (
    "round(12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)"
    " * CAST(k + 1 AS DOUBLE)) * (CAST(sr2sq AS DOUBLE) / 4.0)"
    " - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE), 6)"
)


@query(
    "n19_friedman",
    f"""
    WITH cell AS (
        SELECT CAST((epoch_us(ts) - (epoch_us(ts) % 86400000000))
                    / 86400000000 AS BIGINT) AS day,
               event_type, count(*)::BIGINT AS val
        FROM events GROUP BY 1, 2
    ), kk AS (
        SELECT count(DISTINCT event_type)::BIGINT AS k FROM events
    ), blocks AS (
        SELECT day FROM cell, kk GROUP BY day, kk.k
        HAVING count(*) = max(kk.k)
    ), c2 AS (
        SELECT cell.* FROM cell JOIN blocks ON cell.day = blocks.day
    ), g AS (
        SELECT day, val, count(*)::BIGINT AS c
        FROM c2 GROUP BY day, val
    ), r AS (
        SELECT day, val,
               CAST(2 * coalesce(sum(c) OVER (PARTITION BY day
                        ORDER BY val ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + c + 1 AS BIGINT) AS r2
        FROM g
    ), ranked AS (
        SELECT c2.event_type, r.r2
        FROM c2 JOIN r ON c2.day = r.day AND c2.val = r.val
    ), pt AS (
        SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2sum
        FROM ranked GROUP BY event_type
    ), m AS (
        SELECT CAST(sum(r2sum * r2sum) AS BIGINT) AS sr2sq,
               CAST(count(*) AS BIGINT) AS k
        FROM pt
    ), nn AS (
        SELECT count(*)::BIGINT AS n FROM blocks
    )
    SELECT nn.n AS n_blocks, m.k AS k_treatments,
           {_N19_Q} AS q_stat
    FROM m, nn
    """,
    "Friedman rank test across event types with days as blocks — the "
    "repeated-measures nonparametric ANOVA (n16 assumes normality; "
    "n13 handles two unpaired groups; this handles k MATCHED groups): "
    "do the k event types keep the same activity ordering day after "
    "day? Within-block average ranks use the doubled-rank tie algebra "
    "(n13/n17's discipline) computed per (day, value) GROUP — never a "
    "per-row window over the raw data — and only complete blocks "
    "(all k types present) enter, the textbook requirement. Rank sums "
    "and their squares are exact int64; Q is one shared-text IEEE "
    "expression on the 1-row moment frame. Scale: one (day, type) "
    "aggregation of data-scale work; ranks live on the k-per-day "
    "cell frame.",
)
def n19_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cell = pin(
        ev.select(
            (
                (F.unix_micros("ts") - F.unix_micros("ts") % 86400000000)
                / 86400000000
            )
            .cast("long")
            .alias("day"),
            "event_type",
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("val"))
    )
    kk = ev.agg(
        F.countDistinct("event_type").cast("long").alias("k")
    )
    blocks = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("ntypes"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("ntypes") == F.col("k"))
        .select("day")
    )
    c2 = cell.join(F.broadcast(blocks), "day")
    g = c2.groupBy("day", "val").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wd = (
        Window.partitionBy("day")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.select(
        "day",
        "val",
        (2 * F.coalesce(F.sum("c").over(wd), F.lit(0)) + F.col("c") + 1)
        .cast("long")
        .alias("r2"),
    )
    ranked = c2.join(r, ["day", "val"]).select("event_type", "r2")
    pt = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2sum")
    )
    m = pt.agg(
        F.sum(F.col("r2sum") * F.col("r2sum")).cast("long").alias("sr2sq"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    nn = blocks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        m.crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_blocks"),
            F.col("k").alias("k_treatments"),
            F.expr(_N19_Q).alias("q_stat"),
        )
    )


_N20_Z = (
    "CASE WHEN na > 0 AND nb > 0 AND (xa + xb) > 0"
    " AND (xa + xb) < (na + nb) THEN"
    " round((CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))"
    " / sqrt((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
    " * (1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
    " * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 6)"
    " END"
)


@query(
    "n20_two_proportion_z",
    f"""
    WITH u AS (
        SELECT user_id,
               (({seeded_md5_long_sql('user_id::VARCHAR', 53)}) % 2 = 0)
                   AS arm_a,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS n_purch
        FROM events GROUP BY user_id
    ), m AS (
        SELECT
            CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(sum(CASE WHEN arm_a AND n_purch > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS xa,
            CAST(sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT)
                AS nb,
            CAST(sum(CASE WHEN NOT arm_a AND n_purch > 0 THEN 1 ELSE 0
                     END) AS BIGINT) AS xb
        FROM u
    )
    SELECT na, xa, nb, xb,
           CASE WHEN na > 0 THEN round(CAST(xa AS DOUBLE) / CAST(na AS DOUBLE), 6) END AS rate_a,
           CASE WHEN nb > 0 THEN round(CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE), 6) END AS rate_b,
           {_N20_Z} AS z_stat
    FROM m
    """,
    "Two-proportion z-test on per-user purchase conversion between two "
    "hash-split arms — THE A/B-test statistic (n11 compares means; "
    "n15/n18 resample; this is the pooled-variance normal test every "
    "experimentation platform reports first). Conversion is a per-USER "
    "property (any purchase), so the unit of analysis is users — one "
    "user-keyed aggregate, then four exact int64 counts on a 1-row "
    "frame; the z expression is shared-text fixed-order IEEE over "
    "identical integers, rounded to 6 dp. The arm split reuses the "
    "seeded portable md5 (same family as n18's split, so the two "
    "tests are consistent on the same experiment). Degenerate designs "
    "(an empty arm — which actually happens at sf0.001's 15 users — "
    "or 0%/100% pooled conversion, where the variance is 0) emit NULL "
    "via integer guards instead of a cross-engine div-by-zero "
    "divergence.",
)
def n20_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purch")
        )
        .select(
            (
                seeded_md5_long(F.col("user_id").cast("string"), 53) % 2
                == 0
            ).alias("arm_a"),
            "n_purch",
        )
    )
    m = u.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(
            F.when(F.col("arm_a") & (F.col("n_purch") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("xa"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum(
            F.when(~F.col("arm_a") & (F.col("n_purch") > 0), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("xb"),
    )
    return m.select(
        "na",
        "xa",
        "nb",
        "xb",
        F.expr(
            "CASE WHEN na > 0 THEN round(CAST(xa AS DOUBLE) / CAST(na AS DOUBLE), 6) END"
        ).alias("rate_a"),
        F.expr(
            "CASE WHEN nb > 0 THEN round(CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE), 6) END"
        ).alias("rate_b"),
        F.expr(_N20_Z).alias("z_stat"),
    )


_N21_Z = (
    "CASE WHEN (np + nm) > 1 AND np > 0 AND nm > 0 THEN"
    " round((CAST(r AS DOUBLE) - (2.0 * CAST(np AS DOUBLE)"
    " * CAST(nm AS DOUBLE) / CAST(np + nm AS DOUBLE) + 1.0))"
    " / sqrt(2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)"
    " * (2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)"
    " - CAST(np AS DOUBLE) - CAST(nm AS DOUBLE))"
    " / (CAST(np + nm AS DOUBLE) * CAST(np + nm AS DOUBLE)"
    " * CAST(np + nm - 1 AS DOUBLE))), 6) END"
)


@query(
    "n21_runs_test",
    f"""
    WITH daily AS (
        SELECT CAST((epoch_us(ts) - (epoch_us(ts) % 86400000000))
                    / 86400000000 AS BIGINT) AS day,
               count(*)::BIGINT AS y
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), mv AS (
        SELECT day, y - lag(y) OVER (ORDER BY day) AS d
        FROM daily
    ), sgn AS (
        SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
        FROM mv WHERE d IS NOT NULL AND d <> 0
    ), runs AS (
        SELECT s,
               CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                         OR lag(s) OVER (ORDER BY day) <> s
                    THEN 1 ELSE 0 END AS new_run
        FROM sgn
    ), m AS (
        SELECT CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS np,
               CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nm,
               CAST(sum(new_run) AS BIGINT) AS r
        FROM runs
    )
    SELECT np AS n_up, nm AS n_down, r AS n_runs, {_N21_Z} AS z_stat
    FROM m
    """,
    "Wald-Wolfowitz runs test on the daily click series' up/down moves "
    "— the randomness diagnostic (too FEW runs = trending/sticky, too "
    "MANY = oscillating) completing the time-series toolkit around "
    "n14's ACF and w16's CUSUM. Signs, run starts (lag-based change "
    "detection on the time-bounded daily frame), and the three counts "
    "are exact integers; zero moves drop (ties carry no direction). "
    "The normal-approximation z is one shared-text fixed-order IEEE "
    "expression with integer degenerate-case guards (one-sided series "
    "emit NULL, never a div-by-zero divergence — the n20 lesson).",
)
def n21_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            (
                (F.unix_micros("ts") - F.unix_micros("ts") % 86400000000)
                / 86400000000
            )
            .cast("long")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    wd = Window.orderBy("day")
    mv = daily.select("day", (F.col("y") - F.lag("y").over(wd)).alias("d"))
    sgn = mv.filter(F.col("d").isNotNull() & (F.col("d") != 0)).select(
        "day", F.when(F.col("d") > 0, 1).otherwise(-1).alias("s")
    )
    runs = sgn.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    m = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("nm"),
        F.sum("new_run").cast("long").alias("r"),
    )
    return m.select(
        F.col("np").alias("n_up"),
        F.col("nm").alias("n_down"),
        F.col("r").alias("n_runs"),
        F.expr(_N21_Z).alias("z_stat"),
    )


def _n22_benford() -> list[tuple[int, int]]:
    """Benford first-digit probabilities log10(1 + 1/d) as integer
    micro literals (computed ONCE in Python — no libm in either
    engine's plan; the v16/m25 literal-table pattern)."""
    import math

    return [
        (d, int(round(math.log10(1.0 + 1.0 / d) * 1e6)))
        for d in range(1, 10)
    ]


_N22_CONTRIB = (
    "round((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)"
    " * CAST(p_micro AS DOUBLE) / 1000000.0)"
    " * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE)"
    " * CAST(p_micro AS DOUBLE) / 1000000.0)"
    " / (CAST(n AS DOUBLE) * CAST(p_micro AS DOUBLE) / 1000000.0), 6)"
)


def _n22_oracle() -> str:
    rows = ", ".join(f"({d}, {p})" for d, p in _n22_benford())
    return f"""
    WITH b(digit, p_micro) AS (
        SELECT * FROM (VALUES {rows})
    ), obs AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               count(*)::BIGINT AS n_obs
        FROM orders WHERE o_totalprice >= 1
        GROUP BY 1
    ), nn AS (
        SELECT sum(n_obs)::BIGINT AS n FROM obs
    )
    SELECT b.digit, coalesce(obs.n_obs, 0) AS n_obs, b.p_micro,
           nn.n AS n_total,
           {_N22_CONTRIB.replace('n_obs', 'coalesce(obs.n_obs, 0)')
                        .replace('CAST(n AS', 'CAST(nn.n AS')
                        .replace('p_micro', 'b.p_micro')} AS chi2_term
    FROM b LEFT JOIN obs ON b.digit = obs.digit, nn
    """


@query(
    "n22_benford_test",
    _n22_oracle(),
    "Benford's-law first-digit screen over order totals — the "
    "forensic data-quality test (fabricated or truncated monetary "
    "data flunks it) that belongs next to r4's DQ suite and m28's "
    "sample chi2. First digits come from exact integer string "
    "arithmetic; the Benford expectations log10(1 + 1/d) are "
    "PRECOMPUTED integer micro literals shared verbatim by both "
    "engines (no libm in either plan — the v16/m25 pattern), so each "
    "digit's chi-square term is one shared-text fixed-order IEEE "
    "expression over exact integers. ONE map-side-combined "
    "aggregation of data-scale work; digits that never occur still "
    "emit a row (left join against the literal table) so a "
    "degenerate distribution can't silently shrink the test.",
)
def n22_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = literal_df(spark, _n22_benford(), "digit long, p_micro long")
    obs = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.round("o_totalprice", 0).cast("long").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    nn = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    grid = (
        b.join(obs, "digit", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            "p_micro",
            F.col("n").alias("n_total"),
        )
    )
    return grid.select(
        "digit",
        "n_obs",
        "p_micro",
        "n_total",
        F.expr(
            _N22_CONTRIB.replace("CAST(n AS", "CAST(n_total AS")
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# round 6: variance-homogeneity and normality diagnostics
# ---------------------------------------------------------------------------

_N25_W = (
    "round((CAST(nt - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))"
    " * (CAST(a_units AS DOUBLE) / CAST(b_units AS DOUBLE)), 6)"
)


@query(
    "n25_levene_bf",
    f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), rk AS (
        SELECT event_type, vc,
               row_number() OVER (PARTITION BY event_type ORDER BY vc)
                   AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM base
    ), med AS (
        SELECT event_type,
               sum(CASE WHEN rn = (n + 1) // 2 THEN vc ELSE 0 END)
               + sum(CASE WHEN rn = n // 2 + 1 THEN vc ELSE 0 END)
                   AS med2
        FROM rk GROUP BY event_type
    ), z AS (
        SELECT b.event_type, abs(2 * b.vc - m.med2) AS z2
        FROM base b JOIN med m USING (event_type)
    ), g AS (
        SELECT event_type, count(*)::BIGINT AS n,
               sum(z2)::BIGINT AS s, sum(z2 * z2)::BIGINT AS ss
        FROM z GROUP BY event_type
    ), tot AS (
        SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt,
               sum(s)::BIGINT AS st FROM g
    ), units AS (
        SELECT t.k, t.nt,
               sum(CAST(round(CAST(g.n AS DOUBLE)
                   * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                      - CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE))
                   * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                      - CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE))
                   ) AS BIGINT))::BIGINT AS a_units,
               sum(CAST(round(CAST(g.ss AS DOUBLE)
                   - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)
                     / CAST(g.n AS DOUBLE)) AS BIGINT))::BIGINT
                   AS b_units
        FROM g, tot t GROUP BY t.k, t.nt
    )
    SELECT k AS n_groups, nt AS n_total, a_units, b_units,
           {_N25_W} AS w_stat
    FROM units
    """,
    "Brown-Forsythe / Levene variance-homogeneity test across event "
    "types (the spread counterpart of n16's mean ANOVA — is ANY "
    "group's dispersion different; BF centers on the MEDIAN, the "
    "robust variant SciPy defaults to for skewed data). Exactness: "
    "2*median is an integer (sum of the two middle cents via "
    "rank-window selection — no engine median() semantics), absolute "
    "deviations z = |2x - med2| stay integer, per-group (n, sum z, "
    "sum z^2) are order-free integer sums, and the two cross-group "
    "float sums (between-group and within-group SS) quantize each "
    "group's term to integer units BEFORE summing (the n16 "
    "discipline). One extra shuffle vs ANOVA (the per-group median "
    "rank window); W's scale factor cancels the 2x so no correction "
    "is needed (both SS terms are quadratic in z).",
)
def n25_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("vc")
    wn = Window.partitionBy("event_type")
    rk = base.select(
        "event_type",
        "vc",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k1 = (F.col("n") + 1) / 2
    k2 = F.col("n") / 2 + 1
    med = rk.groupBy("event_type").agg(
        (
            F.sum(
                F.when(
                    F.col("rn") == k1.cast("long"), F.col("vc")
                ).otherwise(0)
            )
            + F.sum(
                F.when(
                    F.col("rn") == k2.cast("long"), F.col("vc")
                ).otherwise(0)
            )
        ).alias("med2")
    )
    z = base.join(med, "event_type").select(
        "event_type",
        F.abs(2 * F.col("vc") - F.col("med2")).alias("z2"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z2").cast("long").alias("s"),
        F.sum(F.col("z2") * F.col("z2")).cast("long").alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )
    units = g.crossJoin(F.broadcast(tot)).groupBy("k", "nt").agg(
        F.sum(
            F.expr(
                "CAST(round(CAST(n AS DOUBLE)"
                " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
                "    - CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))"
                " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
                "    - CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))"
                ") AS BIGINT)"
            )
        )
        .cast("long")
        .alias("a_units"),
        F.sum(
            F.expr(
                "CAST(round(CAST(ss AS DOUBLE)"
                " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
                "   / CAST(n AS DOUBLE)) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("b_units"),
    )
    return units.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_total"),
        "a_units",
        "b_units",
        F.expr(_N25_W).alias("w_stat"),
    )


@query(
    "n26_jarque_bera",
    """
    WITH m AS ({A10}),
    cnt AS (
        SELECT event_type, count(*)::BIGINT AS n FROM events
        GROUP BY event_type
    ), jb AS (
        SELECT m.event_type, cnt.n,
               round((CAST(cnt.n AS DOUBLE) / 6.0)
                     * (m.skewness * m.skewness
                        + (m.kurtosis * m.kurtosis) / 4.0), 6) AS jb_stat
        FROM m JOIN cnt USING (event_type)
    )
    SELECT event_type, n, jb_stat,
           (jb_stat > 5.991464547107979) AS reject_normal_5pct
    FROM jb
    """.replace("{A10}", "__A10__"),
    "Jarque-Bera normality test per event type (the decision layer "
    "over a10's moment engine): JB = n/6 (S^2 + K^2/4) with S the "
    "skewness and K the EXCESS kurtosis, compared to the chi-square(2) "
    "5% critical value — the standard residual-normality gate before "
    "trusting t/F-based intervals (n11/n16). Composes a10_moments' "
    "already-bit-stable 6-dp moments (exact integer power sums -> "
    "fixed-order IEEE), so the statistic is a pure deterministic "
    "function of hash-verified inputs; one extra k-row join for the "
    "group counts.",
)
def n26_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.plans.q_relational import a10_moments

    m = a10_moments(spark, sf_dir)
    cnt = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    jb = (
        (F.col("n").cast("double") / 6.0)
        * (
            F.col("skewness") * F.col("skewness")
            + (F.col("kurtosis") * F.col("kurtosis")) / 4.0
        )
    )
    out = m.join(cnt, "event_type").select(
        "event_type", "n", F.round(jb, 6).alias("jb_stat")
    )
    return out.withColumn(
        "reject_normal_5pct", F.col("jb_stat") > 5.991464547107979
    )


# stitch a10's oracle into n26 (decoration-time string compose keeps the
# registered SQL self-contained)
QUERIES["n26_jarque_bera"] = QuerySpec(
    fn=QUERIES["n26_jarque_bera"].fn,
    oracle=QUERIES["n26_jarque_bera"].oracle.replace(
        "__A10__", QUERIES["a10_moments"].oracle
    ),
    doc=QUERIES["n26_jarque_bera"].doc,
)


_N27_Z2 = (
    "round((CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE) * CAST(nt AS DOUBLE))"
    " / (CAST(rt AS DOUBLE) * CAST(nt - rt AS DOUBLE)"
    "    * (CAST(nt AS DOUBLE) * CAST(snss AS DOUBLE)"
    "       - CAST(sns AS DOUBLE) * CAST(sns AS DOUBLE))), 6)"
)


@query(
    "n27_cochran_armitage",
    f"""
    WITH base AS (
        SELECT user_id % 5 AS g,
               CASE WHEN value > 150 THEN 1 ELSE 0 END AS r
        FROM events WHERE value IS NOT NULL
    ), grp AS (
        SELECT g, count(*)::BIGINT AS n, sum(r)::BIGINT AS r
        FROM base GROUP BY g
    ), tot AS (
        SELECT sum(n)::BIGINT AS nt, sum(r)::BIGINT AS rt,
               sum(g * r)::BIGINT AS sr, sum(g * n)::BIGINT AS sns,
               sum(g * g * n)::BIGINT AS snss
        FROM grp
    ), stat AS (
        SELECT nt, rt, sns, snss,
               (nt * sr - rt * sns)::BIGINT AS t2
        FROM tot
    )
    SELECT nt AS n_total, rt AS n_pos, t2,
           {_N27_Z2} AS z2,
           (CASE WHEN t2 >= 0 THEN 1 ELSE -1 END)::BIGINT AS trend_sign
    FROM stat
    """,
    "Cochran-Armitage trend test — does a BINARY outcome rate trend "
    "monotonically across ordered exposure groups (the binary-outcome "
    "counterpart of n24's Mann-Kendall; epidemiology's dose-response "
    "gate): outcome = high-reading flag, groups = user-id quintile "
    "classes with integer scores 0..4. The statistic reduces to "
    "Z^2 = T^2 N / (R(N-R)(N*Sum(n s^2) - (Sum(n s))^2)) with "
    "T = N*Sum(s r) - R*Sum(s n) — every input an order-free integer "
    "sum from ONE map-side-combined pass over the scan, combined in "
    "one fixed-order double expression (kept in doubles so the "
    "squared term can't overflow int64 at 100x). trend_sign carries "
    "the direction the chi-square loses.",
)
def n27_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("user_id") % 5).alias("g"),
            F.when(F.col("value") > 150, 1).otherwise(0).alias("r"),
        )
    )
    grp = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("r"),
    )
    tot = grp.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("r").cast("long").alias("rt"),
        F.sum(F.col("g") * F.col("r")).cast("long").alias("sr"),
        F.sum(F.col("g") * F.col("n")).cast("long").alias("sns"),
        F.sum(F.col("g") * F.col("g") * F.col("n"))
        .cast("long")
        .alias("snss"),
    )
    stat = tot.select(
        "nt",
        "rt",
        "sns",
        "snss",
        (F.col("nt") * F.col("sr") - F.col("rt") * F.col("sns"))
        .cast("long")
        .alias("t2"),
    )
    return stat.select(
        F.col("nt").alias("n_total"),
        F.col("rt").alias("n_pos"),
        "t2",
        F.expr(_N27_Z2).alias("z2"),
        F.when(F.col("t2") >= 0, 1).otherwise(-1).cast("long").alias(
            "trend_sign"
        ),
    )


def _n28_oracle() -> str:
    m40 = QUERIES["m40_calibration_bins"].oracle
    return f"""
    WITH cal AS ({m40}),
    terms AS (
        SELECT bin,
               CAST(round(
                   ((CAST(n_pos AS DOUBLE)
                     - CAST(sum_pm AS DOUBLE) / 1000000)
                    * (CAST(n_pos AS DOUBLE)
                       - CAST(sum_pm AS DOUBLE) / 1000000))
                   / ((CAST(sum_pm AS DOUBLE) / 1000000)
                      * (1.0 - CAST(sum_pm AS DOUBLE) / 1000000
                               / CAST(n AS DOUBLE)))
                   * 1000000) AS BIGINT) AS hl_units
        FROM cal
    )
    SELECT count(*)::BIGINT AS n_bins,
           sum(hl_units)::BIGINT AS hl_units,
           round(CAST(sum(hl_units) AS DOUBLE) / 1000000, 6) AS hl_stat,
           (CAST(sum(hl_units) AS DOUBLE) / 1000000
            > 15.50731305586545) AS reject_calibrated_5pct
    FROM terms
    """


@query(
    "n28_hosmer_lemeshow",
    _n28_oracle(),
    "Hosmer-Lemeshow goodness-of-fit over m40's calibration bins — "
    "the classical decision statistic for 'is this model calibrated' "
    "(completes the calibration trio: m40 audits, m42 recalibrates, "
    "n28 tests): HL = Sum_g (O_g - E_g)^2 / (E_g (1 - E_g/n_g)) with "
    "O the observed positives and E the summed predicted "
    "probabilities, compared to the chi-square(B-2) 5% critical "
    "value. Each bin's term is one fixed-order double expression "
    "over hash-verified integer aggregates, quantized to micro-units "
    "BEFORE the cross-bin sum (the n16 discipline) so summation "
    "order can't flip the hash. Corpus-scale cost is m40's single "
    "aggregation; this adds 10 rows of arithmetic.",
)
def n28_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.plans.q_ml import m40_calibration_bins

    cal = m40_calibration_bins(spark, sf_dir)
    e = F.col("sum_pm").cast("double") / 1000000
    term = (
        (F.col("n_pos").cast("double") - e)
        * (F.col("n_pos").cast("double") - e)
        / (e * (F.lit(1.0) - e / F.col("n").cast("double")))
    )
    terms = cal.select(
        F.round(term * 1000000, 0).cast("long").alias("hl_units")
    )
    out = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("hl_units").cast("long").alias("hl_units"),
    )
    return out.select(
        "n_bins",
        "hl_units",
        F.round(F.col("hl_units").cast("double") / 1000000, 6).alias(
            "hl_stat"
        ),
        (
            F.col("hl_units").cast("double") / 1000000
            > 15.50731305586545
        ).alias("reject_calibrated_5pct"),
    )


_N29_H = (
    "round((12.0 * CAST(s_units AS DOUBLE)"
    " / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0)))"
    " / (1.0 - CAST(tie_units AS DOUBLE)"
    " / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)"
    " * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))), 6)"
)


@query(
    "n29_kruskal_wallis",
    f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), cx AS (
        SELECT vc AS v, count(*)::BIGINT AS c FROM base GROUP BY vc
    ), nt AS (
        SELECT sum(c)::BIGINT AS nt FROM cx
    ), rx AS (
        SELECT v, c,
               2 * coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + c - nt.nt AS r2c
        FROM cx, nt
    ), gv AS (
        SELECT base.event_type, rx.v, count(*)::BIGINT AS cg, rx.r2c
        FROM base JOIN rx ON base.vc = rx.v
        GROUP BY base.event_type, rx.v, rx.r2c
    ), g AS (
        SELECT event_type, sum(cg)::BIGINT AS n,
               sum(cg * r2c)::BIGINT AS r2csum
        FROM gv GROUP BY event_type
    ), tot AS (
        SELECT count(*)::BIGINT AS n_groups, sum(n)::BIGINT AS n_total,
               sum(CAST(round(CAST(r2csum AS DOUBLE) * CAST(r2csum AS DOUBLE)
                              / (4.0 * CAST(n AS DOUBLE)))
                    AS BIGINT))::BIGINT AS s_units
        FROM g
    ), ties AS (
        SELECT sum(c * c * c - c)::BIGINT AS tie_units FROM cx
    )
    SELECT n_groups, n_total, tie_units, s_units, {_N29_H} AS h_stat
    FROM tot, ties
    """,
    "Kruskal-Wallis H test across event types (the k-group rank "
    "generalization of n13's Mann-Whitney U, the non-parametric twin "
    "of n16's ANOVA F — does the value DISTRIBUTION differ across any "
    "event type, no normality assumed). Rank machinery reuses n17's "
    "scalable trick: tie-averaged ranks doubled to exact integers, "
    "computed per DISTINCT centi-quantized value (the rank window is "
    "bounded by the value domain, never the row count), joined back as "
    "a broadcast; per-group rank sums are order-free integer "
    "aggregations in one map-side-combined pass. The cross-group "
    "sum of R_g^2/n_g terms would be order-dependent in floating "
    "point, so each group's term quantizes to an integer FIRST (the "
    "n16 sb_units discipline) over CENTERED doubled ranks — the "
    "identity H = 12*sum(Rc_g^2/n_g)/(N(N+1)) (centered rank sums "
    "cancel the 3(N+1) term exactly since sum_g Rc_g = 0) keeps the "
    "per-group term near zero under the null instead of ~N^2, which "
    "the x100 stress proved necessary: uncentered R_g^2 milli-units "
    "overflow int64 past ~5e5 rows, centered terms are "
    "data-separation-bounded (horizon documented: a fully separated "
    "group of n_g rows costs ~n_g*N^2/4 units, int64-safe to ~3e8 "
    "rows; tie cubes are int64-safe while no single value repeats "
    ">2.1e6 times). Final H is one shared-text fixed-order IEEE "
    "expression, 6 dp.",
)
def n29_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
    )
    cx = base.groupBy(F.col("vc").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nt = cx.agg(F.sum("c").cast("long").alias("nt"))
    rx = cx.crossJoin(F.broadcast(nt)).select(
        "v",
        "c",
        F.expr(
            "2 * coalesce(sum(c) OVER (ORDER BY v"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
            "), 0) + c - nt"
        ).alias("r2c"),
    )
    gv = (
        base.join(F.broadcast(rx), base.vc == rx.v)
        .groupBy("event_type", "v", "r2c")
        .agg(F.count(F.lit(1)).cast("long").alias("cg"))
    )
    g = gv.groupBy("event_type").agg(
        F.sum("cg").cast("long").alias("n"),
        F.sum(F.col("cg") * F.col("r2c")).cast("long").alias("r2csum"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(
            F.expr(
                "CAST(round(CAST(r2csum AS DOUBLE) * CAST(r2csum AS DOUBLE)"
                " / (4.0 * CAST(n AS DOUBLE))) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("s_units"),
    )
    ties = rx.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_units")
    )
    return tot.crossJoin(F.broadcast(ties)).select(
        "n_groups", "n_total", "tie_units", "s_units",
        F.expr(_N29_H).alias("h_stat"),
    )


_N30_CHI2 = (
    "round(CAST(n_total AS DOUBLE)"
    " * (CAST(ad_m_bc AS DOUBLE) * CAST(ad_m_bc AS DOUBLE))"
    " / (CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)"
    " * CAST(n_g AS DOUBLE) * CAST(n_rest AS DOUBLE)), 6)"
)


@query(
    "n30_mood_median",
    f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), cx AS (
        SELECT vc AS v, count(*)::BIGINT AS c FROM base GROUP BY vc
    ), med AS (
        -- exact lower median from the value-domain histogram: the
        -- smallest v whose cumulative count reaches ceil(N/2)
        SELECT min(v) AS m FROM (
            SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                   sum(c) OVER () AS nt
            FROM cx
        ) WHERE cum * 2 >= nt
    ), flags AS (
        SELECT b.event_type,
               CASE WHEN b.vc > med.m THEN 1 ELSE 0 END AS above
        FROM base b, med
    ), g AS (
        SELECT event_type, count(*)::BIGINT AS n_g,
               sum(above)::BIGINT AS a_g
        FROM flags GROUP BY event_type
    ), tot AS (
        SELECT sum(n_g)::BIGINT AS n_total, sum(a_g)::BIGINT AS n_above
        FROM g
    )
    SELECT g.event_type, g.n_g, g.a_g,
           (g.n_g - g.a_g)::BIGINT AS b_g,
           tot.n_total, tot.n_above,
           (tot.n_total - tot.n_above)::BIGINT AS n_below,
           (tot.n_total - g.n_g)::BIGINT AS n_rest,
           (g.a_g * (tot.n_total - tot.n_above)
            - (g.n_g - g.a_g) * tot.n_above)::BIGINT AS ad_m_bc,
           {_N30_CHI2} AS chi2_vs_rest
    FROM g, tot
    """,
    "Mood's median test per event type (the distribution-free "
    "complement of n29's rank H: does each group sit above/below the "
    "GLOBAL median more than chance — robust when only a location "
    "shift matters). The global median is exact and scalable: a "
    "running sum over the bounded value-domain histogram (the n17/n29 "
    "distinct-value trick — never a global row sort), then one "
    "map-side-combined above/below count per group, then each group's "
    "2x2-vs-rest chi-square from EXACT int64 cross terms (ad-bc on "
    "the common denominator — no float until the single shared-text "
    "final expression, 6 dp). Everything after the scan is "
    "histogram-sized.",
)
def n30_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
    )
    cx = base.groupBy(F.col("vc").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    med = (
        cx.select(
            "v",
            F.sum("c").over(Window.orderBy("v")).alias("cum"),
            F.sum("c").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("nt"),
        )
        .filter(F.col("cum") * 2 >= F.col("nt"))
        .agg(F.min("v").alias("m"))
    )
    flags = base.crossJoin(F.broadcast(med)).select(
        "event_type",
        F.when(F.col("vc") > F.col("m"), 1).otherwise(0).alias("above"),
    )
    g = flags.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("above").cast("long").alias("a_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("a_g").cast("long").alias("n_above"),
    )
    out = g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_g",
        "a_g",
        (F.col("n_g") - F.col("a_g")).cast("long").alias("b_g"),
        "n_total",
        "n_above",
        (F.col("n_total") - F.col("n_above")).cast("long").alias("n_below"),
        (F.col("n_total") - F.col("n_g")).cast("long").alias("n_rest"),
        (
            F.col("a_g") * (F.col("n_total") - F.col("n_above"))
            - (F.col("n_g") - F.col("a_g")) * F.col("n_above")
        )
        .cast("long")
        .alias("ad_m_bc"),
    )
    return out.withColumn("chi2_vs_rest", F.expr(_N30_CHI2))
