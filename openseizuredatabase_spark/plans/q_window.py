"""Window, time-series and signal-conversion queries (SURVEY W*, C*).

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
from openseizuredatabase_spark.functions.literal import literal_df
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

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)
from openseizuredatabase_spark.plans.q_shared import (  # noqa: F401
    _EMB_DIM,
)



@query(
    "c5_json_extract",
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
           count(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
                 THEN 1 END) AS n_high
    FROM events
    GROUP BY event_type
    """,
    "C5 nested-JSON field extraction promoted to columns "
    "(osdDbConnection.py:33-64 dataJSON expansion) + aggregation.",
)
def c5_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
    )


# ---------------------------------------------------------------------------
# Window / time-series operators (W3-W7, W5, W12, A8)
# ---------------------------------------------------------------------------


@query(
    "w3_gap_fill",
    """
    WITH diffs AS (
        SELECT user_id, ts,
               epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)) AS prev_e,
               epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)) AS gap_s
        FROM events
    ), gaps AS (
        SELECT user_id, prev_e, floor(gap_s / 1800)::BIGINT AS n_fill
        FROM diffs WHERE gap_s > 3600
    )
    SELECT user_id, floor(prev_e + i * 1800)::BIGINT AS fill_epoch
    FROM gaps, unnest(generate_series(1, n_fill)) AS t(i)
    """,
    "W3 gap repair, fill-row synthesis (flattenData.py:240-342): for every "
    "gap > 1h per user emit floor(gap/30min) filler timestamps on the grid. "
    "sequence()+explode generates rows executor-side — no driver loop.",
)
def w3_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return window_ops.gap_fill_rows(ev, ["user_id"], "ts", 1800, 3600)


@query(
    "w31_dp_gap_repair",
    """
    WITH RECURSIVE ev AS (
        SELECT event_id, (2 + event_id % 2)::BIGINT AS d4,
               event_id * 1000 AS base
        FROM events WHERE event_id < 40
    ), dps AS (
        SELECT event_id, g.rn AS rn,
               (base + CASE g.rn WHEN 0 THEN 0 WHEN 1 THEN 5
                                 WHEN 2 THEN 23 WHEN 3 THEN 28
                                 WHEN 4 THEN 28 + d4 WHEN 5 THEN 39 + d4
                                 WHEN 6 THEN 46 + d4
                                 ELSE 76 + d4 END)::DOUBLE AS t
        FROM ev, unnest(generate_series(0, 7)) AS g(rn)
    ), walk AS (
        SELECT event_id, rn, t, TRUE AS kept, 0::BIGINT AS n_fill,
               t AS last_end, t AS fill_base
        FROM dps WHERE rn = 0
        UNION ALL
        SELECT d.event_id, d.rn, d.t,
               (d.t - 5.0) - w.last_end >= -2.0 AS kept,
               CASE WHEN (d.t - 5.0) - w.last_end > 2.0
                    THEN floor(((d.t - 5.0) - w.last_end) / 5.0)::BIGINT
                    ELSE 0 END AS n_fill,
               CASE WHEN (d.t - 5.0) - w.last_end < -2.0 THEN w.last_end
                    ELSE d.t END AS last_end,
               w.last_end AS fill_base
        FROM walk w JOIN dps d ON d.event_id = w.event_id
                               AND d.rn = w.rn + 1
    )
    SELECT event_id, t AS epoch_s, 'dp' AS kind FROM walk WHERE kept
    UNION ALL
    SELECT event_id, fill_base + 5.0 * f.i AS epoch_s, 'fill' AS kind
    FROM walk, unnest(generate_series(1, n_fill)) AS f(i)
    """,
    "W3 LITERAL datapoint-stream repair (flattenData.py:274-337 walk, "
    "round-8 fidelity audit — the generic lag()-pairwise gap ops w3/w4 "
    "keep their scaled sessionization semantics; this entry pins the "
    "reference's exact stateful recurrence): gap = dp start (dataTime "
    "− 5 s) minus the last KEPT dp's end; > 2 s tolerance emits "
    "int(gap/5) zero-fill rows on the 5 s grid THEN keeps the dp; "
    "< −2 s SKIPS the dp with the carried end pinned (so the next dp "
    "compares against the kept row — the fixture's post-skip gap "
    "places its fill where only the stateful walk puts it); within "
    "tolerance keeps the dp. Streams engineered per event (8 dps: "
    "normal / 13 s gap → 2 fills / borderline / ±parity skip-vs-keep "
    "at exactly −3 s vs −2 s / post-skip fill / sub-dp gap → 0 fills "
    "/ 25 s gap → 5 fills). Spark: one applyInPandas walk per event "
    "(operators/windows.repair_dp_stream). Oracle: recursive CTE "
    "carries last_end and unnests the fill counts.",
)
def w31_dp_gap_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 40)
    d4 = 2 + F.col("event_id") % 2
    offsets = F.array(
        F.lit(0), F.lit(5), F.lit(23), F.lit(28),
        28 + d4, 39 + d4, 46 + d4, 76 + d4,
    )
    dps = ev.select(
        "event_id", F.explode(offsets).alias("off")
    ).select(
        "event_id",
        F.timestamp_seconds(
            (F.col("event_id") * 1000 + F.col("off")).cast("double")
        ).alias("dpTimestamp"),
    )
    out = window_ops.repair_dp_stream(
        dps, ["event_id"], "dpTimestamp", dp_duration_s=5.0, tolerance_s=2.0
    )
    return out.select("event_id", "epoch_s", "kind")


@query(
    "w4_gap_census",
    """
    WITH diffs AS (
        SELECT user_id,
               epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)) AS t_diff_s
        FROM events
    )
    SELECT user_id,
           count(CASE WHEN t_diff_s > 7200 THEN 1 END) AS n_gaps,
           count(CASE WHEN t_diff_s < 60 THEN 1 END) AS n_extras,
           count(*) AS n_rows
    FROM diffs GROUP BY user_id
    """,
    "W4 gap/extra census (eventAnalyser.py:180-191): tDiff>6s gap, <4s "
    "extra, scaled to the events table (2h / 60s).",
)
def w4_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_ops.gap_census(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", 7200, 60
    )


@query(
    "w5_epoch_segmentation",
    """
    WITH numbered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts ASC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n,
               round(sum(round(value * 100)::BIGINT) OVER (PARTITION BY user_id ORDER BY ts ASC
                     ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING)
                     / (100.0 * count(value) OVER (PARTITION BY user_id ORDER BY ts ASC
                        ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING)), 6) AS win_avg,
               count(value) OVER (PARTITION BY user_id ORDER BY ts ASC
                     ROWS BETWEEN CURRENT ROW AND 24 FOLLOWING) AS win_n
        FROM events
    )
    SELECT user_id, (rn - 1)::BIGINT AS epoch_start_rn, win_avg, win_n
    FROM numbered
    WHERE (rn - 1) % 12 = 0 AND rn + 24 <= n
    """,
    "W5 epoch segmentation (extractFeatures.py:143-211): overlapping "
    "25-row windows every 12 rows per user, with per-window aggregate — "
    "forward window frame + row_number filter, no per-group collect.",
)
def w5_epoch_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-integer cents (round(value*100) is bit-exact in both engines)
    # so the windowed mean can't straddle a rounding boundary cross-engine
    ev = _t(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100, 0).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    frame = w.rowsBetween(0, 24)
    d = (
        ev.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("__sum", F.sum("__cents").over(frame))
        .withColumn("win_n", F.count("value").over(frame))
    )
    return d.filter(
        ((F.col("__rn") - 1) % 12 == 0) & (F.col("__rn") + 24 <= F.col("__n"))
    ).select(
        "user_id",
        (F.col("__rn") - 1).cast("long").alias("epoch_start_rn"),
        F.round(F.col("__sum") / (100.0 * F.col("win_n")), 6).alias("win_avg"),
        "win_n",
    )


@query(
    "w6_feature_history",
    """
    WITH lagged AS (
        SELECT event_id, user_id,
               value AS value_t0,
               lag(value, 1) OVER w AS value_t1,
               lag(value, 2) OVER w AS value_t2,
               round(sum(round(value * 100)::BIGINT) OVER (PARTITION BY user_id ORDER BY ts ASC
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                     / (100.0 * count(value) OVER (PARTITION BY user_id ORDER BY ts ASC
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)), 6) AS value_mean,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    )
    SELECT event_id, user_id, value_t0, value_t1, value_t2, value_mean
    FROM lagged WHERE rn >= 3
    """,
    "W6 feature-history lags (addFeatureHistory.py:21-39): col_t-0..t-2 + "
    "rolling mean per user, first n-1 rows dropped.",
)
def w6_feature_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rolling mean and lags are computed over the FULL per-user sequence,
    # then the first n-1 rows are dropped (window exprs must be
    # materialized before any filter — filtering first would re-pair lag
    # neighbors)
    ev = _t(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100, 0).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    frame = w.rowsBetween(-2, 0)
    d = (
        ev.withColumn("value_t0", F.col("value"))
        .withColumn("value_t1", F.lag("value", 1).over(w))
        .withColumn("value_t2", F.lag("value", 2).over(w))
        .withColumn(
            "value_mean",
            F.round(
                F.sum("__cents").over(frame) / (100.0 * F.count("value").over(frame)),
                6,
            ),
        )
        .withColumn("__rn", F.row_number().over(w))
    )
    return d.filter(F.col("__rn") >= 3).select(
        "event_id", "user_id", "value_t0", "value_t1", "value_t2", "value_mean"
    )


@query(
    "w7_moving_average",
    """
    WITH framed AS (
        SELECT event_id, user_id,
               sum(CASE WHEN value >= 20 THEN round(value * 100)::BIGINT END) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS s,
               count(CASE WHEN value >= 20 THEN 1 END) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS c
        FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN c > 0 THEN round(s / (100.0 * c), 6) END AS mov_avg
    FROM framed
    """,
    "W7 moving-average with sentinel skip + adaptive thresholds "
    "(hrAlg.py:55-113): trailing 6-row mean ignoring missing values.",
)
def w7_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc())
        .rowsBetween(-5, 0)
    )
    valid_cents = F.when(
        F.col("value") >= 20, F.round(F.col("value") * 100, 0).cast("long")
    )
    valid_one = F.when(F.col("value") >= 20, 1)
    cnt = F.count(valid_one).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.when(
            cnt > 0,
            F.round(F.sum(valid_cents).over(w) / (100.0 * cnt), 6),
        ).alias("mov_avg"),
    )


@query(
    "w12_topk_per_group",
    """
    WITH ranked AS (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id ASC) AS rank
        FROM events
    )
    SELECT event_type, rank, event_id, value FROM ranked WHERE rank <= 3
    """,
    "W12 top-k per group (rank/limit pattern; D1/D2 'best row' generalized).",
)
def w12_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = window_ops.top_k_per_group(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        [F.col("value").desc(), F.col("event_id").asc()],
        3,
    )
    return out.select("event_type", "rank", "event_id", "value")


# ---------------------------------------------------------------------------
# Stateful / DSP operators (non-SQL-expressible → rows-only driver check;
# exact semantics are unit-tested against reference formulas in tests/)
# ---------------------------------------------------------------------------


@query(
    "w10_alarm_state_machine",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, (value > 150) AS flag,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    ), steps AS (
        SELECT user_id, rn, 0 AS state,
               CASE WHEN flag THEN 5.0 ELSE 0.0 END::DOUBLE AS cnt
        FROM ordered WHERE rn = 1
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
        JOIN ordered o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id,
           count(*) FILTER (WHERE state = 2) AS n_alarm_dps,
           count(*) FILTER (WHERE state = 1) AS n_warn_dps,
           count(*) AS n_dps
    FROM steps GROUP BY user_id
    """,
    "W10 OSD alarm state machine (osdAlg.py:264-346): per-user ordered "
    "accumulate/decay recurrence via mapInPandas over key-sorted "
    "partitions — order-dependent, not a fixed-frame window. in-alarm "
    "analog: value > 150. Oracle: DuckDB recursive CTE walks the exact "
    "same recurrence (accumulate +5 s, WARN > 5 s, ALARM > 10 s, "
    "ALARM→WARN decay with count pinned to warn_time) step-for-step — "
    "recursion depth = max rows per key, fine at oracle scale; Spark "
    "side stays linear mapInPandas for lake scale.",
)
def w10_alarm_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.detection.osd_alg import (
        OsdSettings,
        run_state_machine,
    )

    ev = _t(spark, sf_dir, "events").withColumn("in_alarm", F.col("value") > 150)
    out = run_state_machine(
        ev,
        ["user_id"],
        "ts",
        "in_alarm",
        "event_id",
        OsdSettings(sample_period=5, warn_time=5, alarm_time=10),
    )
    return out.groupBy("user_id").agg(
        F.count(F.when(F.col("alarmState") == 2, 1)).alias("n_alarm_dps"),
        F.count(F.when(F.col("alarmState") == 1, 1)).alias("n_warn_dps"),
        F.count(F.lit(1)).alias("n_dps"),
    )


# c9 bin bounds via the reference's freq2fftBin float route
# (osdAlg.py:47,157-159) at N=_EMB_DIM samples / 25 Hz
_C9_CUT = min(int(12.0 / (1.0 / (_EMB_DIM / 25.0))), _EMB_DIM // 2 - 1)
_C9_LO = int(3.0 / (1.0 / (_EMB_DIM / 25.0)))
_C9_HI = int(8.0 / (1.0 / (_EMB_DIM / 25.0)))


@query(
    "c9_fft_features",
    f"""
    WITH ex AS (
        SELECT vec_id, g.i - 1 AS n, embedding[g.i]::DOUBLE AS x
        FROM embeddings, unnest(generate_series(1, {_EMB_DIM})) AS g(i)
    ), bins AS (
        SELECT vec_id, k.k AS k,
               sum(x * cos(2 * pi() * k.k * n / {_EMB_DIM}.0)) AS re,
               sum(x * sin(2 * pi() * k.k * n / {_EMB_DIM}.0)) AS im
        FROM ex, unnest(generate_series(1, {_EMB_DIM // 2})) AS k(k)
        GROUP BY vec_id, k.k
    ), agg AS (
        SELECT vec_id,
               sum(re*re + im*im)
                   FILTER (WHERE k BETWEEN 1 AND {_C9_CUT})
                   / {_EMB_DIM}.0 / 2.0 / 1000.0 AS spec,
               sum(re*re + im*im)
                   FILTER (WHERE k BETWEEN {_C9_LO} AND {_C9_HI - 1})
                   / {_C9_HI - _C9_LO}.0 / 1000.0 AS roi
        FROM bins GROUP BY vec_id
    )
    SELECT vec_id, round(spec, 6) AS spec_power,
           round(roi, 6) AS roi_power,
           round(CASE WHEN roi <= 0.0 OR spec <= 0.0 THEN 0.0
                      ELSE 10.0 * roi / spec END, 6) AS roi_ratio
    FROM agg
    """,
    "C9/C10/C11 FFT kernel — literal port of the testRunner formulas "
    "(osdAlg.py:161-187,210-219; round-7 fidelity fix): specPower = SUM "
    "of bins 1..min(freq2fftBin(12.0), N/2−1) / N / 2 / 1000 (the "
    "android-consistency 12.0 Hz cutoff, osdAlg.py:48-50), roiPower = "
    "mean over [nMin, nMax) — EXCLUSIVE top bin — / 1000, per array via "
    "Arrow-batched mapInPandas; embeddings arrays stand in for accel "
    f"frames. At N={_EMB_DIM}/25 Hz: cutoff bin {_C9_CUT}, ROI bins "
    f"{_C9_LO}..{_C9_HI - 1}. Oracle: DuckDB computes the literal O(N²) "
    "DFT (per-bin cos/sin sums) — the same spectrum numpy's FFT "
    "factorizes; 6-dp rounding absorbs the ~1e-13 FFT-vs-DFT summation "
    "difference.",
)
def c9_fft_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.signal import with_fft_features

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("rawData")
    )
    out = with_fft_features(
        emb, "rawData", sample_freq=25.0, freq_min=3.0, freq_max=8.0,
        alarm_thresh=0.0,
    )
    return out.select(
        "vec_id",
        F.round("specPower_c", 6).alias("spec_power"),
        F.round("roiPower_c", 6).alias("roi_power"),
        F.round("roiRatio_c", 6).alias("roi_ratio"),
    )


@query(
    "r5_band_energy_panel",
    f"""
    WITH ex AS (
        SELECT vec_id, g.i - 1 AS n, embedding[g.i]::DOUBLE AS x
        FROM embeddings, unnest(generate_series(1, {_EMB_DIM})) AS g(i)
    ), mu AS (
        SELECT vec_id, avg(x) AS m FROM ex GROUP BY vec_id
    ), bins AS (
        SELECT ex.vec_id, k.k AS k,
               sqrt(pow(sum(x * cos(2 * pi() * k.k * n / {_EMB_DIM}.0)), 2)
                    + pow(sum(x * sin(2 * pi() * k.k * n / {_EMB_DIM}.0)),
                          2)) AS mag,
               sqrt(pow(sum((x - mu.m)
                            * cos(2 * pi() * k.k * n / {_EMB_DIM}.0)), 2)
                    + pow(sum((x - mu.m)
                              * sin(2 * pi() * k.k * n / {_EMB_DIM}.0)),
                          2)) AS dmag
        FROM ex JOIN mu ON ex.vec_id = mu.vec_id,
             unnest(generate_series(0, {_EMB_DIM // 2 - 1})) AS k(k)
        GROUP BY ex.vec_id, k.k
    )
    SELECT vec_id,
           round(sum(mag) FILTER (WHERE k * 125.0 / {_EMB_DIM} >= 0
                                    AND k * 125.0 / {_EMB_DIM} <= 2),
                 6) AS low_e,
           round(sum(mag) FILTER (WHERE k * 125.0 / {_EMB_DIM} >= 2
                                    AND k * 125.0 / {_EMB_DIM} <= 10),
                 6) AS mid_e,
           round(sum(mag) FILTER (WHERE k * 125.0 / {_EMB_DIM} >= 10
                                    AND k * 125.0 / {_EMB_DIM} <= 25),
                 6) AS high_e,
           round(sum(dmag), 6) AS demeaned_mag_sum
    FROM bins GROUP BY vec_id
    """,
    "dataVisualiser spectral panels as one oracled stage (round-10 "
    "blueprint-audit close: every panel's numeric content now maps to "
    "a checked query): frequency_band_energy_plotter.py:12-36 — "
    "full-FFT |X| MAGNITUDES (with the sqrt, unlike the detector's "
    "un-rooted power), fftfreq band masks with INCLUSIVE edges (DC "
    "lands in the low band) at the panel's fs=125 quirk — and "
    "fft_plotter.py:28-47 — demean, FFT, positive-half magnitude sum. "
    "Embeddings arrays stand in for accel rows (the c9 convention). "
    "Oracle: literal O(N²) DFT per bin with the same freq masks; 6-dp "
    "rounding absorbs FFT-vs-DFT summation noise. The other panels "
    "map to existing families (SURVEY §2.13): raw projections (S1/C5/"
    "C6), skew/kurt (A10/W5), per-chunk std+max (A9/W5), STFT+mel "
    "(C12/C9 epochs + m25's filterbank).",
)
def r5_band_energy_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.signal import (
        with_band_energy_panel,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("rawData")
    )
    out = with_band_energy_panel(
        emb, "rawData", fs=125.0, bands=((0, 2), (2, 10), (10, 25))
    )
    return out.select(
        "vec_id",
        F.round("band_e0", 6).alias("low_e"),
        F.round("band_e1", 6).alias("mid_e"),
        F.round("band_e2", 6).alias("high_e"),
        F.round("demeaned_mag_sum", 6).alias("demeaned_mag_sum"),
    )


@query(
    "c3_relative_time",
    """
    SELECT event_id, user_id,
           round(epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id), 6)
               AS rel_s,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso_time
    FROM events
    """,
    "C2/C3 time scalar functions (analyse_event.py:153-158, "
    "generateSimulatedEvents.py:14-18): relative seconds from the group's "
    "first row + epoch→ISO formatting.",
)
def c3_relative_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = F.col("ts").cast("double")
    return ev.select(
        "event_id",
        "user_id",
        F.round(e - F.min(e).over(w), 6).alias("rel_s"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_time"),
    )


# ---------------------------------------------------------------------------
# Remaining §2 odds and ends: W2 global sort, F12 group-size filter,
# M5/M6 augmentation (deterministic but libm-dependent → rows-only)
# ---------------------------------------------------------------------------


@query(
    "w2_sorted_index",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso_time, user_id
    FROM events
    ORDER BY ts ASC, event_id ASC
    LIMIT 100
    """,
    "W2/S5 global sort + index projection (osdDbConnection.py:227 CSV "
    "index ordering): range-partitioned sort, top-N collapses to TakeOrdered.",
)
def w2_sorted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(100)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_time"),
            "user_id",
        )
    )


@query(
    "w8_hr_interp",
    """
    WITH seq AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS idx,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS hr
        FROM events
    ), marked AS (
        SELECT user_id, idx,
               last_value(hr IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y1,
               last_value(CASE WHEN hr IS NOT NULL THEN idx END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS x1,
               first_value(hr IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY idx
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS y2,
               first_value(CASE WHEN hr IS NOT NULL THEN idx END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY idx
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS x2,
               count(hr) OVER (PARTITION BY user_id) AS n_valid
        FROM seq
    )
    SELECT user_id, idx,
           round(CASE
               WHEN x1 IS NULL THEN y2
               WHEN x2 IS NULL THEN y1
               WHEN x1 = x2 THEN y1
               ELSE (y2 - y1) / (x2 - x1)::DOUBLE * (idx - x1) + y1
           END, 6) AS hr_interp
    FROM marked WHERE n_valid > 0
    """,
    "W8 HR interpolation (extractFeatures.py:90-110 np.interp): fill "
    "invalid heart-rate samples by linear interpolation over the sample "
    "index, constant extrapolation at the edges — executed by the REAL "
    "numpy kernel (functions/features.interp_sparse) in one "
    "applyInPandas stage per event key, oracled by the closed-form "
    "prev/next-valid window formulation (slope*(x-x1)+y1 is np.interp's "
    "exact operation order, so doubles agree bit-for-bit). Upgrades W8 "
    "from rows-only to value-hash coverage.",
)
def w8_hr_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from openseizuredatabase_spark.functions.features import interp_sparse

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", -1.0)
        .otherwise(F.col("value"))
        .alias("hr"),
    )

    def interp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        v = pdf["hr"].to_numpy(dtype=float)
        out = interp_sparse(v, len(v))
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "idx": np.arange(len(v), dtype="int64"),
                "hr_interp": np.round(out, 6),
            }
        )

    out = ev.groupBy("user_id").applyInPandas(
        interp, "user_id long, idx long, hr_interp double"
    )
    # all-invalid users emit NaN (oracle drops them via n_valid > 0):
    # filter the same set here — isnan never true for interpolated rows
    return out.filter(~F.isnan("hr_interp"))


def _c13_oracle() -> str:
    from openseizuredatabase_spark.functions.features import butter_coeffs

    b, a = butter_coeffs(2, 0.2, "low")
    b0, b1, b2 = (repr(float(v)) for v in b)
    a1, a2 = (repr(float(v)) for v in a[1:])
    # direct-form II transposed, order 2:
    #   y  = b0*x + z0 ; z0' = b1*x + z1 - a1*y ; z1' = b2*x - a2*y
    y_expr = f"({b0})*s.x + st.z0"
    return f"""
    WITH RECURSIVE samples AS (
        SELECT event_id, g.i,
               round(sin(2 * pi() * (event_id % 5 + 1)::DOUBLE * g.i / 25.0)
                     * 64) / 64 AS x
        FROM events, unnest(generate_series(0, 124)) AS g(i)
        WHERE event_id < 40
    ), steps AS (
        SELECT event_id, i,
               ({b0})*x AS y,
               ({b1})*x - ({a1})*(({b0})*x) AS z0,
               ({b2})*x - ({a2})*(({b0})*x) AS z1
        FROM samples WHERE i = 0
        UNION ALL
        SELECT s.event_id, s.i,
               {y_expr},
               ({b1})*s.x + st.z1 - ({a1})*({y_expr}),
               ({b2})*s.x - ({a2})*({y_expr})
        FROM steps st
        JOIN samples s ON s.event_id = st.event_id AND s.i = st.i + 1
    )
    SELECT event_id, i, round(y, 6) AS y
    FROM steps
    """


@query(
    "c13_iir_recurrence",
    _c13_oracle(),
    "C13 Butterworth IIR forward pass (extractFeatures.py:214-261 low/"
    "high-pass; functions/features._lfilter): the REAL direct-form-II-"
    "transposed numpy kernel runs per event through one Arrow stage, "
    "oracled by a recursive CTE walking the IDENTICAL recurrence "
    "(y = b0*x + z0; z0' = b1*x + z1 - a1*y; z1' = b2*x - a2*y) with "
    "the same butter_coeffs constants — IEEE doubles agree bit-for-bit "
    "because both engines execute the same operation order. Upgrades "
    "the C13 recurrence kernel from rows-only to value-hash coverage "
    "(filtfilt's padding/reversal layers stay pinned by scipy-parity "
    "pytest).",
)
def c13_iir_recurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from openseizuredatabase_spark.functions.features import (
        _lfilter,
        butter_coeffs,
    )

    b, a = butter_coeffs(2, 0.2, "low")
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 40)
    freq = (F.col("event_id") % 5 + 1).cast("double")
    sig = ev.select(
        "event_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(124)),
            lambda i: F.round(
                F.sin(2 * math.pi * freq * i.cast("double") / 25.0) * 64, 0
            )
            / 64,
        ).alias("x"),
    )

    @F.pandas_udf("array<double>")
    def lfilt(batch: pd.Series) -> pd.Series:
        return batch.map(
            lambda x: np.round(
                _lfilter(b, a, np.asarray(x, dtype=float)), 6
            ).tolist()
        )

    out = sig.select("event_id", F.posexplode(lfilt("x")).alias("i", "y"))
    return out.select("event_id", "i", "y")


def w5_epoch_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W8/C13/C14 full epoch feature extraction (extractFeatures.py:
    143-211): per-key signal concat, gravity high-pass, Hann-Welch PSD
    band features, HR interpolation — one applyInPandas stage per key;
    feature vector as a map column (stable schema at any feature count).

    Retired from the registry in round 7 (was the last rows-only
    entry): the same full chain is value-hash-oracled by
    w5_epoch_oracled, and the filtfilt/Welch kernels stay pinned by the
    scipy-parity pytests. Kept as a callable for the map-column
    feature-vector shape."""
    from openseizuredatabase_spark.functions.features import extract_epoch_features

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("eventId"),
        F.col("ts").alias("dpTimestamp"),
        F.expr(
            "transform(sequence(0, 24), i -> value * (1 + 0.1 * sin(i)))"
        ).alias("rawData"),
        F.col("value").alias("hr"),
    )
    feats = extract_epoch_features(
        ev, window_len=125, step=125, gravity_cutoff=0.5
    )
    return feats.groupBy("eventId").agg(
        F.count(F.lit(1)).alias("n_epochs"),
        F.round(
            F.avg(F.element_at(F.col("features"), "activity_count_magnitude")), 4
        ).alias("avg_activity"),
    )


@query(
    "c19_signal_generator",
    """
    WITH base AS (
        SELECT event_id, (event_id % 5 + 1)::DOUBLE AS freq
        FROM events WHERE event_id < 100
    ), samples AS (
        SELECT event_id,
               round(sin(2 * pi() * freq * i / 25.0) * 10000)::BIGINT AS s
        FROM base, unnest(generate_series(0, 24)) AS g(i)
    )
    SELECT event_id, sum(s)::BIGINT AS sig_sum_q, max(s) AS sig_max_q,
           count(*) AS n
    FROM samples GROUP BY event_id
    """,
    "C19 synthetic sinusoid generation (generateSimulatedEvents.py:21-80) "
    "as sequence()+transform trig expressions — data synthesis runs "
    "executor-side, quantized for engine parity.",
)
def c19_signal_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    base = ev.select(
        "event_id", ((F.col("event_id") % 5 + 1).cast("double")).alias("freq")
    )
    samples = base.select(
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(24))).alias("i"),
        "freq",
    ).select(
        "event_id",
        F.round(
            F.sin(2 * math.pi * F.col("freq") * F.col("i") / 25.0) * 10000, 0
        ).cast("long").alias("s"),
    )
    return samples.groupBy("event_id").agg(
        F.sum("s").alias("sig_sum_q"),
        F.max("s").alias("sig_max_q"),
        F.count(F.lit(1)).alias("n"),
    )


def _quantized_signal(n: int = 25, scale: int = 10000):
    """Deterministic per-event sinusoid, quantized to longs so Spark and
    DuckDB trig libm differences can't flip the value hash (c19 pattern).
    ``scale=100`` keeps 4th-power sums exactly representable in float64
    (the w5_epoch_moments requirement: |s|<=100 → sum(s^4) <= 5e9)."""
    freq = (F.col("event_id") % 5 + 1).cast("double")
    return F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.round(
            F.sin(2 * math.pi * freq * i.cast("double") / 25.0) * scale, 0
        ).cast("long"),
    )


_QSIG_SQL = """
        SELECT event_id,
               round(sin(2 * pi() * (event_id % 5 + 1)::DOUBLE * i / 25.0)
                     * 10000)::BIGINT AS s,
               i
        FROM events, unnest(generate_series(0, 24)) AS g(i)
        WHERE event_id < 200
"""


@query(
    "c15_line_length",
    f"""
    WITH samples AS ({_QSIG_SQL})
    SELECT event_id,
           round(sum(d) / 24.0, 6) AS line_length
    FROM (
        SELECT event_id, abs(s - lag(s) OVER (PARTITION BY event_id ORDER BY i)) AS d
        FROM samples
    ) t
    WHERE d IS NOT NULL
    GROUP BY event_id
    """,
    "C15 mean line length Σ|xᵢ−xᵢ₋₁|/(n−1) (libosd/osdAlgTools.py:161-172) "
    "— array-native zip_with/aggregate, whole-stage codegen, zero shuffle "
    "on the Spark side; the oracle re-derives it with a lag window.",
)
def c15_line_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.signal import mean_line_length

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    sig = ev.select("event_id", _quantized_signal().alias("sig"))
    return sig.select(
        "event_id",
        F.round(mean_line_length(F.col("sig")), 6).alias("line_length"),
    )


@query(
    "c16_zero_crossing",
    f"""
    WITH samples AS ({_QSIG_SQL})
    SELECT event_id,
           round(sum(d) / 50.0, 6) AS zcr
    FROM (
        SELECT event_id,
               abs(sign(s) - lag(sign(s)) OVER (PARTITION BY event_id ORDER BY i)) AS d
        FROM samples
    ) t
    WHERE d IS NOT NULL
    GROUP BY event_id
    """,
    "C16 zero-crossing rate Σ|sign(xᵢ)−sign(xᵢ₋₁)|/2n — the "
    "conventional crossing count (an engine generic; NOTE the "
    "reference's executed accelFeatures.py:79 omits the abs and "
    "telescopes to the net sign change — that exact variant is what "
    "the epoch feature kernel and w5_epoch_moments reproduce) — "
    "signum + pairwise diff as array expressions; oracle uses a lag "
    "window over unnested samples.",
)
def c16_zero_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.signal import zero_crossing_rate

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    sig = ev.select("event_id", _quantized_signal().alias("sig"))
    return sig.select(
        "event_id",
        F.round(
            zero_crossing_rate(F.col("sig"), mean_center=False), 6
        ).alias("zcr"),
    )


@query(
    "w9_spectral_history",
    """
    WITH ev AS (
        SELECT event_id, (event_id % 5 + 1)::DOUBLE AS freq
        FROM events WHERE event_id < 40
    ), samples AS (
        SELECT event_id, d.dp AS slice_idx, n.n AS n,
               sin(2 * pi() * freq * (n.n + d.dp * 125)::DOUBLE / 25.0)
                   * 100.0 AS x
        FROM ev,
             unnest(generate_series(0, 1)) AS d(dp),
             unnest(generate_series(0, 124)) AS n(n)
    ), stats AS (
        SELECT event_id, slice_idx, sum(x) AS s1, sum(x * x) AS s2,
               sum(x * cos(2 * pi() * 62.0 * n / 125.0)) AS re62,
               sum(x * sin(2 * pi() * 62.0 * n / 125.0)) AS im62,
               stddev_pop(x) AS sd
        FROM samples GROUP BY event_id, slice_idx
    )
    SELECT event_id AS eventId, slice_idx AS sliceIdx,
           CASE WHEN sd < 10.0 THEN 0
                ELSE round((125.0 * s2 - s1 * s1) / 2.0
                           - (re62 * re62 + im62 * im62), 0)::BIGINT
           END AS spec_power_q
    FROM stats
    """,
    "W9 spectral history / spectrogram — literal twin of "
    "generateSpectralHistoryFromAccelLst2 (eventAnalyser.py:236-274, "
    "round-8 fidelity fixes): sliding-FFT power slices per event, "
    "emitting bins 1..61 only (fftPow[1:fftLen] — DC and the top bin "
    "EXCLUDED), with low-movement zeroing (pop-std < 10), the 0.001 "
    "zeroTol clip, and the reference's endPosn < len geometry (the "
    "final aligned window is NOT emitted — 3 dps of 125 samples yield "
    "2 slices, not 3). Oracle sidesteps the FFT via Parseval: "
    "Σ|X|² over bins 1..61 = (N·Σx² − (Σx)²)/2 − |X₆₂|², with the one "
    "remaining bin-62 term as a literal single-bin DFT; integer "
    "quantization absorbs libm sin/summation drift and the sub-0.1 "
    "zeroTol clip mass.",
)
def w9_spectral_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.features import spectral_history

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 40)
    freq = (F.col("event_id") % 5 + 1).cast("double")
    dps = ev.select(
        F.col("event_id").alias("eventId"),
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("dpIdx"),
        freq.alias("freq"),
    ).select(
        "eventId",
        F.col("dpIdx").cast("long").alias("dpTimestamp"),
        F.transform(
            F.sequence(F.lit(0), F.lit(124)),
            lambda i: F.sin(
                2 * math.pi * F.col("freq") * (i + F.col("dpIdx") * 125).cast("double") / 25.0
            )
            * 100.0,
        ).alias("rawData"),
    )
    spec = spectral_history(
        dps, event_col="eventId", ts_col="dpTimestamp", window_len=125, step=125
    )
    return spec.select(
        "eventId",
        "sliceIdx",
        F.round(
            F.aggregate("spectrum", F.lit(0.0), lambda a, x: a + x), 0
        ).cast("long").alias("spec_power_q"),
    )


@query(
    "c1_timestamp_cascade",
    """
    WITH raw AS (
        SELECT event_id,
               CASE event_id % 4
                 WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
                 WHEN 1 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
                 WHEN 2 THEN strftime(ts, '%d-%m-%Y %H:%M:%S')
                 ELSE        strftime(ts, '%d/%m/%Y %H:%M:%S')
               END AS raw_ts
        FROM events
    )
    SELECT event_id,
           epoch(CASE
             WHEN raw_ts LIKE '____-__-__T%' THEN strptime(raw_ts, '%Y-%m-%dT%H:%M:%SZ')
             WHEN raw_ts LIKE '____-__-__ %' THEN strptime(raw_ts, '%Y-%m-%d %H:%M:%S')
             WHEN raw_ts LIKE '__-__-____ %' THEN strptime(raw_ts, '%d-%m-%Y %H:%M:%S')
             ELSE strptime(raw_ts, '%d/%m/%Y %H:%M:%S')
           END)::BIGINT AS epoch_s
    FROM raw
    """,
    "C1 multi-format timestamp cascade (dpTools.py:6-11, "
    "flattenData.py:30-74: 8 defensive formats): events re-rendered into "
    "4 legacy string formats (ISO-Z / ISO-space / dayfirst-dash / "
    "dayfirst-slash by id), then normalized by the ingest cascade "
    "coalesce(try_to_timestamp(fmt_i)...) — one expression, no UDF; the "
    "oracle re-parses with format-dispatched strptime.",
)
def c1_timestamp_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.ingest import parse_osdb_time

    ev = _ts(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 4 == 0,
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        )
        .when(F.col("event_id") % 4 == 1, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("event_id") % 4 == 2, F.date_format("ts", "dd-MM-yyyy HH:mm:ss"))
        .otherwise(F.date_format("ts", "dd/MM/yyyy HH:mm:ss"))
        .alias("raw_ts"),
    )
    return raw.select(
        "event_id",
        (F.unix_micros(parse_osdb_time(F.col("raw_ts"))) / 1_000_000)
        .cast("long")
        .alias("epoch_s"),
    )


@query(
    "c12_taper",
    """
    WITH samples AS (
        SELECT event_id,
               round(sin(2 * pi() * (event_id % 5 + 1)::DOUBLE * i / 25.0)
                     * 10000)::BIGINT AS s,
               i
        FROM events, unnest(generate_series(0, 24)) AS g(i)
        WHERE event_id < 200
    )
    SELECT event_id,
           sum(round(s * (0.54 - 0.46 * cos(2 * pi() * i / 24.0)))::BIGINT
              )::BIGINT AS tapered_sum_q
    FROM samples GROUP BY event_id
    """,
    "C12 taper windows (libosd/osdAlgTools.py:27-92): Hamming window "
    "precomputed driver-side as a lit() array, applied JVM-side via "
    "zip_with — per-element quantization keeps both engines integer-exact.",
)
def c12_taper(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.signal import taper_column

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    sig = ev.select("event_id", _quantized_signal().alias("sig"))
    tapered = sig.select(
        "event_id",
        F.transform(
            taper_column(F.col("sig"), "hamming", 25),
            lambda x: F.round(x, 0).cast("long"),
        ).alias("tap"),
    )
    return tapered.select(
        "event_id",
        F.aggregate("tap", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "tapered_sum_q"
        ),
    )


@query(
    "c6_deinterleave_magnitude",
    """
    WITH samples AS (
        SELECT event_id, i,
               round(sin(2 * pi() * (event_id % 5 + 1)::DOUBLE * i / 25.0) * 1000)::BIGINT AS x,
               round(cos(2 * pi() * (event_id % 5 + 1)::DOUBLE * i / 25.0) * 1000)::BIGINT AS y,
               1000::BIGINT AS z
        FROM events, unnest(generate_series(0, 124)) AS g(i)
        WHERE event_id < 200
    )
    SELECT event_id,
           sum(round(sqrt((x*x + y*y + z*z)::DOUBLE))::BIGINT)::BIGINT
               AS mag_sum_q,
           count(*) AS n
    FROM samples GROUP BY event_id
    """,
    "C6 3D de-interleave (flattenData.py:137-144: x=raw3D[0::3] etc.) + "
    "C8 vector magnitude (accelFeatures.py:67): interleaved 375-element "
    "array split by transform(sequence) index arithmetic, magnitude as "
    "per-sample sqrt — all codegen, no UDF; per-element quantization "
    "keeps the engines integer-exact (IEEE sqrt is correctly rounded).",
)
def c6_deinterleave_magnitude(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.ingest import deinterleave_3d

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    freq = (F.col("event_id") % 5 + 1).cast("double")
    interleaved = ev.select(
        "event_id",
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(124)),
                lambda n: F.array(
                    F.round(
                        F.sin(2 * math.pi * freq * n.cast("double") / 25.0) * 1000, 0
                    ).cast("long"),
                    F.round(
                        F.cos(2 * math.pi * freq * n.cast("double") / 25.0) * 1000, 0
                    ).cast("long"),
                    F.lit(1000).cast("long"),
                ),
            )
        ).alias("rawData3D"),
    )
    dp = deinterleave_3d(interleaved)
    quant = dp.select(
        "event_id",
        F.transform(
            F.col("magnitude3D"), lambda x: F.round(x, 0).cast("long")
        ).alias("mag_q"),
    )
    return quant.select(
        "event_id",
        F.aggregate("mag_q", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "mag_sum_q"
        ),
        F.size("mag_q").cast("long").alias("n"),
    )


@query(
    "c4_label_encode",
    """
    SELECT label,
           count(*)                AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM (
        SELECT user_id,
               CASE WHEN event_type = 'error' THEN 1
                    WHEN event_type IN ('click', 'view') THEN 0
                    ELSE 2 END AS label
        FROM events
    )
    GROUP BY label
    """,
    "C4 type2id label encoding (flattenData.py:13-27: seizure->1, "
    "falseAlarm/nda->0, other->2) as a when/otherwise expression feeding "
    "a grouped count + distinct-user count.",
)
def c4_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    label = (
        F.when(F.col("event_type") == "error", 1)
        .when(F.col("event_type").isin("click", "view"), 0)
        .otherwise(2)
    )
    return (
        ev.select("user_id", label.alias("label"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "c7_c17_array_normalize",
    """
    WITH sig AS (
        SELECT event_id,
               CASE WHEN event_id % 50 = 0
                    THEN [0 FOR i IN range(0, 150)]
                    ELSE [
                        (round(sin(2 * pi() * (event_id % 7 + 1)::DOUBLE
                                   * i / 25.0) * 1000)::BIGINT + 1001)
                        FOR i IN range(0, 150)
                    ] END AS raw
        FROM events WHERE event_id < 300
    ), trunc AS (
        SELECT event_id, raw[1:125] AS sig125 FROM sig
    ), normed AS (
        SELECT event_id, sig125,
               list_max(sig125) AS mx,
               CASE WHEN list_max(sig125) = 0
                    THEN [0 FOR x IN sig125]
                    ELSE [(x * 1000000) // list_max(sig125) FOR x IN sig125]
               END AS norm_q
        FROM trunc
    )
    SELECT event_id,
           len(sig125)                   AS n,
           mx                            AS sig_max,
           list_sum(norm_q)::BIGINT      AS norm_sum_q
    FROM normed
    """,
    "C7 array truncate to 125 (tidy_db.py:67-74: slice) + C17 spectrum "
    "normalization by max (eventAnalyser.py:262-268) + C18 zero-dp "
    "template (flattenData.py:77-101: every-50th event is an all-zero "
    "frame, normalization guarded). Quantization via integer division "
    "(x*1e6 div max) keeps both engines exact.",
)
def c7_c17_array_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    freq = (F.col("event_id") % 7 + 1).cast("double")
    raw = F.when(
        F.col("event_id") % 50 == 0,
        F.array_repeat(F.lit(0).cast("long"), 150),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.lit(149)),
            lambda n: F.round(
                F.sin(2 * math.pi * freq * n.cast("double") / 25.0) * 1000, 0
            ).cast("long")
            + 1001,
        )
    )
    trunc = ev.select("event_id", F.slice(raw, 1, 125).alias("sig125"))
    mx = F.array_max("sig125")
    normed = trunc.select(
        "event_id",
        F.size("sig125").cast("long").alias("n"),
        mx.alias("sig_max"),
        F.when(
            mx == 0, F.lit(0).cast("long")
        ).otherwise(
            F.aggregate(
                F.transform(
                    F.col("sig125"),
                    lambda x: (x * F.lit(1000000).cast("long")).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + F.floor(x / mx).cast("long"),
            )
        ).alias("norm_sum_q"),
    )
    return normed


@query(
    "w5_epoch_rms",
    """
    WITH base AS (
        SELECT event_id % 100 AS eid, event_id,
               round(sin(2 * pi() * (event_id % 5 + 1)::DOUBLE * i / 25.0)
                     * 10000)::BIGINT AS s,
               i
        FROM events, unnest(generate_series(0, 24)) AS g(i)
        WHERE event_id < 800
    ), seq AS (
        SELECT eid, s,
               row_number() OVER (PARTITION BY eid ORDER BY event_id, i) - 1
                   AS rn
        FROM base
    ), counts AS (
        SELECT eid, count(*) AS n FROM seq GROUP BY eid
    ), epochs AS (
        SELECT eid, 25 * k.k AS st
        FROM counts, unnest(generate_series(0, 1000)) AS k(k)
        WHERE 25 * k.k + 50 <= n
    )
    SELECT e.eid AS eventId,
           e.st::BIGINT AS startSample,
           round(sqrt(sum(q.s * q.s)::DOUBLE / 50.0), 6) AS rms_raw,
           round(sum(q.s)::DOUBLE / 50.0, 6) AS mean_raw
    FROM epochs e
    JOIN seq q ON q.eid = e.eid AND q.rn BETWEEN e.st AND e.st + 49
    GROUP BY e.eid, e.st
    """,
    "W5 epoch features, SQL-checkable slice: the SAME applyInPandas "
    "kernel as w5_epoch_features (functions/features.py:220 "
    "extract_epoch_features — multi-row concatenation, overlapping "
    "window_len=50/step=25 segmentation, epoch_feature_dict RMS+mean; "
    "extractFeatures.py epoch loop) run with gravity_cutoff=None so "
    "activity_count/mean are exact integer-sum arithmetic on a quantized "
    "signal — sqrt is IEEE-correctly-rounded in both numpy and DuckDB, "
    "so a 6-dp round is bitwise-safe. filtfilt/Welch outputs stay "
    "pinned by scipy-parity pytest + the oracled w5_epoch_oracled.",
)
def w5_epoch_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.features import (
        extract_epoch_features,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 800).select(
        (F.col("event_id") % 100).alias("eventId"),
        F.timestamp_micros(F.col("event_id") * 1_000_000).alias("dpTimestamp"),
        _quantized_signal().cast("array<double>").alias("rawData"),
        F.col("value").alias("hr"),
    )
    feats = extract_epoch_features(
        ev, window_len=50, step=25, gravity_cutoff=None
    )
    return feats.select(
        "eventId",
        "startSample",
        F.round(
            F.element_at(F.col("features"), "activity_count_magnitude"), 6
        ).alias("rms_raw"),
        F.round(F.element_at(F.col("features"), "mean_magnitude"), 6).alias(
            "mean_raw"
        ),
    )


@query(
    "w5_epoch_moments",
    """
    WITH base AS (
        SELECT event_id % 100 AS eid, event_id,
               round(sin(2 * pi() * (event_id % 5 + 1)::DOUBLE * i / 25.0)
                     * 100)::BIGINT AS s,
               i
        FROM events, unnest(generate_series(0, 24)) AS g(i)
        WHERE event_id < 800
    ), seq AS (
        SELECT eid, s,
               row_number() OVER (PARTITION BY eid ORDER BY event_id, i) - 1
                   AS rn
        FROM base
    ), diffs AS (
        SELECT eid, rn,
               abs(s - lag(s) OVER (PARTITION BY eid ORDER BY rn)) AS dabs,
               -- accelFeatures.py:79 zcr has NO abs: signed sign-diffs
               -- (the sum telescopes to sign(last) - sign(first))
               sign(s) - sign(lag(s) OVER (PARTITION BY eid ORDER BY rn))
                   AS dsgn
        FROM seq
    ), counts AS (
        SELECT eid, count(*) AS n FROM seq GROUP BY eid
    ), epochs AS (
        SELECT eid, 25 * k.k AS st
        FROM counts, unnest(generate_series(0, 1000)) AS k(k)
        WHERE 25 * k.k + 50 <= n
    ), shifts AS (
        -- integer mean-shift c = floor(mean + 0.5): matches the
        -- cancellation-proof kernel in functions/features.py
        SELECT e.eid, e.st,
               CAST(floor(sum(q.s)::DOUBLE / 50.0 + 0.5) AS BIGINT) AS c
        FROM epochs e
        JOIN seq q ON q.eid = e.eid AND q.rn BETWEEN e.st AND e.st + 49
        GROUP BY e.eid, e.st
    ), sums AS (
        SELECT e.eid, e.st,
               sum(q.s - sh.c)::BIGINT AS s1,
               sum((q.s - sh.c) * (q.s - sh.c))::BIGINT AS s2,
               sum((q.s - sh.c) * (q.s - sh.c) * (q.s - sh.c))::BIGINT AS s3,
               sum((q.s - sh.c) * (q.s - sh.c) * (q.s - sh.c) * (q.s - sh.c))::BIGINT AS s4
        FROM epochs e
        JOIN shifts sh ON sh.eid = e.eid AND sh.st = e.st
        JOIN seq q ON q.eid = e.eid AND q.rn BETWEEN e.st AND e.st + 49
        GROUP BY e.eid, e.st
    ), dsums AS (
        SELECT e.eid, e.st,
               sum(d.dabs)::BIGINT AS ll,
               sum(d.dsgn)::BIGINT AS zc
        FROM epochs e
        JOIN diffs d ON d.eid = e.eid AND d.rn BETWEEN e.st + 1 AND e.st + 49
        GROUP BY e.eid, e.st
    ), calc AS (
        SELECT s.eid, s.st, d.ll, d.zc,
               s1::DOUBLE / 50.0 AS m,
               s2::DOUBLE / 50.0 AS t2,
               s3::DOUBLE / 50.0 AS t3,
               s4::DOUBLE / 50.0 AS t4,
               s2::DOUBLE / 50.0 - (s1::DOUBLE / 50.0) * (s1::DOUBLE / 50.0)
                   AS v
        FROM sums s JOIN dsums d ON s.eid = d.eid AND s.st = d.st
    )
    SELECT eid AS eventId, st::BIGINT AS startSample,
           ll AS line_length,
           round(zc::DOUBLE / (2.0 * 50.0), 6) AS zcr,
           round(CASE WHEN v > 0
                 THEN (t3 - 3 * m * t2 + 2 * m * m * m) / (sqrt(v) * v)
                 ELSE 0.0 END, 6) AS skewness,
           round(CASE WHEN v > 0
                 THEN (t4 - 4 * m * t3 + 6 * m * m * t2 - 3 * m * m * m * m)
                      / (v * v) - 3.0
                 ELSE 0.0 END, 6) AS kurtosis
    FROM calc
    """,
    "W5 epoch features, moments slice (extends the w5_epoch_rms "
    "pattern per extractFeatures.py:143-211 / accelFeatures.py:70-79): "
    "the SAME applyInPandas kernel (functions/features."
    "extract_epoch_features) over a x100-quantized signal emits "
    "line-length (total variation — exact integer), the reference's "
    "zcr feature (accelFeatures.py:79 — SIGNED sign-diff sum, which "
    "telescopes to the net sign change; the executed reference code "
    "has no abs, round-8 fidelity audit), and skewness/kurtosis computed "
    "from EXACT integer power sums of MEAN-SHIFTED samples (shift "
    "c = floor(mean + 0.5), an integer, so shifted sums stay exact and "
    "order-independent while killing the float-path cancellation that "
    "raw power sums suffer) with IEEE-only combining (sqrt(v)*v, v*v — "
    "no libm pow), so every value is bit-equal to the SQL replay. The "
    "x100 quantization bounds the shifted sum(d^4) at ~8e10 — exactly "
    "representable in float64 AND int64, which is what makes the "
    "4th-moment path order-independent.",
)
def w5_epoch_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.features import (
        extract_epoch_features,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 800).select(
        (F.col("event_id") % 100).alias("eventId"),
        F.timestamp_micros(F.col("event_id") * 1_000_000).alias("dpTimestamp"),
        _quantized_signal(scale=100).cast("array<double>").alias("rawData"),
        F.col("value").alias("hr"),
    )
    feats = extract_epoch_features(
        ev, window_len=50, step=25, gravity_cutoff=None
    )
    fm = F.col("features")
    return feats.select(
        "eventId",
        "startSample",
        F.element_at(fm, "line_length_magnitude").cast("long").alias(
            "line_length"
        ),
        F.round(F.element_at(fm, "zcr_magnitude"), 6).alias("zcr"),
        F.round(F.element_at(fm, "skewness_magnitude"), 6).alias("skewness"),
        F.round(F.element_at(fm, "kurtosis_magnitude"), 6).alias("kurtosis"),
    )


def _band_power_oracle() -> str:
    from openseizuredatabase_spark.functions.features import FREQ_BANDS

    values = ",\n               ".join(
        f"('{name}', {lo}, {hi})" for name, (lo, hi) in FREQ_BANDS.items()
    )
    d = _EMB_DIM
    return f"""
    WITH ex AS (
        SELECT vec_id, g.i - 1 AS n, embedding[g.i]::DOUBLE AS x
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), win AS (
        SELECT vec_id, n,
               (x - avg(x) OVER (PARTITION BY vec_id))
                 * (0.5 * (1 - cos(2 * pi() * n / {d - 1}.0))) AS xw,
               0.5 * (1 - cos(2 * pi() * n / {d - 1}.0)) AS w
        FROM ex
    ), scale AS (
        SELECT vec_id, 1.0 / (25.0 * sum(w * w)) AS s
        FROM win GROUP BY vec_id
    ), bins AS (
        SELECT w.vec_id, k.k AS k,
               sum(w.xw * cos(2 * pi() * k.k * w.n / {d}.0)) AS re,
               sum(w.xw * sin(2 * pi() * k.k * w.n / {d}.0)) AS im
        FROM win w, unnest(generate_series(0, {d // 2})) AS k(k)
        GROUP BY w.vec_id, k.k
    ), psd AS (
        SELECT b.vec_id, b.k,
               round((b.re*b.re + b.im*b.im) * s.s
                     * (CASE WHEN b.k = 0 OR b.k = {d // 2}
                             THEN 1.0 ELSE 2.0 END), 6) AS psd
        FROM bins b JOIN scale s ON b.vec_id = s.vec_id
    ), bands AS (
        SELECT * FROM (VALUES {values}) AS v(band, lo, hi)
    )
    SELECT p.vec_id, bd.band,
           sum(CAST(round(p.psd * 1000000) AS BIGINT))::BIGINT
               AS band_power_micro,
           count(*) AS n_bins
    FROM psd p
    JOIN bands bd ON p.k * 25.0 / {d}.0 >= bd.lo
                 AND p.k * 25.0 / {d}.0 <= bd.hi
    GROUP BY p.vec_id, bd.band
    """


@query(
    "w5_band_power",
    _band_power_oracle(),
    "W5 per-band Parseval powers (accelFeatures.py:88-96 total_power "
    "per FREQ_BANDS over the Welch PSD): the REAL numpy Welch kernel "
    "(functions/features.welch_psd — the c14-verified path) emits "
    "6-dp-rounded per-bin PSD; band membership (k*fs/N within "
    "[lo, hi]) and the band sum happen relationally with the PSD "
    "quantized to integer micro-units BEFORE summing — identical "
    "integers in both engines, so the band aggregation is "
    "order-independent and exactly value-hash-checkable (the float "
    "band sums inside epoch_feature_dict stay pinned by pytest). The "
    "14-band table broadcasts; the range join is a 14-row nested loop "
    "the scan absorbs.",
)
def w5_band_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.features import (
        FREQ_BANDS,
        welch_psd,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )

    @F.pandas_udf("array<double>")
    def psd(batch: pd.Series) -> pd.Series:
        return batch.map(
            lambda x: np.round(
                welch_psd(np.asarray(x, dtype=float), 25.0)[1], 6
            ).tolist()
        )

    bins = emb.select(
        "vec_id", F.posexplode(psd("x")).alias("k", "psd")
    )
    bands = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(name, lo, hi) for name, (lo, hi) in FREQ_BANDS.items()],
            "band string, lo double, hi double",
        )
    )
    freq = F.col("k").cast("double") * 25.0 / float(_EMB_DIM)
    return (
        bins.join(bands, (freq >= F.col("lo")) & (freq <= F.col("hi")))
        .groupBy("vec_id", "band")
        .agg(
            F.sum(
                F.round(F.col("psd") * 1e6, 0).cast("long")
            ).alias("band_power_micro"),
            F.count(F.lit(1)).alias("n_bins"),
        )
    )


def _w5_epoch_oracled_sql() -> str:
    """Full-pipeline epoch oracle: the SQL twin of (multi-row concat →
    gravity-removal filtfilt → overlapping epochs → RMS / IIR taps /
    Welch band powers). The filtfilt replay is two recursive CTEs over
    the odd-reflection-padded signal (the c13 recurrence, run forward
    then backward); the Welch replay is the c14 O(N²) DFT twin per
    epoch. Every coefficient is embedded via repr() of the exact doubles
    functions/features.butter_coeffs produces."""
    from openseizuredatabase_spark.functions.features import (
        butter_coeffs,
        lfilter_zi,
    )

    b, a = butter_coeffs(2, 0.5 / 12.5, "high")
    bn = [float(v) / float(a[0]) for v in b]
    an = [float(v) / float(a[0]) for v in a]
    b0, b1, b2 = (repr(v) for v in bn)
    a1, a2 = (repr(v) for v in an[1:])
    zi = lfilter_zi(b, a)
    zi0, zi1 = (repr(float(v)) for v in zi)
    yf = f"({b0})*e.x + st.z0"
    yb = f"({b0})*e.x + st.z0"
    # zi-seeded first step (scipy filtfilt: z = zi * first-sample):
    # y0 = b0*x + zi0*x; z0' = b1*x + zi1*x - a1*y0; z1' = b2*x - a2*y0
    y0 = f"({b0})*x + ({zi0})*x"
    return f"""
    WITH RECURSIVE base AS (
        SELECT event_id % 100 AS eid, event_id,
               round(sin(2 * pi() * (event_id % 5 + 1)::DOUBLE * i / 25.0)
                     * 64) / 64 AS x,
               i
        FROM events, unnest(generate_series(0, 24)) AS g(i)
        WHERE event_id < 800
    ), seq AS MATERIALIZED (
        SELECT eid, x,
               row_number() OVER (PARTITION BY eid ORDER BY event_id, i) - 1
                   AS rn
        FROM base
    ), counts AS MATERIALIZED (
        SELECT eid, count(*) AS n FROM seq GROUP BY eid
    ), ends AS MATERIALIZED (
        SELECT s.eid,
               max(CASE WHEN s.rn = 0 THEN s.x END) AS x0,
               max(CASE WHEN s.rn = c.n - 1 THEN s.x END) AS xl
        FROM seq s JOIN counts c ON s.eid = c.eid
        GROUP BY s.eid
    ), ext AS MATERIALIZED (
        -- odd-reflection padding, scipy edge = 3*max(len(a),len(b)) = 9
        -- (features.filtfilt): ext[j<9] = 2*x[0] - x[9-j]; mid;
        -- ext[n+9+m] = 2*x[n-1] - x[n-2-m] for m in 0..8
        SELECT s.eid, 9 - s.rn AS j, 2 * d.x0 - s.x AS x
        FROM seq s JOIN ends d ON s.eid = d.eid
        WHERE s.rn BETWEEN 1 AND 9
        UNION ALL
        SELECT eid, rn + 9, x FROM seq
        UNION ALL
        SELECT s.eid, 2 * c.n + 7 - s.rn AS j, 2 * d.xl - s.x
        FROM seq s
        JOIN ends d ON s.eid = d.eid
        JOIN counts c ON s.eid = c.eid
        WHERE s.rn BETWEEN c.n - 10 AND c.n - 2
    ), fwd AS (
        -- forward lfilter: direct-form II transposed, order 2,
        -- zi-seeded with z = lfilter_zi(b,a) * ext[0] (scipy filtfilt)
        SELECT eid, j,
               {y0} AS y,
               ({b1})*x + ({zi1})*x - ({a1})*({y0}) AS z0,
               ({b2})*x - ({a2})*({y0}) AS z1
        FROM ext WHERE j = 0
        UNION ALL
        SELECT e.eid, e.j,
               {yf},
               ({b1})*e.x + st.z1 - ({a1})*({yf}),
               ({b2})*e.x - ({a2})*({yf})
        FROM fwd st
        JOIN ext e ON e.eid = st.eid AND e.j = st.j + 1
    ), rev AS MATERIALIZED (
        -- reverse the forward output (ext length = n + 18)
        SELECT f.eid, c.n + 17 - f.j AS j, f.y AS x
        FROM fwd f JOIN counts c ON f.eid = c.eid
    ), bwd AS (
        -- backward lfilter over the reversed sequence, zi-seeded with
        -- z = lfilter_zi(b,a) * y_fwd[-1] (= the reversed first sample)
        SELECT eid, j,
               {y0} AS y,
               ({b1})*x + ({zi1})*x - ({a1})*({y0}) AS z0,
               ({b2})*x - ({a2})*({y0}) AS z1
        FROM rev WHERE j = 0
        UNION ALL
        SELECT e.eid, e.j,
               {yb},
               ({b1})*e.x + st.z1 - ({a1})*({yb}),
               ({b2})*e.x - ({a2})*({yb})
        FROM bwd st
        JOIN rev e ON e.eid = st.eid AND e.j = st.j + 1
    ), filt AS MATERIALIZED (
        -- un-reverse and slice [9 : n+9): original sample rn = i - 9
        SELECT w.eid, (c.n + 17 - w.j) - 9 AS rn, round(w.y, 6) AS y6,
               CAST(round(round(w.y, 6) * 1000000) AS BIGINT) AS yq
        FROM bwd w JOIN counts c ON w.eid = c.eid
        WHERE (c.n + 17 - w.j) BETWEEN 9 AND c.n + 8
    ), epochs AS MATERIALIZED (
        SELECT c.eid, 25 * k.k AS st
        FROM counts c, unnest(generate_series(0, 1000)) AS k(k)
        WHERE 25 * k.k + 50 <= c.n
    ), feats AS (
        SELECT e.eid, e.st,
               round(sqrt(sum(q.yq * q.yq)::DOUBLE / 50.0) / 1000000.0, 6)
                   AS rms_hp,
               max(CASE WHEN q.rn = e.st THEN q.y6 END) AS tap0,
               max(CASE WHEN q.rn = e.st + 24 THEN q.y6 END) AS tap24,
               max(CASE WHEN q.rn = e.st + 49 THEN q.y6 END) AS tap49
        FROM epochs e
        JOIN filt q ON q.eid = e.eid AND q.rn BETWEEN e.st AND e.st + 49
        GROUP BY e.eid, e.st
    ), win AS MATERIALIZED (
        -- c14 Welch twin per epoch: constant detrend, Hann(50), density
        SELECT e.eid, e.st, q.rn - e.st AS m,
               (q.y6 - avg(q.y6) OVER (PARTITION BY e.eid, e.st))
                 * (0.5 * (1 - cos(2 * pi() * (q.rn - e.st) / 49.0))) AS xw,
               0.5 * (1 - cos(2 * pi() * (q.rn - e.st) / 49.0)) AS w
        FROM epochs e
        JOIN filt q ON q.eid = e.eid AND q.rn BETWEEN e.st AND e.st + 49
    ), scale AS MATERIALIZED (
        SELECT eid, st, 1.0 / (25.0 * sum(w * w)) AS s
        FROM win GROUP BY eid, st
    ), bins AS MATERIALIZED (
        SELECT w.eid, w.st, k.k AS k,
               sum(w.xw * cos(2 * pi() * k.k * w.m / 50.0)) AS re,
               sum(w.xw * sin(2 * pi() * k.k * w.m / 50.0)) AS im
        FROM win w, unnest(generate_series(0, 25)) AS k(k)
        GROUP BY w.eid, w.st, k.k
    ), psd AS MATERIALIZED (
        SELECT b.eid, b.st, b.k * 25.0 / 50.0 AS f,
               CAST(round(round((b.re*b.re + b.im*b.im) * s.s
                     * (CASE WHEN b.k = 0 OR b.k = 25 THEN 1.0 ELSE 2.0 END),
                     6) * 1000000) AS BIGINT) AS q
        FROM bins b JOIN scale s ON b.eid = s.eid AND b.st = s.st
    ), bands AS (
        SELECT eid, st,
               sum(CASE WHEN f >= 3.0 AND f <= 8.0 THEN q ELSE 0 END)::BIGINT
                   AS bp_roi_micro,
               sum(CASE WHEN f >= 0.5 AND f <= 12.5 THEN q ELSE 0 END)::BIGINT
                   AS bp_spec_micro,
               sum(CASE WHEN f >= 1.0 AND f <= 4.0 THEN q ELSE 0 END)::BIGINT
                   AS bp_main_micro
        FROM psd GROUP BY eid, st
    )
    SELECT f.eid AS eventId, f.st::BIGINT AS startSample,
           f.rms_hp, f.tap0, f.tap24, f.tap49,
           b.bp_roi_micro, b.bp_spec_micro, b.bp_main_micro
    FROM feats f JOIN bands b ON f.eid = b.eid AND f.st = b.st
    """


@query(
    "w5_epoch_oracled",
    _w5_epoch_oracled_sql(),
    "W5 full-pipeline epoch features with a VALUE-HASH oracle "
    "(extractFeatures.py:143-211 composed end-to-end): multi-row signal "
    "concatenation, C13 gravity-removal filtfilt (functions/features."
    "high_pass — odd-reflection pad + forward/backward order-2 "
    "Butterworth, the REAL kernel extract_epoch_features calls), "
    "overlapping window_len=50/step=25 segmentation, then per epoch: "
    "RMS from exact integer micro-sums of the filtered signal, the IIR "
    "output at fixed taps (0/24/49), and C14 Welch band powers "
    "(functions/features.welch_psd, per-bin 6-dp PSD quantized to "
    "micro-ints before the band sum — the w5_band_power discipline). "
    "The oracle replays filtfilt as two recursive CTEs walking the "
    "identical direct-form-II-transposed recurrence over the identical "
    "odd-reflection padding (IEEE doubles agree bit-for-bit — the c13 "
    "proof, applied twice plus exact dyadic padding arithmetic on a "
    "/64-grid input signal), and Welch as the c14 O(N²) DFT twin per "
    "epoch. Closes the last rows-only gap in the W5 family: "
    "concat→filter→segment→features is now hash-checked as ONE "
    "composition, not just as separate kernels. A pytest ties rms_hp "
    "to extract_epoch_features' activity_count on the same input.",
)
def w5_epoch_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from openseizuredatabase_spark.functions.features import (
        high_pass,
        welch_psd,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 800)
    freq = (F.col("event_id") % 5 + 1).cast("double")
    sig = ev.select(
        (F.col("event_id") % 100).alias("eventId"),
        F.col("event_id").alias("ord"),
        F.transform(
            F.sequence(F.lit(0), F.lit(24)),
            lambda i: F.round(
                F.sin(2 * math.pi * freq * i.cast("double") / 25.0) * 64, 0
            )
            / 64,
        ).alias("x"),
    )
    out_schema = (
        "eventId long, startSample long, rms_hp double, tap0 double, "
        "tap24 double, tap49 double, bp_roi_micro long, "
        "bp_spec_micro long, bp_main_micro long"
    )

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ord", kind="mergesort")
        s = np.concatenate([np.asarray(v, dtype=float) for v in pdf["x"]])
        y = high_pass(s, 0.5, 25.0)
        y6 = np.round(y, 6)
        yq = np.round(y6 * 1e6).astype(np.int64)
        fr = np.arange(26) * 0.5  # k * fs / N, exact dyadic
        rows = []
        for st in range(0, len(s) - 50 + 1, 25):
            seg6 = y6[st : st + 50]
            q = yq[st : st + 50]
            # identical op order to the SQL: sqrt(int_sum/50)/1e6
            rms = float(
                np.round(math.sqrt(float((q * q).sum()) / 50.0) / 1e6, 6)
            )
            _, psd = welch_psd(seg6, 25.0)
            qpsd = np.round(np.round(psd, 6) * 1e6).astype(np.int64)

            def bp(lo: float, hi: float) -> int:
                return int(qpsd[(fr >= lo) & (fr <= hi)].sum())

            rows.append(
                {
                    "eventId": int(pdf["eventId"].iloc[0]),
                    "startSample": st,
                    "rms_hp": rms,
                    "tap0": float(seg6[0]),
                    "tap24": float(seg6[24]),
                    "tap49": float(seg6[49]),
                    "bp_roi_micro": bp(3.0, 8.0),
                    "bp_spec_micro": bp(0.5, 12.5),
                    "bp_main_micro": bp(1.0, 4.0),
                }
            )
        cols = [
            "eventId", "startSample", "rms_hp", "tap0", "tap24", "tap49",
            "bp_roi_micro", "bp_spec_micro", "bp_main_micro",
        ]
        return pd.DataFrame(rows, columns=cols)

    return sig.groupBy("eventId").applyInPandas(per_key, out_schema)


@query(
    "c14_welch_psd",
    f"""
    WITH ex AS (
        SELECT vec_id, g.i - 1 AS n, embedding[g.i]::DOUBLE AS x
        FROM embeddings, unnest(generate_series(1, {_EMB_DIM})) AS g(i)
    ), win AS (
        SELECT vec_id, n,
               (x - avg(x) OVER (PARTITION BY vec_id))
                 * (0.5 * (1 - cos(2 * pi() * n / {_EMB_DIM - 1}.0))) AS xw,
               0.5 * (1 - cos(2 * pi() * n / {_EMB_DIM - 1}.0)) AS w
        FROM ex
    ), scale AS (
        SELECT vec_id, 1.0 / (25.0 * sum(w * w)) AS s
        FROM win GROUP BY vec_id
    ), bins AS (
        SELECT w.vec_id, k.k AS k,
               sum(w.xw * cos(2 * pi() * k.k * w.n / {_EMB_DIM}.0)) AS re,
               sum(w.xw * sin(2 * pi() * k.k * w.n / {_EMB_DIM}.0)) AS im
        FROM win w, unnest(generate_series(0, {_EMB_DIM // 2})) AS k(k)
        GROUP BY w.vec_id, k.k
    )
    SELECT b.vec_id, b.k,
           round((b.re*b.re + b.im*b.im) * s.s
                 * (CASE WHEN b.k = 0 OR b.k = {_EMB_DIM // 2}
                         THEN 1.0 ELSE 2.0 END), 6) AS psd
    FROM bins b JOIN scale s ON b.vec_id = s.vec_id
    """,
    "C14 Welch PSD (accelFeatures.py:86 scipy.signal.welch call: "
    "single-segment Hann window, constant detrend, scaling='density', "
    "one-sided doubling): the REAL numpy kernel "
    "(functions/features.welch_psd) runs per array through one Arrow "
    "stage; the oracle computes the literal O(N²) windowed DFT with the "
    "identical Hann/detrend/density formulas — 6-dp rounding absorbs "
    "the ~1e-15 FFT-vs-DFT summation difference, the c9 discipline. "
    "Upgrades C14 from rows-only to value-hash coverage.",
)
def c14_welch_psd(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.features import welch_psd

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )

    @F.pandas_udf("array<double>")
    def psd(batch: pd.Series) -> pd.Series:
        return batch.map(
            lambda x: np.round(
                welch_psd(np.asarray(x, dtype=float), 25.0)[1], 6
            ).tolist()
        )

    return emb.select(
        "vec_id", F.posexplode(psd("x")).alias("k", "psd")
    ).select("vec_id", F.col("k").cast("long").alias("k"), "psd")


@query(
    "w13_funnel",
    """
    WITH users AS (
        SELECT DISTINCT user_id FROM events
    ), s1 AS (
        SELECT user_id, min(epoch_us(ts))::BIGINT AS t_view_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(epoch_us(e.ts))::BIGINT AS t_click_us
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.t_view_us
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(epoch_us(e.ts))::BIGINT AS t_purchase_us
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.t_click_us
        GROUP BY e.user_id
    )
    SELECT u.user_id, s1.t_view_us, s2.t_click_us, s3.t_purchase_us,
           (CASE WHEN s3.user_id IS NOT NULL THEN 3
                 WHEN s2.user_id IS NOT NULL THEN 2
                 WHEN s1.user_id IS NOT NULL THEN 1
                 ELSE 0 END) AS stage,
           (s3.t_purchase_us - s1.t_view_us) AS conv_us
    FROM users u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
    "Ordered-step funnel analysis (view → click → purchase), the "
    "product-analytics operator the reference's per-user pandas "
    "summaries approximate serially: each step's timestamp is the "
    "earliest matching event AT OR AFTER the previous step's — a "
    "chained conditional-min, not three independent mins, so an early "
    "purchase before any view correctly does NOT convert. All three "
    "step aggregations and the final assembly key on user_id: under "
    "AQE the shuffles reuse one exchange, and every min is map-side "
    "combined, so at 100 TB the cost is one pass over events plus "
    "per-user constant state. Timestamps ride as exact integer micros "
    "so the driver hash pins every step time and the conversion "
    "latency (conv_us), not just stage counts.",
)
def w13_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    users = ev.select("user_id").distinct()
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view_us"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("us") >= F.col("t_view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click_us"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("us") >= F.col("t_click_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase_us"))
    )
    return (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view_us",
            "t_click_us",
            "t_purchase_us",
            F.when(F.col("t_purchase_us").isNotNull(), 3)
            .when(F.col("t_click_us").isNotNull(), 2)
            .when(F.col("t_view_us").isNotNull(), 1)
            .otherwise(0)
            .alias("stage"),
            (F.col("t_purchase_us") - F.col("t_view_us")).alias("conv_us"),
        )
    )


@query(
    "w14_compaction_plan",
    """
    WITH files AS (
        SELECT CAST(ts AS DATE) AS d, event_type,
               count(*)::BIGINT AS n_rows,
               sum(length(props) + 64)::BIGINT AS size_b
        FROM events GROUP BY 1, 2
    ), packed AS (
        SELECT d, n_rows, size_b,
               (sum(size_b) OVER (PARTITION BY d ORDER BY event_type
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - size_b) AS cum_before
        FROM files
    ), binned AS (
        SELECT d, n_rows, size_b,
               CAST(floor(cum_before / 4096.0) AS BIGINT) AS bin_id
        FROM packed
    )
    SELECT d, bin_id, count(*)::BIGINT AS n_files,
           sum(size_b)::BIGINT AS bin_bytes,
           sum(n_rows)::BIGINT AS bin_rows,
           (sum(size_b) < 2048) AS undersized
    FROM binned GROUP BY d, bin_id
    """,
    "Small-file compaction planner (the OPTIMIZE / bin-packing step "
    "every parquet lake needs; beyond the reference, which writes "
    "one monolithic file): per partition (day), the file inventory "
    "packs greedily into 4 KiB target bins via an exclusive running "
    "sum — bin_id = floor(bytes_before / target). ONE window per "
    "partition key, no shuffle beyond the inventory aggregation; at "
    "100 TB the inventory is file-level METADATA (millions of rows, "
    "not the data itself), so the plan costs seconds and the rewrite "
    "it drives is embarrassingly parallel per bin.",
)
def w14_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    files = ev.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("props") + 64).alias("size_b"),
    )
    w = (
        Window.partitionBy("d")
        .orderBy("event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = files.select(
        "d",
        "n_rows",
        "size_b",
        (F.sum("size_b").over(w) - F.col("size_b")).alias("cum_before"),
    )
    binned = packed.select(
        "d",
        "n_rows",
        "size_b",
        F.floor(F.col("cum_before") / 4096.0).cast("long").alias("bin_id"),
    )
    return binned.groupBy("d", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_b").alias("bin_bytes"),
        F.sum("n_rows").alias("bin_rows"),
        (F.sum("size_b") < 2048).alias("undersized"),
    )


@query(
    "w15_rolling_median",
    """
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
    FROM events
    """,
    "Trailing rolling MEDIAN per user (the robust twin of w7's moving "
    "average — medians shrug off the amplitude spikes that drag a "
    "mean, which is why monitoring baselines use them): exact "
    "percentile over a 7-row trailing frame. Spark's percentile and "
    "DuckDB's quantile_cont share the (n−1)·p interpolation rule, so "
    "the oracle is bit-stable after the 6-dp rounding contract. ONE "
    "user-key window shuffle; the frame holds <= 7 values per row, so "
    "state is constant — at 100 TB this pairs with the same sorted "
    "layout every other per-user window stage reuses.",
)
def w15_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.expr("percentile(value, 0.5)").over(wf), 6
        ).alias("med7"),
    )


@query(
    "w16_cusum_changepoint",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               count(*)::BIGINT AS x
        FROM events GROUP BY event_type, d
    ), tot AS (
        SELECT event_type, sum(x)::BIGINT AS total,
               count(*)::BIGINT AS n_days
        FROM daily GROUP BY event_type
    ), cum AS (
        SELECT d.event_type, d.d, t.n_days, t.total,
               row_number() OVER (PARTITION BY d.event_type
                                  ORDER BY d.d) AS rn,
               sum(d.x) OVER (PARTITION BY d.event_type ORDER BY d.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cx
        FROM daily d JOIN tot t ON d.event_type = t.event_type
    ), stat AS (
        SELECT event_type, d, n_days,
               abs(n_days * cx - rn * total) AS s
        FROM cum
    )
    SELECT event_type, n_days, d AS changepoint, s::BIGINT AS max_stat
    FROM (
        SELECT event_type, n_days, d, s,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY s DESC, d ASC) AS rn2
        FROM stat) WHERE rn2 = 1
    """,
    "CUSUM changepoint detection over the daily count series (the "
    "monitoring op that answers WHEN the distribution moved, where "
    "r3's PSI answers WHETHER): the classic cumulative deviation "
    "S_d = Σ(x_i − μ) is rescaled by n_days so every quantity stays "
    "an exact integer (n·cumsum − rank·total — same argmax, no "
    "float), and the changepoint is the day maximizing |S| "
    "(earliest day wins ties). One per-type window over the "
    "metadata-sized daily aggregate; the only data pass is the "
    "daily count itself.",
)
def w16_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    tot = daily.groupBy("event_type").agg(
        F.sum("x").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        "n_days",
        "total",
        F.row_number().over(wo).alias("rn"),
        F.sum("x").over(wc).alias("cx"),
    )
    stat = cum.select(
        "event_type",
        "d",
        "n_days",
        F.abs(
            F.col("n_days") * F.col("cx") - F.col("rn") * F.col("total")
        ).alias("s"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("s").desc(), F.col("d").asc()
    )
    return (
        stat.withColumn("rn2", F.row_number().over(wr))
        .filter(F.col("rn2") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("d").alias("changepoint"),
            F.col("s").alias("max_stat"),
        )
    )


@query(
    "w17_seasonal_baseline",
    """
    WITH daily AS (
        SELECT event_type,
               ((us - (us % 86400000000)) / 86400000000)::BIGINT AS ed,
               count(*)::BIGINT AS x
        FROM (SELECT event_type, epoch_us(ts)::BIGINT AS us FROM events)
        GROUP BY 1, 2
    ), dow AS (
        SELECT event_type, ed, x, ((ed % 7) + 7) % 7 AS dw FROM daily
    ), base AS (
        SELECT event_type, dw, sum(x)::BIGINT AS sum_dw,
               count(*)::BIGINT AS n_dw
        FROM dow GROUP BY event_type, dw
    )
    SELECT d.event_type, d.ed, d.dw, d.x, b.n_dw,
           (d.x * b.n_dw - b.sum_dw)::BIGINT AS dev_scaled,
           round((d.x * b.n_dw - b.sum_dw)::DOUBLE / b.sum_dw, 6)
               AS dev_frac
    FROM dow d JOIN base b
      ON d.event_type = b.event_type AND d.dw = b.dw
    """,
    "Weekday-seasonal baseline + deviation (the seasonality-aware "
    "anomaly screen between r3's distribution drift and w16's "
    "changepoint: Mondays compare against MONDAYS, not the weekly "
    "mean): weekday comes from epoch-day mod 7 — pure integer, "
    "immune to the dayofweek() 0-vs-1-origin dialect mismatch — and "
    "the deviation x·n_dw − Σx_dw is the w16 rescaling trick again, "
    "exact integers until one final reporting division. The baseline "
    "is a 7-rows-per-type BROADCAST; the only data pass is the daily "
    "count aggregation.",
)
def w17_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_us = 86_400_000_000
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    daily = (
        ev.select(
            "event_type",
            ((us - (us % day_us)) / day_us).cast("long").alias("ed"),
        )
        .groupBy("event_type", "ed")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    dow = daily.withColumn("dw", ((F.col("ed") % 7) + 7) % 7)
    base = dow.groupBy("event_type", "dw").agg(
        F.sum("x").alias("sum_dw"), F.count(F.lit(1)).alias("n_dw")
    )
    dev = F.col("x") * F.col("n_dw") - F.col("sum_dw")
    return dow.join(F.broadcast(base), ["event_type", "dw"]).select(
        "event_type",
        "ed",
        "dw",
        "x",
        "n_dw",
        dev.alias("dev_scaled"),
        F.round(dev.cast("double") / F.col("sum_dw"), 6).alias(
            "dev_frac"
        ),
    )


def _w18_terms_sql() -> tuple[str, str]:
    nums, dens = [], []
    for k in range(8):
        w = f"{1.0 / (1 << (k + 1))!r}"
        lagv = (
            "value" if k == 0 else
            f"lag(value, {k}) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id)"
        )
        nums.append(
            f"(CASE WHEN {lagv} IS NOT NULL THEN {w} * {lagv}"
            " ELSE 0.0 END)"
        )
        dens.append(
            f"(CASE WHEN {lagv} IS NOT NULL THEN {w} ELSE 0.0 END)"
        )
    return " + ".join(nums), " + ".join(dens)


def _w18_oracle() -> str:
    num, den = _w18_terms_sql()
    return f"""
    SELECT event_id, user_id,
           round(({num}) / ({den}), 6) AS ewma
    FROM events
    """


@query(
    "w18_ewma",
    _w18_oracle(),
    "Exponentially weighted moving average per user (the standard "
    "monitoring smoother between w7's flat window and w15's median): "
    "α=1/2 over the 8 most recent observations, renormalized over "
    "the lags actually present at the sequence head. The weights "
    "are DYADIC (2^-k), so every product is an exact binary scaling "
    "and the left-associated term sums execute the identical IEEE "
    "op sequence in both engines — bit-equal before the 6-dp "
    "reporting round. Eight lags over ONE user-key window (the w6 "
    "feature-history shape; all eight share a single shuffle+sort); "
    "truncating the tail at 2^-8 bounds the error at 0.4% of the "
    "oldest weight — the streaming-state tradeoff made explicit.",
)
def w18_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = None, None
    for k in range(8):
        wk = 1.0 / (1 << (k + 1))
        lagv = F.col("value") if k == 0 else F.lag("value", k).over(w)
        nt = F.when(lagv.isNotNull(), F.lit(wk) * lagv).otherwise(
            F.lit(0.0)
        )
        dt = F.when(lagv.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0))
        num = nt if num is None else num + nt
        den = dt if den is None else den + dt
    return ev.select(
        "event_id", "user_id", F.round(num / den, 6).alias("ewma")
    )


@query(
    "w25_holt_linear",
    """
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT event_type, date_trunc('day', ts) AS day,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1, 2
    ), idx AS MATERIALIZED (
        SELECT event_type, day, y,
               row_number() OVER (PARTITION BY event_type ORDER BY day)
                   - 1 AS i
        FROM daily
    ), hw AS (
        SELECT event_type, day, y, i,
               y AS l, 0.0::DOUBLE AS b, y AS f
        FROM idx WHERE i = 0
        UNION ALL
        SELECT d.event_type, d.day, d.y, d.i,
               0.5*d.y + 0.5*(st.l + st.b),
               0.25*((0.5*d.y + 0.5*(st.l + st.b)) - st.l) + 0.75*st.b,
               st.l + st.b
        FROM hw st
        JOIN idx d ON d.event_type = st.event_type AND d.i = st.i + 1
    )
    SELECT event_type, strftime(day, '%Y%m%d')::BIGINT AS day_key,
           y::BIGINT AS n,
           CAST(floor(l * 1000000 + 0.5) AS BIGINT) AS level_micro,
           CAST(floor(b * 1000000 + 0.5) AS BIGINT) AS trend_micro,
           CAST(floor(f * 1000000 + 0.5) AS BIGINT) AS forecast_micro
    FROM hw
    """,
    "Holt double exponential smoothing (Holt 1957 — level + trend; the "
    "coupled-recurrence upgrade of w18's single EWMA) over per-type "
    "daily counts, with the one-step-ahead forecast l+b the anomaly "
    "monitors (w24) baseline against. The smoothing constants are "
    "DYADIC (alpha=1/2, beta=1/4), so every recurrence step is exact "
    "IEEE arithmetic with no libm — the oracle's recursive CTE walks "
    "the identical expressions and agrees bit-for-bit (the c13 "
    "discipline applied to a coupled two-state recurrence; outputs "
    "quantize by floor(x*1e6 + 0.5) because dyadic state makes 6-dp "
    "ROUND ties common and numpy/DuckDB disagree on tie direction — "
    "half-up floor arithmetic is identical everywhere). Sequential "
    "by nature, so it runs per-series in one Arrow stage over the "
    "ALREADY-AGGREGATED daily frame: the corpus-scale work is the one "
    "map-side-combined count, state is days x types rows.",
)
def w25_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort").reset_index(drop=True)
        y = pdf["n"].to_numpy(dtype=float)
        levels, trends, fcasts = [], [], []
        l, b = y[0], 0.0
        for ti in range(len(y)):
            if ti == 0:
                f = y[0]
            else:
                f = l + b
                l_new = 0.5 * y[ti] + 0.5 * (l + b)
                b = 0.25 * ((0.5 * y[ti] + 0.5 * (l + b)) - l) + 0.75 * b
                l = l_new
            levels.append(l)
            trends.append(b)
            fcasts.append(f)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "day_key": pdf["day"].dt.strftime("%Y%m%d").astype("int64"),
                "n": pdf["n"].astype("int64"),
                "level_micro": np.floor(
                    np.asarray(levels) * 1e6 + 0.5
                ).astype("int64"),
                "trend_micro": np.floor(
                    np.asarray(trends) * 1e6 + 0.5
                ).astype("int64"),
                "forecast_micro": np.floor(
                    np.asarray(fcasts) * 1e6 + 0.5
                ).astype("int64"),
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        smooth,
        "event_type string, day_key long, n long, level_micro long, "
        "trend_micro long, forecast_micro long",
    )


@query(
    "w19_stl_decompose",
    """
    WITH daily AS (
        SELECT event_type,
               ((epoch_us(ts) - (epoch_us(ts) % 86400000000))
                / 86400000000)::BIGINT AS ed,
               count(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ), tr AS (
        SELECT event_type, ed, x,
               sum(x) OVER (PARTITION BY event_type ORDER BY ed
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   ::BIGINT AS s_w,
               count(*) OVER (PARTITION BY event_type ORDER BY ed
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   ::BIGINT AS n_w
        FROM daily
    ), det AS (
        SELECT event_type, ed, ((ed % 7) + 7) % 7 AS dw, x, s_w,
               7 * x - s_w AS d
        FROM tr WHERE n_w = 7
    ), seas AS (
        SELECT event_type, dw, sum(d)::BIGINT AS sum_d,
               count(*)::BIGINT AS n_dw
        FROM det GROUP BY event_type, dw
    )
    SELECT det.event_type, det.ed, det.dw, det.x,
           round(det.s_w / 7.0, 6) AS trend,
           round(seas.sum_d / (7.0 * seas.n_dw), 6) AS seasonal,
           round((7 * seas.n_dw * det.x - seas.n_dw * det.s_w
                  - seas.sum_d) / (7.0 * seas.n_dw), 6) AS residual
    FROM det JOIN seas
      ON det.event_type = seas.event_type AND det.dw = seas.dw
    """,
    "Classical seasonal decomposition (the moving-average STL "
    "skeleton): per-type daily counts split into trend (centered "
    "7-day moving average, defined only on full windows), weekly "
    "seasonal (per-weekday mean of the detrended series — w17's "
    "baseline applied AFTER detrending, which is what makes it a "
    "seasonal component rather than a level) and residual. "
    "Everything is computed in integer-scaled form (d = 7x − Σ₇x; "
    "residual scaled by 7·n_dw) with exactly ONE IEEE division per "
    "reported double — divisions of exact int64s are correctly "
    "rounded, so both engines agree bit-for-bit before the 6-dp "
    "round. Scale shape: one groupBy to days (map-side combined), "
    "one per-type window over the metadata-sized daily frame, one "
    "7-rows-per-type broadcast join — the w7/w17 layout shared.",
)
def w19_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_us = 86_400_000_000
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    daily = (
        ev.select(
            "event_type",
            ((us - (us % day_us)) / day_us).cast("long").alias("ed"),
        )
        .groupBy("event_type", "ed")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wnd = (
        Window.partitionBy("event_type")
        .orderBy("ed")
        .rowsBetween(-3, 3)
    )
    det = (
        daily.select(
            "event_type",
            "ed",
            "x",
            F.sum("x").over(wnd).cast("long").alias("s_w"),
            F.count(F.lit(1)).over(wnd).cast("long").alias("n_w"),
        )
        .filter(F.col("n_w") == 7)
        .withColumn("dw", ((F.col("ed") % 7) + 7) % 7)
        .withColumn("d", 7 * F.col("x") - F.col("s_w"))
    )
    seas = det.groupBy("event_type", "dw").agg(
        F.sum("d").cast("long").alias("sum_d"),
        F.count(F.lit(1)).alias("n_dw"),
    )
    den = 7.0 * F.col("n_dw")
    return det.join(F.broadcast(seas), ["event_type", "dw"]).select(
        "event_type",
        "ed",
        "dw",
        "x",
        F.round(F.col("s_w") / 7.0, 6).alias("trend"),
        F.round(F.col("sum_d") / den, 6).alias("seasonal"),
        F.round(
            (
                7 * F.col("n_dw") * F.col("x")
                - F.col("n_dw") * F.col("s_w")
                - F.col("sum_d")
            )
            / den,
            6,
        ).alias("residual"),
    )


@query(
    "w20_mad_outliers",
    """
    WITH med AS (
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ), mad AS (
        SELECT e.event_type,
               round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_type, count(*)::BIGINT AS n, m.med, d.mad,
           sum(CASE WHEN abs(e.value - m.med) > 3 * d.mad
               THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           round(sum(CASE WHEN abs(e.value - m.med) > 3 * d.mad
                     THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
               AS outlier_frac
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type, m.med, d.mad
    """,
    "Robust outlier screen via median absolute deviation — the "
    "monitoring cut that survives the heavy tails a mean/stddev "
    "z-score (a10's moments) drowns in. Three passes over the value "
    "column, each ONE group-key aggregation with the tiny per-type "
    "median frame broadcast back (exact interpolated percentile = "
    "the a12 cross-engine identity; both med and MAD are 6-dp-rounded "
    "before reuse so every downstream comparison sees bit-identical "
    "operands). The approx_percentile swap is the 100 TB path, same "
    "shape.",
)
def w20_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 6
            ).alias("mad")
        )
    )
    j = ev.join(F.broadcast(med), "event_type").join(
        F.broadcast(mad), "event_type"
    )
    is_out = F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")
    return j.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias(
            "n_outliers"
        ),
        F.round(
            F.sum(F.when(is_out, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("outlier_frac"),
    ).select(
        "event_type", "n", "med", "mad", "n_outliers", "outlier_frac"
    )


@query(
    "w26_max_drawdown",
    """
    WITH c AS (
        SELECT user_id, ts, event_id,
               round(value * 100)::BIGINT AS cents
        FROM events
    ), peaks AS (
        SELECT user_id, ts, event_id, cents,
               max(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS peak
        FROM c
    ), dd AS (
        SELECT user_id, event_id, peak - cents AS d,
               floor(epoch(ts))::BIGINT AS ep
        FROM peaks
    )
    SELECT user_id, d::BIGINT AS max_dd_cents,
           event_id::BIGINT AS dd_event_id, n
    FROM (
        SELECT user_id, d, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY d DESC, ep DESC,
                                           event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM dd
    ) WHERE rn = 1
    """,
    "Running maximum drawdown per user (the peak-to-trough series "
    "statistic every monitoring/finance stack ships; over the HR "
    "stream it is the steepest observed drop from a running peak): "
    "running max via an ordered window, drawdown = peak - value in "
    "exact cents, then one aggregation keeping the max and its argmax "
    "row via a lexicographic max_by struct (deterministic ties by "
    "time then id — no second pass, no self-join). One exchange on "
    "the user key; the window sort spills, never buffers.",
)
def w26_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.col("ts").cast("long").alias("ep"),
        "ts",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = ev.select(
        "user_id",
        "event_id",
        "ep",
        (F.max("cents").over(w) - F.col("cents")).alias("d"),
    )
    return dd.groupBy("user_id").agg(
        F.max("d").cast("long").alias("max_dd_cents"),
        F.max_by(
            F.col("event_id"), F.struct("d", "ep", "event_id")
        ).cast("long").alias("dd_event_id"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "w27_sax_symbols",
    """
    WITH paa AS (
        -- piecewise aggregate approximation: daily mean in whole cents
        SELECT user_id, date_trunc('day', ts) AS day,
               CAST(floor(sum(round(value * 100)::BIGINT)::DOUBLE
                          / count(*) + 0.5) AS BIGINT) AS pq
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT user_id,
               count(*)::DOUBLE AS n,
               sum(pq)::DOUBLE AS s1,
               sum(pq * pq)::DOUBLE AS s2
        FROM paa GROUP BY user_id
    ), z AS (
        SELECT p.user_id, strftime(p.day, '%Y%m%d')::BIGINT AS day_key,
               p.pq,
               (p.pq - s.s1 / s.n)
                 / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS zv
        FROM paa p JOIN stats s ON p.user_id = s.user_id
        WHERE s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n) > 0
    )
    SELECT user_id, day_key, pq AS paa_cents,
           (CASE WHEN zv < -0.6745 THEN 0
                 WHEN zv < 0.0 THEN 1
                 WHEN zv < 0.6745 THEN 2
                 ELSE 3 END)::BIGINT AS symbol
    FROM z
    """,
    "SAX symbolization (Lin et al. 2003, 'A Symbolic Representation "
    "of Time Series' — the discretization step of classic time-series "
    "motif/anomaly mining): daily PAA means in half-up whole cents, "
    "per-user z-normalization from EXACT integer power sums (the m18 "
    "discipline — the z value is IEEE div/sqrt on identical integers, "
    "so the breakpoint comparisons against the N(0,1) quartiles "
    "±0.6745 decide identically in both engines), alphabet size 4. "
    "Two map-side-combined aggregations + one broadcast of the "
    "per-user stats table; state is users × days rows.",
)
def w27_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    paa = ev.groupBy("user_id", "day").agg(
        F.floor(
            F.sum("cents").cast("double") / F.count(F.lit(1)) + 0.5
        ).cast("long").alias("pq")
    )
    stats = paa.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("pq").cast("double").alias("s1"),
        F.sum(F.col("pq") * F.col("pq")).cast("double").alias("s2"),
    )
    m = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - m * m
    z = (F.col("pq") - m) / F.sqrt(var)
    sym = (
        F.when(z < -0.6745, 0)
        .when(z < 0.0, 1)
        .when(z < 0.6745, 2)
        .otherwise(3)
    )
    return (
        paa.join(F.broadcast(stats), "user_id")
        .filter(var > 0)
        .select(
            "user_id",
            F.date_format("day", "yyyyMMdd").cast("long").alias("day_key"),
            F.col("pq").alias("paa_cents"),
            sym.cast("long").alias("symbol"),
        )
    )


@query(
    "w21_interval_coverage",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts)::BIGINT AS t
        FROM events
    ), m AS (
        SELECT user_id, event_id, t,
               max(t + 300000000) OVER (PARTITION BY user_id
                   ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               )::BIGINT AS prev_end
        FROM e
    ), isl AS (
        SELECT user_id, t,
               sum(CASE WHEN prev_end IS NULL OR t > prev_end
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS island
        FROM m
    ), per AS (
        SELECT user_id, island,
               min(t) AS s, max(t) + 300000000 AS e
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           sum(1)::BIGINT AS n_intervals,
           sum(e - s)::BIGINT AS covered_us
    FROM per GROUP BY user_id
    """,
    "Per-user activity coverage via interval union (merge overlapping "
    "[ts, ts+5min) windows — the gaps-and-islands op behind 'how much "
    "wall-clock was this user active', which a naive count*5min "
    "overstates wherever events overlap; the W-family's interval "
    "algebra next to w3's gap repair and d2's gap clustering). "
    "Islands come from the classic running-max-of-ends rule with a "
    "(t, event_id) tiebreak so both engines see the same frame even "
    "on duplicate timestamps; everything is exact epoch-microsecond "
    "int64. Both windows and both aggregations share ONE user_id "
    "shuffle — Spark reuses the exchange — and per-user state is the "
    "user's own events only, so the plan scales with rows, not "
    "users^2.",
)
def w21_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    )
    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    m = ev.select(
        "user_id",
        "event_id",
        "t",
        F.max(F.col("t") + 300000000)
        .over(wo.rowsBetween(Window.unboundedPreceding, -1))
        .cast("long")
        .alias("prev_end"),
    )
    isl = m.select(
        "user_id",
        "t",
        F.sum(
            F.when(
                F.col("prev_end").isNull()
                | (F.col("t") > F.col("prev_end")),
                1,
            ).otherwise(0)
        )
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("island"),
    )
    per = isl.groupBy("user_id", "island").agg(
        F.min("t").alias("s"),
        (F.max("t") + 300000000).alias("e"),
    )
    return per.groupBy("user_id").agg(
        F.sum(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("covered_us"),
    )


_W22_R = (
    "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN"
    " round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    " * CAST(n * syy - sy * sy AS DOUBLE)), 6) END"
)


@query(
    "w22_xcorr_lags",
    f"""
    WITH e AS (
        SELECT CAST((epoch_us(ts) - (epoch_us(ts) % 3600000000))
                    / 3600000000 AS BIGINT) AS h,
               event_type
        FROM events WHERE event_type IN ('click', 'view')
    ), s AS (
        SELECT h,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   ::BIGINT AS nc,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   ::BIGINT AS nv
        FROM e GROUP BY h
    ), lags AS (
        SELECT * FROM (VALUES (0), (1), (2), (3), (4), (5), (6)) t(l)
    ), j AS (
        SELECT l.l, a.nc AS x, b.nv AS y
        FROM s a CROSS JOIN lags l JOIN s b ON b.h = a.h + l.l
    ), m AS (
        SELECT l, count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
               sum(x * y)::BIGINT AS sxy
        FROM j GROUP BY l
    )
    SELECT l AS lag_h, n AS n_hours, {_W22_R} AS r_xy
    FROM m
    """,
    "Cross-correlation between the hourly click series and the hourly "
    "view series at lags 0..6h — the lead/lag dependence diagnostic "
    "(does click volume predict view volume an hour later?) that "
    "completes n14's single-series ACF. Data-scale work is ONE "
    "conditional-count aggregation to the hourly frame; that frame is "
    "bounded by the time range, not the row count, so the 7-lag "
    "self-join and the per-lag Pearson moments run on a small series "
    "table (integer counts, exact int64 moments). Zero-variance lags "
    "emit NULL via an exact integer variance guard instead of a NaN "
    "that the two engines would order differently.",
)
def w22_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            (F.unix_micros("ts") - F.unix_micros("ts") % 3600000000)
            .cast("double")
            .alias("hus"),
            "event_type",
        )
        .select(
            (F.col("hus") / 3600000000).cast("long").alias("h"),
            "event_type",
        )
    )
    s = e.groupBy("h").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("nv"),
    )
    lags = literal_df(spark, [(i,) for i in range(7)], "l int")
    a = s.select(F.col("h").alias("ha"), F.col("nc").alias("x"))
    b = s.select(F.col("h").alias("hb"), F.col("nv").alias("y"))
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("ha") + F.col("l"))
        .select("l", "x", "y")
    )
    m = j.groupBy("l").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return m.select(
        F.col("l").alias("lag_h"),
        F.col("n").alias("n_hours"),
        F.expr(_W22_R).alias("r_xy"),
    )


@query(
    "w23_ohlc_hourly",
    """
    WITH e AS (
        SELECT CAST((epoch_us(ts) - (epoch_us(ts) % 3600000000))
                    / 3600000000 AS BIGINT) AS h,
               epoch_us(ts)::BIGINT AS t, event_id,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), rk AS (
        SELECT h, vc,
               row_number() OVER (PARTITION BY h
                                  ORDER BY t, event_id) AS ra,
               row_number() OVER (PARTITION BY h
                                  ORDER BY t DESC, event_id DESC) AS rd
        FROM e
    )
    SELECT h AS hour_idx,
           max(CASE WHEN ra = 1 THEN vc END) AS open_c,
           max(vc) AS high_c,
           min(vc) AS low_c,
           max(CASE WHEN rd = 1 THEN vc END) AS close_c,
           count(*)::BIGINT AS n_events,
           sum(vc)::BIGINT AS volume_c
    FROM rk GROUP BY h
    """,
    "Hourly OHLC resampling of the event value stream (open/high/low/"
    "close + volume — the candlestick aggregation every time-series "
    "store exposes; the reference's dataSummariser draws per-day "
    "equivalents from pandas loops). Open/close are true FIRST/LAST by "
    "(ts, event_id) — selected via per-hour row_number windows with a "
    "deterministic tiebreak, not min/max of value — and both windows "
    "plus the final aggregate share ONE hour-key exchange. Values "
    "quantize to exact centi-ints so high/low/volume are integer "
    "decisions. Per-hour state is O(events in that hour); hours "
    "partition the data, so skew is bounded by the busiest hour.",
)
def w23_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.unix_micros("ts").alias("t"),
            "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
        .select(
            ((F.col("t") - F.col("t") % 3600000000) / 3600000000)
            .cast("long")
            .alias("h"),
            "t",
            "event_id",
            "vc",
        )
    )
    wa = Window.partitionBy("h").orderBy("t", "event_id")
    wd = Window.partitionBy("h").orderBy(
        F.desc("t"), F.desc("event_id")
    )
    rk = e.select(
        "h",
        "vc",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return rk.groupBy(F.col("h").alias("hour_idx")).agg(
        F.max(F.when(F.col("ra") == 1, F.col("vc"))).alias("open_c"),
        F.max("vc").alias("high_c"),
        F.min("vc").alias("low_c"),
        F.max(F.when(F.col("rd") == 1, F.col("vc"))).alias("close_c"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vc").cast("long").alias("volume_c"),
    )


def _w24_oracle() -> str:
    return f"""
    WITH stl AS ({QUERIES['w19_stl_decompose'].oracle}),
    cnt AS (
        SELECT event_type, count(*)::BIGINT AS n
        FROM stl GROUP BY event_type
    ), med AS (
        SELECT s.event_type, s.residual AS med FROM (
            SELECT event_type, residual,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY residual) AS rn
            FROM stl
        ) s JOIN cnt ON s.event_type = cnt.event_type
        WHERE s.rn = CAST(((cnt.n + 1) - ((cnt.n + 1) % 2)) / 2 AS BIGINT)
    ), dev AS (
        SELECT stl.event_type, stl.ed, stl.x, stl.residual, med.med,
               abs(stl.residual - med.med) AS ad
        FROM stl JOIN med ON stl.event_type = med.event_type
    ), mad AS (
        SELECT d.event_type, d.ad AS mad FROM (
            SELECT event_type, ad,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY ad) AS rn
            FROM dev
        ) d JOIN cnt ON d.event_type = cnt.event_type
        WHERE d.rn = CAST(((cnt.n + 1) - ((cnt.n + 1) % 2)) / 2 AS BIGINT)
    )
    SELECT dev.event_type, dev.ed, dev.x, dev.residual,
           round(dev.med, 6) AS med_resid,
           round(mad.mad, 6) AS mad_resid
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    WHERE dev.ad > 3 * mad.mad
    """


@query(
    "w24_stl_anomaly",
    _w24_oracle(),
    "Seasonal-residual anomaly detection — the composition a "
    "monitoring stack actually deploys (w19's STL strips trend + "
    "weekly seasonality so a busy-Saturday spike is NOT an anomaly; "
    "then w20's robust MAD rule flags days whose residual deviates "
    "more than 3 MADs from the per-type median). Both medians are "
    "lower-medians by row_number over the per-type DAILY frame; the "
    "residuals entering them are already bit-identical cross-engine "
    "(w19's one-division discipline), and differences/comparisons of "
    "identical doubles are exact IEEE, so every anomaly verdict is "
    "deterministic. The oracle composes w19's oracle text verbatim — "
    "this query is the verified composition, the p6 pattern applied "
    "to time-series monitoring.",
)
def w24_stl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    stl = w19_stl_decompose(spark, sf_dir).localCheckpoint(eager=False)
    cnt = stl.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("event_type").orderBy("residual")
    med = (
        stl.select(
            "event_type",
            "residual",
            F.row_number().over(wt).alias("rn"),
        )
        .join(F.broadcast(cnt), "event_type")
        .filter(
            F.col("rn")
            == F.expr("CAST(((n + 1) - ((n + 1) % 2)) / 2 AS BIGINT)")
        )
        .select("event_type", F.col("residual").alias("med"))
    )
    dev = stl.join(F.broadcast(med), "event_type").select(
        "event_type",
        "ed",
        "x",
        "residual",
        "med",
        F.abs(F.col("residual") - F.col("med")).alias("ad"),
    )
    wa = Window.partitionBy("event_type").orderBy("ad")
    mad = (
        dev.select(
            "event_type", "ad", F.row_number().over(wa).alias("rn")
        )
        .join(F.broadcast(cnt), "event_type")
        .filter(
            F.col("rn")
            == F.expr("CAST(((n + 1) - ((n + 1) % 2)) / 2 AS BIGINT)")
        )
        .select("event_type", F.col("ad").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("ad") > 3 * F.col("mad"))
        .select(
            "event_type",
            "ed",
            "x",
            "residual",
            F.round("med", 6).alias("med_resid"),
            F.round("mad", 6).alias("mad_resid"),
        )
    )


# ---------------------------------------------------------------------------
# round 6: Holt-Winters additive seasonal smoothing (w25's seasonal upgrade)
# ---------------------------------------------------------------------------


def _w28_oracle() -> str:
    ln = "0.5*(d.y - st.sa) + 0.5*(st.l + st.b)"
    return f"""
    WITH RECURSIVE buck AS MATERIALIZED (
        SELECT event_type, epoch_us(ts) // 21600000000 AS bk,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1, 2
    ), idx AS MATERIALIZED (
        SELECT event_type, bk, y,
               row_number() OVER (PARTITION BY event_type ORDER BY bk)
                   - 1 AS i
        FROM buck
    ), hw AS (
        SELECT event_type, bk, y, i,
               y AS l, 0.0::DOUBLE AS b,
               0.0::DOUBLE AS sa, 0.0::DOUBLE AS sb,
               0.0::DOUBLE AS sc, 0.0::DOUBLE AS sd,
               y AS f
        FROM idx WHERE i = 0
        UNION ALL
        SELECT d.event_type, d.bk, d.y, d.i,
               {ln},
               0.25*(({ln}) - st.l) + 0.75*st.b,
               st.sb, st.sc, st.sd,
               0.5*(d.y - ({ln})) + 0.5*st.sa,
               st.l + st.b + st.sa
        FROM hw st
        JOIN idx d ON d.event_type = st.event_type AND d.i = st.i + 1
    )
    SELECT event_type, bk AS bucket_key, y::BIGINT AS n,
           CAST(floor(l * 1000000 + 0.5) AS BIGINT) AS level_micro,
           CAST(floor(b * 1000000 + 0.5) AS BIGINT) AS trend_micro,
           CAST(floor(sd * 1000000 + 0.5) AS BIGINT) AS season_micro,
           CAST(floor(f * 1000000 + 0.5) AS BIGINT) AS forecast_micro
    FROM hw
    """


@query(
    "w28_holt_winters",
    _w28_oracle(),
    "Holt-Winters ADDITIVE seasonal smoothing (Winters 1960; the "
    "seasonal upgrade of w25's level+trend Holt) over per-type 6-hour "
    "counts with period m=4 (one day): level, trend and a rotating "
    "4-slot seasonal register update per step, and the one-step "
    "forecast l+b+s_{{t-m}} is the seasonality-aware baseline w24-"
    "style anomaly monitors subtract. Smoothing constants are DYADIC "
    "(alpha=1/2, beta=1/4, gamma=1/2) and seasonal slots initialize "
    "to zero, so every recurrence step is exact IEEE arithmetic; the "
    "oracle's recursive CTE carries the four slots as columns and "
    "shifts them each step — bit-equal state, half-up-floor micro "
    "outputs (the w25/c13 discipline extended to a 6-state coupled "
    "recurrence). Sequential per series, so it runs as one Arrow "
    "stage per type over the pre-aggregated bucket frame; corpus-"
    "scale work is the single map-side-combined count.",
)
def w28_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    buck = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 21600000000").alias("bk"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bk", kind="mergesort").reset_index(drop=True)
        y = pdf["n"].to_numpy(dtype=float)
        out_l, out_b, out_s, out_f = [], [], [], []
        l, b = y[0], 0.0
        slots = [0.0, 0.0, 0.0, 0.0]  # s_{t-4}..s_{t-1}
        for t in range(len(y)):
            if t == 0:
                f, s_new = y[0], 0.0
            else:
                sa = slots[0]
                f = l + b + sa
                l_new = 0.5 * (y[t] - sa) + 0.5 * (l + b)
                b = 0.25 * (l_new - l) + 0.75 * b
                s_new = 0.5 * (y[t] - l_new) + 0.5 * sa
                l = l_new
                slots = slots[1:] + [0.0]
            slots[3] = s_new
            out_l.append(l)
            out_b.append(b)
            out_s.append(s_new)
            out_f.append(f)

        def mic(xs):
            return np.floor(np.asarray(xs) * 1e6 + 0.5).astype("int64")

        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "bucket_key": pdf["bk"].astype("int64"),
                "n": pdf["n"].astype("int64"),
                "level_micro": mic(out_l),
                "trend_micro": mic(out_b),
                "season_micro": mic(out_s),
                "forecast_micro": mic(out_f),
            }
        )

    return buck.groupBy("event_type").applyInPandas(
        smooth,
        "event_type string, bucket_key long, n long, level_micro long, "
        "trend_micro long, season_micro long, forecast_micro long",
    )


@query(
    "w29_dtw_band",
    """
    WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, count(*)::BIGINT AS v
        FROM events GROUP BY 1, 2
    ), days AS (
        SELECT d, i FROM (
            SELECT d, row_number() OVER (ORDER BY d) AS i
            FROM (SELECT DISTINCT d FROM daily)
        ) WHERE i <= 30
    ), kk AS (
        SELECT max(i)::BIGINT AS k FROM days
    ), types AS (
        SELECT DISTINCT event_type AS t FROM daily
    ), series AS (
        SELECT types.t, days.i, coalesce(daily.v, 0) AS v
        FROM types CROSS JOIN days
        LEFT JOIN daily ON daily.event_type = types.t AND daily.d = days.d
    ), cost AS (
        SELECT a.t AS ta, b.t AS tb, a.i AS i, b.i AS j,
               abs(a.v - b.v) AS c
        FROM series a JOIN series b
          ON a.t < b.t AND abs(a.i - b.i) <= 3
    ), dp(ta, tb, i, j, val, it) AS (
        SELECT ta, tb, i, j, c, 0::BIGINT FROM cost WHERE i = 1 AND j = 1
      UNION ALL
        SELECT g.ta, g.tb, g.i, g.j,
               g.mval + CASE WHEN g.is_keep THEN 0 ELSE co.c END AS val,
               g.it + 1
        FROM (
            SELECT dp.ta, dp.tb, dp.i + mv.di AS i, dp.j + mv.dj AS j,
                   min(dp.val) AS mval, bool_or(mv.keep) AS is_keep,
                   max(dp.it) AS it
            FROM dp
            JOIN (VALUES (1, 0, 0, false), (0, 1, 0, false),
                         (1, 1, 1, false), (0, 0, 0, true))
                 mv(di, dj, lag, keep)
              ON dp.i + dp.j = dp.it + 2 - mv.lag
            GROUP BY dp.ta, dp.tb, dp.i + mv.di, dp.j + mv.dj
        ) g
        LEFT JOIN cost co
          ON co.ta = g.ta AND co.tb = g.tb AND co.i = g.i AND co.j = g.j
        CROSS JOIN kk
        WHERE (g.is_keep AND g.i + g.j <= 2 * kk.k - 2)
           OR (NOT g.is_keep AND co.c IS NOT NULL)
    )
    SELECT dp.ta, dp.tb, kk.k AS k, min(dp.val)::BIGINT AS dtw_dist
    FROM dp CROSS JOIN kk
    WHERE dp.i = kk.k AND dp.j = kk.k
    GROUP BY dp.ta, dp.tb, kk.k
    """,
    "Banded dynamic time warping between the daily activity curves of "
    "every event-type pair (Sakoe-Chiba band r=3 over the first 30 "
    "days, |a_i - b_j| integer cost) — elastic time-series similarity "
    "for cadence comparison, the alignment-tolerant complement of "
    "w22's fixed-lag cross-correlation. Spark shape: the corpus-sized "
    "work is ONE map-side-combined daily rollup; the pair fan-out is "
    "dimension-sized ((types x types)/2 pairs x 30 band rows) and each "
    "pair's DP runs whole inside one applyInPandas task as an int64 "
    "numpy recurrence (exact — no float path), so pairs parallelize "
    "perfectly and the DP never shuffles. Oracle: the SAME recurrence "
    "as a recursive CTE marching ANTI-DIAGONALS — the working set "
    "carries frontier d and (re-emitted) frontier d-1, each step "
    "derives diagonal d+1 via a 4-row move table (left/up from d, "
    "diagonal from d-1, self-passthrough) under the single-recursive-"
    "reference rule, min-grouped per cell — the c13 recursive-CTE "
    "discipline extended from 1-D recurrences to 2-D DP.",
)
def w29_dtw_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    days = (
        daily.select("d")
        .distinct()
        .select(
            # fresh name: "d" would be ambiguous-by-lineage against
            # daily's own "d" in the re-join below (Spark resolves a
            # self-derived column reference to either side)
            F.col("d").alias("dd"),
            F.row_number().over(Window.orderBy("d")).alias("i"),
        )
        .filter(F.col("i") <= 30)
    )
    types = daily.select(F.col("event_type").alias("t")).distinct()
    series = (
        types.crossJoin(F.broadcast(days))
        .join(
            daily,
            (daily.event_type == F.col("t")) & (daily.d == F.col("dd")),
            "left",
        )
        .select("t", "i", F.coalesce("v", F.lit(0)).alias("v"))
    )
    a = series.select(
        F.col("t").alias("ta"), F.col("i").alias("i"), F.col("v").alias("va")
    )
    b = series.select(
        F.col("t").alias("tb"), F.col("i").alias("j"), F.col("v").alias("vb")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("ta") < F.col("tb"))
        & (F.abs(F.col("i") - F.col("j")) <= 3),
    )

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(max(pdf["i"].max(), pdf["j"].max()))
        inf = np.iinfo(np.int64).max // 4
        cost = np.full((k + 1, k + 1), inf, dtype=np.int64)
        cost[pdf["i"].to_numpy(), pdf["j"].to_numpy()] = np.abs(
            pdf["va"].to_numpy() - pdf["vb"].to_numpy()
        )
        dp = np.full((k + 1, k + 1), inf, dtype=np.int64)
        dp[1, 1] = cost[1, 1]
        for i in range(1, k + 1):
            for j in range(max(1, i - 3), min(k, i + 3) + 1):
                if i == 1 and j == 1:
                    continue
                best = min(dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
                dp[i, j] = best + cost[i, j] if best < inf else inf
        return pd.DataFrame(
            [{
                "ta": pdf["ta"].iloc[0],
                "tb": pdf["tb"].iloc[0],
                "k": k,
                "dtw_dist": int(dp[k, k]),
            }]
        )

    return pairs.groupBy("ta", "tb").applyInPandas(
        dtw, "ta string, tb string, k long, dtw_dist long"
    )


@query(
    "w30_matrix_profile",
    """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, count(*)::BIGINT AS v
        FROM events GROUP BY 1, 2
    ), days AS (
        SELECT d, i FROM (
            SELECT d, row_number() OVER (ORDER BY d) AS i
            FROM (SELECT DISTINCT d FROM daily)
        ) WHERE i <= 30
    ), types AS (
        SELECT DISTINCT event_type AS t FROM daily
    ), series AS (
        SELECT types.t, days.i, coalesce(daily.v, 0) AS v
        FROM types CROSS JOIN days
        LEFT JOIN daily ON daily.event_type = types.t AND daily.d = days.d
    ), kk AS (
        SELECT max(i)::BIGINT AS k FROM days
    ), w AS (
        -- window membership: sample at index i belongs to window
        -- starting at s = i - p for offsets p in 0..6
        SELECT series.t, series.i - p.p AS s, p.p, series.v
        FROM series
        CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS p) p
        CROSS JOIN kk
        WHERE series.i - p.p >= 1 AND series.i - p.p <= kk.k - 6
    ), dists AS (
        SELECT a.t, a.s AS sa, b.s AS sb,
               sum((a.v - b.v) * (a.v - b.v))::BIGINT AS d2
        FROM w a JOIN w b
          ON a.t = b.t AND a.p = b.p AND abs(a.s - b.s) >= 4
        GROUP BY a.t, a.s, b.s
    ), mp AS (
        SELECT t, sa AS s, min(d2)::BIGINT AS mp_d2
        FROM dists GROUP BY t, sa
    ), nn AS (
        SELECT d.t, d.sa AS s, min(d.sb)::BIGINT AS nn_s
        FROM dists d JOIN mp ON mp.t = d.t AND mp.s = d.sa
                             AND d.d2 = mp.mp_d2
        GROUP BY d.t, d.sa
    )
    SELECT mp.t, mp.s, mp.mp_d2, nn.nn_s,
           (mp.mp_d2 = max(mp.mp_d2) OVER (PARTITION BY mp.t))
               AS is_discord
    FROM mp JOIN nn ON mp.t = nn.t AND mp.s = nn.s
    """,
    "Matrix profile over each event type's daily curve (Yeh et al. "
    "2016): for every length-7 subsequence, the squared-euclidean "
    "distance to its nearest NON-TRIVIAL match (exclusion zone "
    "|i-j| >= 4 kills self-matches), the standard motif/discord "
    "primitive — the window whose profile value is the per-type MAX is "
    "the discord (most anomalous week). All-integer arithmetic "
    "(squared distances of counts, no sqrt), so the profile is exact "
    "in both engines. Scale shape: the corpus term is the one daily "
    "rollup; windows/pairs are a dimension-sized frame (types x 24 "
    "starts x 7 offsets), self-joined per (type, offset) with "
    "map-side-combined distance sums — at a real 100 TB the same plan "
    "holds with per-entity profiles because the pair fan-out is "
    "bounded per key, never corpus x corpus.",
)
def w30_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    days = (
        daily.select("d")
        .distinct()
        .select(
            F.col("d").alias("dd"),
            F.row_number().over(Window.orderBy("d")).alias("i"),
        )
        .filter(F.col("i") <= 30)
    )
    types = daily.select(F.col("event_type").alias("t")).distinct()
    series = (
        types.crossJoin(F.broadcast(days))
        .join(
            daily,
            (daily.event_type == F.col("t")) & (daily.d == F.col("dd")),
            "left",
        )
        .select("t", "i", F.coalesce("v", F.lit(0)).alias("v"))
    )
    k = series.agg(F.max("i").alias("k"))
    w = (
        series.select(
            "t", "i", "v", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("p")
        )
        .crossJoin(F.broadcast(k))
        .select(
            "t", (F.col("i") - F.col("p")).alias("s"), "p", "v",
            F.col("k"),
        )
        .filter((F.col("s") >= 1) & (F.col("s") <= F.col("k") - 6))
        .drop("k")
    )
    a = w.select(
        F.col("t"), F.col("s").alias("sa"), "p", F.col("v").alias("va")
    )
    b = w.select(
        F.col("t").alias("tb"), F.col("s").alias("sb"), F.col("p").alias("pb"),
        F.col("v").alias("vb"),
    )
    dists = (
        a.join(
            b,
            (F.col("t") == F.col("tb"))
            & (F.col("p") == F.col("pb"))
            & (F.abs(F.col("sa") - F.col("sb")) >= 4),
        )
        .groupBy("t", "sa", "sb")
        .agg(
            F.sum((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb")))
            .cast("long")
            .alias("d2")
        )
    )
    mp = dists.groupBy("t", F.col("sa").alias("s")).agg(
        F.min("d2").cast("long").alias("mp_d2")
    )
    # fresh names for the re-join against mp (mp derives from dists, so
    # shared column refs would be ambiguous-by-lineage)
    d2s = dists.select(
        F.col("t").alias("td"), F.col("sa").alias("sd"),
        F.col("sb").alias("sb"), F.col("d2").alias("dd2"),
    )
    nn = (
        d2s.join(
            mp,
            (F.col("td") == mp.t)
            & (F.col("sd") == mp.s)
            & (F.col("dd2") == mp.mp_d2),
        )
        .groupBy("td", "sd")
        .agg(F.min("sb").cast("long").alias("nn_s"))
        .select(F.col("td").alias("tn"), F.col("sd").alias("sn"), "nn_s")
    )
    out = mp.join(
        nn, (mp.t == F.col("tn")) & (mp.s == F.col("sn"))
    ).select("t", "s", "mp_d2", "nn_s")
    wt = Window.partitionBy("t")
    return out.withColumn(
        "is_discord", F.col("mp_d2") == F.max("mp_d2").over(wt)
    )
