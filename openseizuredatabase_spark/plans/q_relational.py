"""Relational core: scans, filters, joins, set algebra, source/sink and streaming queries (SURVEY A*/F*/J*/U*/S*).

Split out of plans/registry.py (round 6); statements moved verbatim.
"""

from __future__ import annotations

import math
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openseizuredatabase_spark.operators import aggregates as agg_ops
from openseizuredatabase_spark.operators import dedup as dedup_ops
from openseizuredatabase_spark.operators import filters as filter_ops
from openseizuredatabase_spark.operators import joins as join_ops
from openseizuredatabase_spark.operators import splits as split_ops
from openseizuredatabase_spark.operators import windows as window_ops
from openseizuredatabase_spark.functions import text as text_fns
from openseizuredatabase_spark.functions.text import bpe_token_count_sql
from openseizuredatabase_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
    seeded_md5_long,
    seeded_md5_long_sql,
)
from openseizuredatabase_spark.lineage import pin
from openseizuredatabase_spark.sources.lake import morton_sql
from openseizuredatabase_spark.sources import tables
from openseizuredatabase_spark.sources.tables import load_table, table_meta
from openseizuredatabase_spark.sources.width import cores, rows_width, session_width, stream_width

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)
# q_window must register first: s15_streaming_detector's decorator
# reuses QUERIES["w10_alarm_state_machine"].oracle at import time.
from openseizuredatabase_spark.plans import q_window as _q_window  # noqa: F401
from openseizuredatabase_spark.plans.q_shared import (  # noqa: F401
    _ham18,
    _ham18_sql,
    _ham_candidates,
    _pigeonhole_keys,
    _pigeonhole_keys_sql,
    _reps_sql,
)



# ---------------------------------------------------------------------------
# Relational core (scan → filter → aggregate; SURVEY A1/A7, TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@query(
    "a1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "A1/A7 scan-agg (TPC-H Q1 shape): map-side partial agg, 2-col group key.",
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "j3_top_orders",
    """
    SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    "J3 broadcast enrichment + multi-join agg (TPC-H Q3 shape): the small "
    "filtered dimension broadcasts; lineitem never shuffles for the dim join.",
)
def j3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(
        F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "j2_semi_join_customers",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    "J2 semi-join by id set (osdDbConnection.py:279-303 retrieveEvents).",
)
def j2_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return filter_ops.semi_join_ids(
        c, o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select("c_custkey", "c_name")


@query(
    "f7_anti_join_customers",
    """
    SELECT c_custkey
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "F7/J6 anti-join (invalid-event removal / new-event diff shape).",
)
def f7_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return filter_ops.anti_join_ids(
        c, o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select("c_custkey")


@query(
    "j5_snapshot_merge",
    """
    WITH tagged AS (
        SELECT event_id, user_id, value, 'a' AS src FROM events WHERE event_id % 3 <> 0
        UNION ALL
        SELECT event_id, user_id, value, 'b' AS src FROM events WHERE event_id % 2 <> 0
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY src ASC) AS rn
        FROM tagged
    )
    SELECT event_id, user_id, value, src FROM ranked WHERE rn = 1
    """,
    "J5 snapshot merge: union + reconcile by key, snapshot 'a' wins "
    "(merge_json.py:119-147).",
)
def j5_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    snap_a = ev.filter(F.col("event_id") % 3 != 0)
    snap_b = ev.filter(F.col("event_id") % 2 != 0)
    return join_ops.snapshot_merge(
        [("a", snap_a), ("b", snap_b)], "event_id", ["a", "b"]
    ).select("event_id", "user_id", "value", "src")


# ---------------------------------------------------------------------------
# Filters (F1-F6, C5 JSON extraction)
# ---------------------------------------------------------------------------


@query(
    "f1_include_exclude",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('purchase', 'signup')
      AND user_id NOT IN (1, 2, 3)
      AND value BETWEEN 10 AND 500
    """,
    "F1 multi-field include/exclude filter compiled to one predicate "
    "(osdDbConnection.py:405-537).",
)
def f1_include_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return filter_ops.apply_filter(
        ev,
        {
            "include": {"event_type": ["purchase", "signup"]},
            "exclude": {"user_id": [1, 2, 3]},
            "between": {"value": (10, 500)},
        },
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "f2_ci_substring",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
    """,
    "F2 case-insensitive substring OR-match (osdDbConnection.py:540-587).",
)
def f2_ci_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return filter_ops.apply_filter(
        docs, {"contains": {"text": ["join", "merge"]}}
    ).select("doc_id", "lang", "source")


@query(
    "f3_sql_predicate",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type = 'purchase' OR event_type = 'error' OR value > 450
    """,
    "F3 SQL-ish query string filter (makeOsdDb.py:136-138 df.query).",
)
def f3_sql_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        "event_type = 'purchase' OR event_type = 'error' OR value > 450"
    ).select("event_id", "event_type", "value")


@query(
    "f4_date_range_daily",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1, 2
    """,
    "F4 date-range predicate + D4 daily grouping (makeOsdDb.py:141-152, "
    "false_alarm_analysis.py:99-124). Range predicate reaches the parquet "
    "scan (min/max pruning).",
)
def f4_date_range_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "a8_cumulative_daily",
    """
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           (sum(n) OVER (PARTITION BY event_type ORDER BY day ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           )::BIGINT AS cum_n
    FROM daily
    """,
    "A8 cumulative counts over time (generateGraphs.py:176-278): daily "
    "count + running total per category.",
)
def a8_cumulative_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return window_ops.cumulative_sum(daily, ["event_type"], "day", "n", "cum_n")


# ---------------------------------------------------------------------------
# Aggregations & metrics (A2-A7, A11)
# ---------------------------------------------------------------------------


@query(
    "a2_category_cube",
    """
    SELECT event_type, (user_id % 4)::BIGINT AS cohort, count(*) AS n,
           round(sum(round(value * 100)::BIGINT) / 100.0, 2) AS sum_value
    FROM events
    GROUP BY CUBE (event_type, (user_id % 4)::BIGINT)
    """,
    "A2 category stats cross-tab (generateGraphs.py:66-114): CUBE over "
    "(type, cohort) — grouping-sets are free in Spark, absent in the "
    "reference which loops per grouping.",
)
def a2_category_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", (F.col("user_id") % 4).cast("long")
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.withColumn("__cents", cents)
        .cube("event_type", "cohort")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("__cents") / 100.0, 2).alias("sum_value"),
        )
    )


@query(
    "a3_presence_flags",
    """
    SELECT user_id,
           count(CASE WHEN value > 100 THEN 1 END) >= 0.5 * count(*) AS mostly_high,
           count(CASE WHEN value > 100 THEN 1 END) AS n_valid,
           count(*) AS n_rows
    FROM events
    GROUP BY user_id
    """,
    "A3 data-presence flags (tidy_db.py:91-146): per-group boolean = "
    ">=50% of rows satisfy a validity predicate.",
)
def a3_presence_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.presence_flags(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        F.col("value") > 100,
        "mostly_high",
        0.5,
    )


@query(
    "a4_max_severity",
    """
    SELECT user_id,
           max(CASE event_type WHEN 'error' THEN 3 WHEN 'purchase' THEN 2
               WHEN 'signup' THEN 1 ELSE 0 END) AS max_severity
    FROM events
    GROUP BY user_id
    """,
    "A4 max alarm state per event (tidy_db.py:170-201, alg_runner.py:27-40): "
    "severity-mapped max.",
)
def a4_max_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sev = (
        F.when(F.col("event_type") == "error", 3)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 1)
        .otherwise(0)
    )
    return agg_ops.max_severity(_t(spark, sf_dir, "events"), ["user_id"], sev)


@query(
    "a5_event_rollup",
    """
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
           max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS pred,
           round(max(round(value * 100)::BIGINT) / 100.0, 2) AS max_prob,
           count(*) AS n_dp
    FROM events
    GROUP BY 1, 2
    """,
    "A5 event-level prediction rollup (nnTester.py:1345-1384): "
    "any-positive-datapoint ⇒ positive event; keep max probability.",
)
def a5_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = agg_ops.event_rollup(
        ev,
        ["user_id", "day"],
        F.col("event_type") == "error",
        F.round(F.col("value") * 100, 0).cast("long"),
    )
    return out.select(
        "user_id",
        "day",
        "pred",
        F.round(F.col("max_prob") / 100.0, 2).alias("max_prob"),
        "n_dp",
    )


@query(
    "a6_confusion_metrics",
    """
    WITH cm AS (
        SELECT count(CASE WHEN event_type = 'error' AND value > 150 THEN 1 END) AS ntp,
               count(CASE WHEN event_type <> 'error' AND value > 150 THEN 1 END) AS nfp,
               count(CASE WHEN event_type <> 'error' AND value <= 150 THEN 1 END) AS ntn,
               count(CASE WHEN event_type = 'error' AND value <= 150 THEN 1 END) AS nfn
        FROM events
    )
    SELECT ntp, nfp, ntn, nfn,
           round(ntp / (ntp + nfn)::DOUBLE, 6) AS tpr,
           round(ntn / (ntn + nfp)::DOUBLE, 6) AS tnr,
           round(ntp / (ntp + nfp)::DOUBLE, 6) AS precision,
           round(2 * (ntp / (ntp + nfp)::DOUBLE) * (ntp / (ntp + nfn)::DOUBLE)
                 / (ntp / (ntp + nfp)::DOUBLE + ntp / (ntp + nfn)::DOUBLE), 6) AS f1
    FROM cm
    """,
    "A6+A7 confusion matrix & derived metrics (results.py:76-240, "
    "nnTester.py:1558-1575): label = error event, pred = value>150.",
)
def a6_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cm = agg_ops.confusion_matrix(
        _t(spark, sf_dir, "events"),
        F.col("event_type") == "error",
        F.col("value") > 150,
    )
    return agg_ops.derived_metrics(cm, 6)


@query(
    "a11_per_user_rebucket",
    """
    WITH counts AS (
        SELECT user_id, count(*) AS kc FROM events WHERE event_type = 'error' GROUP BY user_id
    ), relabeled AS (
        SELECT e.*, CASE WHEN c.kc >= 150 THEN e.user_id::VARCHAR ELSE 'Other' END AS cohort
        FROM events e JOIN counts c ON e.user_id = c.user_id
        WHERE e.event_type = 'error'
    )
    SELECT cohort, count(*) AS n_errors, count(DISTINCT user_id) AS n_users,
           round(sum(round(value * 100)::BIGINT) / 100.0, 2) AS sum_value
    FROM relabeled GROUP BY cohort
    """,
    "A11 per-user analysis with small-user 'Other' re-bucketing "
    "(analyzeEventResults.py:123-208). Count join broadcasts.",
)
def a11_per_user_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    relabeled = agg_ops.small_group_rebucket(errors, "user_id", 150, "Other")
    return relabeled.withColumn(
        "__cents", F.round(F.col("value") * 100, 0).cast("long")
    ).groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("__cents") / 100.0, 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Set operations (U1-U4)
# ---------------------------------------------------------------------------


@query(
    "u_set_algebra",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT user_id FROM (
        SELECT user_id, count(*) AS n FROM events WHERE event_type = 'error'
        GROUP BY user_id
    ) t WHERE n > 160
    """,
    "U1-U4 set algebra (osdDbConnection append/remove entry lists): "
    "purchasers ∩ signups \\ heavy-error users.",
)
def u_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    signups = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    heavy_err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 160)
        .select("user_id")
    )
    return purchasers.intersect(signups).exceptAll(heavy_err).distinct()


@query(
    "u8_bag_algebra",
    """
    WITH a AS (
        SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
    ), b AS (
        SELECT user_id, event_type FROM events WHERE event_id % 2 = 1
    ), ex AS (
        SELECT user_id, event_type, count(*) AS n
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        GROUP BY 1, 2
    ), ia AS (
        SELECT user_id, event_type, count(*) AS n
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        GROUP BY 1, 2
    )
    SELECT 'except_all' AS op, * FROM ex
    UNION ALL
    SELECT 'intersect_all' AS op, * FROM ia
    """,
    "BAG set algebra (exceptAll / intersectAll — multiset semantics "
    "the U2-U4 SET operators cannot express: surplus COPIES survive, "
    "so a user with 5 'view' rows in A and 3 in B keeps exactly 2): "
    "Spark's native exceptAll/intersectAll compile to the count-"
    "difference aggregation + generator replication, which is exactly "
    "the distributed shape (one exchange on the row key, no "
    "row-at-a-time anti-join). The oracle is ANSI EXCEPT ALL / "
    "INTERSECT ALL; both sides reduce to per-key multiplicities for "
    "a stable comparison.",
)
def u8_bag_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "event_type"
    )
    b = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id", "event_type"
    )
    ex = (
        a.exceptAll(b)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "*")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "*")
    )
    return ex.unionByName(ia)


# ---------------------------------------------------------------------------
# Array stats & statistical moments (A9, A10, C2, C3)
# ---------------------------------------------------------------------------


@query(
    "a9_array_stats",
    """
    WITH sums AS (
        SELECT vec_id,
               sum(round(x * 1e6)::BIGINT) AS s1,
               sum(round(x * x * 1e6)::BIGINT) AS s2,
               count(*) AS n
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM embeddings) t
        GROUP BY vec_id
    )
    SELECT vec_id,
           floor(s1::DOUBLE / n)::BIGINT AS mean_micro,
           s2::BIGINT AS norm_sq_micro,
           n
    FROM sums
    """,
    "A9 per-row array statistics (eventAnalyser.py:165-167 mean/std/CV of "
    "the 125-sample array): aggregate() over the array column, quantized "
    "micro-unit accumulation for engine parity.",
)
def a9_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "e", F.col("embedding").cast("array<double>")
    )
    s1 = F.aggregate(
        F.transform("e", lambda x: F.round(x * 1e6, 0).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    s2 = F.aggregate(
        F.transform("e", lambda x: F.round(x * x * 1e6, 0).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n = F.size("e")
    # integer-exact outputs: round(x, 6) can land exactly on a decimal .5
    # boundary where Spark (BigDecimal HALF_UP) and other engines
    # disagree — caught at sf0.1. floor of an identical double division
    # and the raw quantized sum are bit-safe.
    return emb.select(
        "vec_id",
        F.floor(s1.cast("double") / n).cast("long").alias("mean_micro"),
        s2.alias("norm_sq_micro"),
        n.cast("long").alias("n"),
    )


@query(
    "a10_moments",
    """
    WITH cents AS (
        SELECT event_type, round(value * 100)::BIGINT AS c FROM events
    ), sums AS (
        SELECT event_type,
               count(*)::DOUBLE AS n,
               sum(c::HUGEINT)::DOUBLE AS s1,
               sum(c::HUGEINT * c)::DOUBLE AS s2,
               sum(c::HUGEINT * c * c)::DOUBLE AS s3,
               sum(c::HUGEINT * c * c * c)::DOUBLE AS s4
        FROM cents GROUP BY event_type
    )
    SELECT event_type,
           round((s1 / n) / 100, 6) AS mean_value,
           round(sqrt(s2 / n - (s1 / n) * (s1 / n)) / 100, 6) AS std_value,
           round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 6) AS kurtosis
    FROM sums
    """,
    "A10 per-group statistical moments (accelFeatures.py:70-79 mean/std/"
    "skewness/kurtosis): population formulas computed from EXACT integer "
    "power sums (sums are order-independent; the double formula is "
    "structurally identical in both engines → bit-identical rounding). "
    "Avoids Spark-vs-DuckDB skewness()/kurtosis() definition mismatches.",
)
def a10_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "c", F.round(F.col("value") * 100, 0).cast("long")
    )
    # widen each factor BEFORE multiplying: cents^4 overflows int64 once
    # |value| exceeds ~553 (56021^4 > 2^63)
    d = F.col("c").cast("decimal(9,0)")
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d).cast("double").alias("s1"),
        F.sum(d * d).cast("double").alias("s2"),
        F.sum(d * d * d).cast("double").alias("s3"),
        F.sum(d * d * d * d).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(x) for x in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    var = s2 / n - m * m
    skew = (s3 / n - 3 * m * (s2 / n) + 2 * m * m * m) / F.pow(var, 1.5)
    kurt = (
        s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n) - 3 * m * m * m * m
    ) / F.pow(var, 2) - 3
    return sums.select(
        "event_type",
        F.round(m / 100, 6).alias("mean_value"),
        F.round(F.sqrt(var) / 100, 6).alias("std_value"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
    )


@query(
    "f12_min_group_size",
    """
    WITH sized AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id
    FROM events e JOIN sized s ON e.user_id = s.user_id
    WHERE s.n >= 600 AND e.event_type = 'purchase'
    """,
    "F12 minimum-datapoint validity filter (makeOsdDb.py:368-390: drop "
    "events with < minDp datapoints) as a group-size semi-filter.",
)
def f12_min_group_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sized = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    big = sized.filter(F.col("n") >= 600).select("user_id")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(big), "user_id", "left_semi")
        .select("event_id", "user_id")
    )


# ---------------------------------------------------------------------------
# Pivot, LSH candidate pairs, synthetic signal generation (A5, LSH, C19)
# ---------------------------------------------------------------------------


@query(
    "a5_pivot_counts",
    """
    SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
    FROM events GROUP BY user_id
    """,
    "A5 per-dp pivot (nnTester.py:1345-1384 dp0..dpN prob pivot): "
    "groupBy().pivot() with an explicit value list (no extra pass to "
    "discover pivot values).",
)
def a5_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("user_id").pivot("event_type", types).count()
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


# v4_ivf_topk (MLlib-KMeans IVF search) is RETIRED as a registry entry:
# v6_ivf_probe_exact runs the identical probe shape (coarse quantizer →
# n_probe nearest clusters → exact rerank → top-k) with cross-engine
# exact integer semantics and a full value-hash oracle, so the rows-only
# v4 slot added no verification the oracled v6 doesn't already carry.
# The MLlib path itself (functions/ann.build_ivf / ivf_search) stays a
# library API — seeded-model recall vs brute force is pinned in
# tests/test_ann.py.


def _stream_events(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """readStream over the events parquet with ``ts`` normalized to
    TimestampType, whatever the writer's physical encoding.

    The file-stream source needs a directory and an explicit schema;
    symlink the single parquet file into a temp dir (no copy). Lake files
    have stored ts as INT64 nanos (read as long, ÷1000 → micros, exactly
    as load_table does) or as timestamp[us] (explicit TimestampType
    schema reads the identical instant under the UTC session).
    """
    import os
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        # Spark-written layout (e.g. the scale-stress replicas): the
        # .parquet path IS a directory of part files — stream it
        # directly and sniff the unit from any one part file.
        stream_dir = src
        sample = next(
            os.path.join(src, f)
            for f in sorted(os.listdir(src))
            if f.endswith(".parquet")
        )
    else:
        stream_dir = tempfile.mkdtemp(prefix=prefix)
        os.symlink(src, os.path.join(stream_dir, "events.parquet"))
        sample = src
    arrow_ts = pq.read_schema(sample).field("ts").type
    # Arrow reports BOTH int64-nanos and legacy INT96 as timestamp[ns];
    # only the int64 encoding needs (and survives) the raw-long read —
    # INT96 (Spark's default writer output) reads natively as Timestamp.
    pqs = pq.ParquetFile(sample).schema
    phys = {
        pqs.column(i).name: pqs.column(i).physical_type
        for i in range(len(pqs))
    }
    if getattr(arrow_ts, "unit", None) == "ns" and phys.get("ts") == "INT64":
        raw_schema = T.StructType(
            [
                T.StructField(
                    f.name, T.LongType() if f.name == "ts" else f.dataType
                )
                for f in ev.schema.fields
            ]
        )
        return (
            spark.readStream.schema(raw_schema)
            .parquet(stream_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    ts_schema = T.StructType(
        [
            T.StructField(
                f.name, T.TimestampType() if f.name == "ts" else f.dataType
            )
            for f in ev.schema.fields
        ]
    )
    return spark.readStream.schema(ts_schema).parquet(stream_dir)


@query(
    "s10_streaming_sessionize",
    """
    WITH o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        FROM events
    ), b AS (
        SELECT user_id, ts,
               CASE WHEN pts IS NULL
                         OR epoch_us(ts) - epoch_us(pts) >= 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM o
    ), s AS (
        SELECT user_id,
               sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM b
    ), per_s AS (
        SELECT user_id, sid, count(*) AS n FROM s GROUP BY user_id, sid
    )
    SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_len
    FROM per_s GROUP BY user_id
    """,
    "Structured Streaming sessionization (D2 streaming twin): the events "
    "parquet replayed through readStream → session_window(30 min gap) per "
    "user → complete-mode memory sink; returns the finalized sessions. "
    "The availableNow+complete emission is deterministic, so it carries a "
    "full batch oracle: session_window's [start, last+gap) interval "
    "semantics reduce to a lag-based gap >= 30 min break cumulative-sum — "
    "the streaming operator itself is what the cross-check pins.",
)
def s10_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.streaming.sessionize import session_clusters

    stream = _stream_events(spark, sf_dir, "s10_events_")
    out = session_clusters(stream, "ts", ["user_id"], gap="30 minutes")
    name = f"s10_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n").alias("max_session_len"),
        )
    )


@query(
    "f5_text_exclusion",
    """
    SELECT doc_id, source
    FROM documents
    WHERE (text IS NULL OR lower(text) NOT LIKE '%merge%')
      AND source <> 'src0'
    """,
    "F5 text-exclusion filter (makeOsdDb.py:156-157: drop events whose "
    "desc contains 'test') + F6 source exclusion — null-safe NOT-contains.",
)
def f5_text_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return filter_ops.apply_filter(
        docs,
        {"not_contains": {"text": ["merge"]}, "exclude": {"source": ["src0"]}},
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# As-of join & percentiles (operators the reference lacks; guide patterns)
# ---------------------------------------------------------------------------


@query(
    "j7_asof_last_signup",
    """
    SELECT event_id,
           epoch_us(last_signup)::BIGINT AS last_signup_micros
    FROM (
        SELECT event_id,
               max(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_signup
        FROM events
    ) t
    """,
    "J7 as-of join (operator Spark lacks natively; PLANS guide pattern): "
    "for every event, the most recent preceding signup of the same user. "
    "Expressed as a running conditional max — ONE window, no range-join "
    "explosion; the same shape covers sensor-reading-as-of-event lookups.",
)
def j7_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_signup = F.max(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    return ev.select(
        "event_id",
        (F.unix_micros(last_signup)).alias("last_signup_micros"),
    )


@query(
    "a12_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
    "Exact interpolated percentiles per group (Spark percentile == "
    "DuckDB quantile_cont: both linear interpolation on the sorted set). "
    "The approx_percentile variant is the 100-TB path; exact here for "
    "oracle comparability.",
)
def a12_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Interval containment, array signal stats, rollup, remaining augments
# ---------------------------------------------------------------------------


@query(
    "j4_interval_containment",
    """
    SELECT e.event_id,
           min(epoch_us(e.ts) - epoch_us(s.ts))::BIGINT AS micros_since_signup
    FROM events e
    JOIN events s
      ON s.user_id = e.user_id
     AND s.event_type = 'signup'
     AND s.ts <= e.ts
     AND e.ts <= s.ts + INTERVAL 300 SECOND
    GROUP BY e.event_id
    """,
    "J4 interval-containment labeling (tidy_db.py:31-47,160-168: dp time "
    "within [seizureStart, seizureEnd]) generalized to a range join: "
    "events within 300 s after a same-user signup. Spark side avoids the "
    "O(n*m) inequality join entirely — running conditional max (as-of "
    "shape, ONE shuffle on user_id) then a filter; the oracle is the "
    "naive range join, so the two strategies genuinely cross-check.",
)
def j4_interval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # rangeBetween over integer microseconds (not rowsBetween over (ts, id))
    # so a signup sharing an event's exact ts is visible to that event
    # regardless of event_id order — mirrors the oracle's s.ts <= e.ts.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    last_signup_us = F.max(
        F.when(F.col("event_type") == "signup", F.unix_micros(F.col("ts")))
    ).over(w)
    out = ev.select(
        "event_id",
        (F.unix_micros(F.col("ts")) - last_signup_us).alias(
            "micros_since_signup"
        ),
    )
    return out.filter(
        F.col("micros_since_signup").isNotNull()
        & (F.col("micros_since_signup") <= 300 * 1_000_000)
    )


@query(
    "a13_rollup",
    """
    SELECT source, lang, count(*) AS n,
           grouping(source) AS g_source, grouping(lang) AS g_lang
    FROM documents GROUP BY ROLLUP (source, lang)
    """,
    "Hierarchical ROLLUP totals (free from Spark; the reference's nearest "
    "is A2's hand-built per-category sub-tables) — grouping() ids "
    "disambiguate aggregation-level NULLs from data NULLs.",
)
def a13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("source", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping("source").cast("int").alias("g_source"),
        F.grouping("lang").cast("int").alias("g_lang"),
    )


@query(
    "a14_salted_hot_key",
    """
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY event_type
    """,
    "Skew-safe two-phase aggregation (SURVEY §4: one user dominates "
    "events; operators/skew.salted_aggregate): phase 1 aggregates on "
    "(key, salt) spreading each hot key over 16 reducers, phase 2 merges "
    "partials — algebraically identical to the plain groupBy the oracle "
    "runs, which is exactly the point: same answer, skew-proof plan.",
)
def a14_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("count", F.lit(1)),
            "sum_value": ("sum", F.col("value")),
            "max_value": ("max", F.col("value")),
        },
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("max_value", 6).alias("max_value"),
    )


@query(
    "a15_approx_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
            <= 0.05 * count(DISTINCT user_id)) AS hll_ok
    FROM events GROUP BY event_type
    """,
    "Approximate distinct (HLL) — the 100-TB cardinality path the "
    "reference lacks (SURVEY §2.5: 'approx-distinct … free from Spark'). "
    "Each engine runs its own sketch; the hash-compared output is the "
    "exact count plus a boolean asserting the sketch landed within 5 % — "
    "cross-engine checkable without requiring identical sketches.",
)
def a15_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id") - F.count_distinct("user_id")
            )
            <= 0.05 * F.count_distinct("user_id")
        ).alias("hll_ok"),
    )


@query(
    "s11_streaming_tumbling",
    """
    SELECT strftime(date_trunc('day', ts), '%Y%m%d')::BIGINT AS day_num,
           event_type,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    "D1/D4 streaming twin: events replayed through readStream → "
    "watermarked 1-day tumbling window per event_type (streaming/"
    "sessionize.windowed_counts) → complete-mode memory sink. The "
    "availableNow+complete emission is deterministic, so it carries a "
    "full batch oracle: epoch-aligned 1-day tumbling windows equal UTC "
    "date_trunc buckets (emitted as integer yyyymmdd keys).",
)
def s11_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.streaming.sessionize import windowed_counts

    stream = _stream_events(spark, sf_dir, "s11_events_")
    out = windowed_counts(stream, "ts", ["event_type"], window_duration="1 day")
    name = f"s11_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        F.date_format("bucket_start", "yyyyMMdd").cast("long").alias("day_num"),
        "event_type",
        "n",
    )


@query(
    "s13_streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "D3 streaming twin: events replayed through readStream → "
    "dropDuplicatesWithinWatermark on (user_id, event_type) — the state "
    "store keys on the dedup columns and EXPIRES each key when the "
    "watermark passes it, the bounded-state contract a plain streaming "
    "dropDuplicates (whose state grows forever) fails at ingest scale. "
    "availableNow replay of a static lake is one deterministic batch, "
    "so the emission equals batch DISTINCT and carries a full oracle.",
)
def s13_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.streaming.sessionize import (
        streaming_distinct,
    )

    stream = _stream_events(spark, sf_dir, "s13_events_")
    out = streaming_distinct(stream, "ts", ["user_id", "event_type"])
    name = f"s13_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select("user_id", "event_type")


@query(
    "f9_flag_requirements",
    """
    SELECT event_type,
           count(*) AS n_kept,
           round(sum(value), 2) AS value_sum
    FROM (
        SELECT event_type, value,
               (value >= 10.0)                                AS has_value,
               (json_extract(props, '$.k')::INTEGER IS NOT NULL) AS has_k,
               json_extract(props, '$.k')::INTEGER            AS k
        FROM events
    )
    WHERE has_value AND has_k AND k % 16 <> 5
    GROUP BY event_type
    """,
    "F9 boolean-flag requirement filters (osdDbConnection.py:517-533: "
    "require3dData/requireHrData) + F13 manual-alarm skip "
    "(alg_runner.py:295-298: alarmState==5 dropped): presence flags are "
    "derived columns, requirements a conjunctive filter — one codegen "
    "stage, no shuffle before the aggregate.",
)
def f9_flag_requirements(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    flagged = ev.select(
        "event_type",
        "value",
        (F.col("value") >= 10.0).alias("has_value"),
        k.isNotNull().alias("has_k"),
        k.alias("k"),
    )
    kept = flagged.filter(
        F.col("has_value") & F.col("has_k") & (F.col("k") % 16 != 5)
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


@query(
    "s12_streaming_late_data",
    """
    SELECT epoch(TIMESTAMP '2025-01-01 02:00:00')::BIGINT AS bucket_s,
           'replay' AS event_type, count(*) AS n
    FROM events WHERE event_id < 30
    UNION ALL
    SELECT epoch(TIMESTAMP '2025-01-01 00:00:00')::BIGINT,
           'replay', count(*)
    FROM events WHERE event_id >= 30 AND event_id < 40
    """,
    "\u00a72.10 late/irregular data: watermarked tumbling counts across two "
    "micro-batches (maxFilesPerTrigger=1 + forced file order). Pins "
    "Spark's actual watermark contract: the watermark gates EMISSION, "
    "not input \u2014 append mode emits a window exactly once, when the "
    "watermark passes its end, so the final on-time window (03:00, "
    "still open at stop) is withheld; rows older than the watermark are "
    "NOT filtered before aggregation (drop is best-effort per the docs' "
    "one-sided guarantee) \u2014 they re-open a transient window finalized "
    "at the same batch's eviction, surfacing as a separate late "
    "emission downstream must handle (the reference's batch analog is "
    "gap repair, flattenData.py:240-342). The two-batch replay is fully "
    "deterministic, so that contract itself is the ORACLE: exactly the "
    "02:00 on-time window and the 00:00 transient late window, counted "
    "from the same lake ids the fixture derives from.",
)
def s12_streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from openseizuredatabase_spark.streaming.sessionize import windowed_counts

    # deterministic fixture rows keyed off the lake's event ids
    ids = [
        r.event_id
        for r in (
            _t(spark, sf_dir, "events")
            .filter(F.col("event_id") < 60)
            .select("event_id")
            .orderBy("event_id")
            .collect()
        )
    ]
    base_us = 1735689600_000_000  # 2025-01-01T00:00:00Z in micros

    def frame(rows):
        return pa.table(
            {
                "event_id": pa.array([i for i, _ in rows], pa.int64()),
                "ts": pa.array(
                    [t for _, t in rows], pa.timestamp("us", tz="UTC")
                ),
                "event_type": pa.array(["replay"] * len(rows), pa.string()),
            }
        )

    batch1 = [
        (i, base_us + 2 * 3600_000_000 + i * 60_000_000) for i in ids if i < 30
    ]
    late = [(i, base_us) for i in ids if 30 <= i < 40]
    ontime = [
        (i, base_us + 3 * 3600_000_000 + i * 60_000_000)
        for i in ids
        if 40 <= i < 60
    ]

    stream_dir = tempfile.mkdtemp(prefix="s12_events_")
    f1 = os.path.join(stream_dir, "batch1.parquet")
    f2 = os.path.join(stream_dir, "batch2.parquet")
    pq.write_table(frame(batch1), f1)
    pq.write_table(frame(late + ontime), f2)
    # FileStreamSource processes oldest-mtime first: force the order
    os.utime(f1, (1_000_000, 1_000_000))
    os.utime(f2, (2_000_000, 2_000_000))

    schema = "event_id long, ts timestamp, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    out = windowed_counts(
        stream,
        "ts",
        ["event_type"],
        window_duration="1 hour",
        watermark="30 minutes",
    )
    name = f"s12_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    # expected: on-time 02:00 window (n=30) + transient late 00:00 window
    # (n=10); the still-open 03:00 window is withheld by the watermark.
    # bucket as epoch seconds so the oracle compares integers.
    return spark.table(name).select(
        F.unix_timestamp("bucket_start").alias("bucket_s"),
        "event_type",
        "n",
    )


@query(
    "s1_json_roundtrip",
    """
    SELECT count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS hr_sum
    FROM events WHERE event_id < 2000
    """,
    "S1/S2/S4/C5 ingest roundtrip (osdDbConnection.py load/save, "
    "tidy_db.py nested dataJSON): events → OSDB-shaped NDJSON with the "
    "legacy DOUBLE-nested datapoint dataJSON → read back via the fixed "
    "EVENT_SCHEMA (no inference pass over 100 TB) → C5 expansion "
    "recovers hr from the inner JSON layer. The oracle reads the same "
    "values straight from parquet — any loss or misparse anywhere in "
    "the write→read→expand chain (field mapping, escaping, double "
    "formatting) breaks the hash. Spark JSON double formatting is "
    "shortest-roundtrip, so sum(hr) is bit-exact vs the source.",
)
def s1_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from openseizuredatabase_spark.sources.ingest import (
        expand_datapoint_json,
        read_events_json,
    )
    from openseizuredatabase_spark.sources.sinks import write_events_json

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    inner = F.to_json(F.struct(F.col("value").alias("hr")))
    outer = F.to_json(F.struct(inner.alias("dataJSON")))
    osdb = ev.select(
        F.col("event_id").alias("id"),
        F.col("user_id").cast("string").alias("userId"),
        F.col("event_type").alias("type"),
        F.array(
            F.struct(
                (F.col("event_id") * 10).alias("id"),
                outer.alias("dataJSON"),
            )
        ).alias("datapoints"),
    )
    path = tempfile.mkdtemp(prefix="s1_json_")
    write_events_json(osdb, path)
    back = read_events_json(spark, path, multi_line=False)
    dp = back.select(
        "id", "userId", F.explode("datapoints").alias("dp")
    ).select("id", "userId", expand_datapoint_json(F.col("dp")).alias("d"))
    return dp.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("userId").alias("n_users"),
        F.round(F.sum("d.hr"), 2).alias("hr_sum"),
    )


@query(
    "f10_accel_presence",
    """
    WITH built AS (
        SELECT event_id,
               CASE WHEN event_id % 3 = 0 THEN NULL
                    WHEN event_id % 3 = 1 THEN [0.0, 0.0, 0.0]
                    ELSE [0.0, value, 0.0] END AS raw,
               CASE WHEN event_id % 5 = 0 THEN [value + 1.0] ELSE NULL
                    END AS raw3d
        FROM events
    )
    SELECT count(*) AS n_kept, sum(event_id)::BIGINT AS id_sum
    FROM built
    WHERE (raw IS NOT NULL AND len(raw) > 0
           AND EXISTS (SELECT 1 FROM unnest(raw) AS t(x)
                       WHERE x IS NOT NULL AND x != 0))
       OR (raw3d IS NOT NULL AND len(raw3d) > 0
           AND EXISTS (SELECT 1 FROM unnest(raw3d) AS t(x)
                       WHERE x IS NOT NULL AND x != 0))
    """,
    "F10 accel-presence predicate (flattenData.py:149-172): keep "
    "datapoints whose rawData OR rawData3D has any non-null, "
    "non-all-zero content — null, empty, and all-zero arrays all drop. "
    "Pure exists() lambda, JVM-side, no explode (a fan-out would "
    "multiply the scan by array length just to test a predicate). "
    "Synthetic arrays off the events table cover every branch: null / "
    "all-zero / value-bearing raw × present/absent 3D; value != 0 "
    "matters because the generator emits exact zeros.",
)
def f10_accel_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.ingest import has_accel_data

    ev = _t(spark, sf_dir, "events")
    built = ev.select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.lit(None).cast("array<double>"))
        .when(
            F.col("event_id") % 3 == 1,
            F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0)),
        )
        .otherwise(F.array(F.lit(0.0), F.col("value"), F.lit(0.0)))
        .alias("raw"),
        F.when(
            F.col("event_id") % 5 == 0, F.array(F.col("value") + 1.0)
        ).alias("raw3d"),
    )
    kept = built.filter(has_accel_data(F.col("raw"), F.col("raw3d")))
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("event_id").alias("id_sum"),
    )


@query(
    "s3_csv_roundtrip",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT event_type) AS n_types,
           sum(event_id)::BIGINT AS id_sum,
           round(sum(value), 2) AS value_sum
    FROM events WHERE event_id < 2000
    """,
    "S3/S6 chunked-CSV scan + batched append (osdDbConnection.py CSV "
    "cache, nnTraining chunked reads): events → headered CSV parts "
    "(atomic job commit replaces the reference's header-once / "
    "partial-batch bookkeeping) → schema'd re-read (no inference pass) "
    "→ aggregate. Oracle reads the same rows from parquet: any "
    "quoting/formatting/parse loss in the CSV hop breaks the hash — "
    "doubles survive because Spark's CSV writer emits "
    "shortest-roundtrip representations.",
)
def s3_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from openseizuredatabase_spark.sources.sinks import append_batch_csv

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "event_type", "value")
    )
    path = tempfile.mkdtemp(prefix="s3_csv_") + "/events_csv"
    append_batch_csv(ev, path)
    back = spark.read.schema(
        "event_id long, event_type string, value double"
    ).option("header", True).csv(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum("event_id").alias("id_sum"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


@query(
    "s15_streaming_detector",
    QUERIES["w10_alarm_state_machine"].oracle,
    "§2.10 stateful detection as a REGISTERED streaming query: "
    "readStream events → in-alarm flag → applyInPandasWithState alarm "
    "machine (state = (alarmState, alarmCount) per user, carried across "
    "micro-batches) → per-user rollup. The availableNow replay of a "
    "static lake is one deterministic batch and the dataset has no "
    "(user, ts) ties, so the emission equals the batch machine row for "
    "row — it shares w10's recursive-CTE oracle verbatim, giving the "
    "streaming path the same value-hash gate as its batch twin.",
)
def s15_streaming_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.detection.osd_alg import OsdSettings
    from openseizuredatabase_spark.streaming.sessionize import (
        streaming_alarm_machine,
    )

    stream = _stream_events(spark, sf_dir, "s15_events_").select(
        F.col("user_id"),
        F.col("ts"),
        (F.col("value") > 150).alias("flag"),
    )
    out = streaming_alarm_machine(
        stream,
        "user_id",
        "ts",
        "flag",
        OsdSettings(sample_period=5, warn_time=5, alarm_time=10),
    )
    name = f"s15_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("alarmState") == 2, 1)).alias(
                "n_alarm_dps"
            ),
            F.count(F.when(F.col("alarmState") == 1, 1)).alias(
                "n_warn_dps"
            ),
            F.count(F.lit(1)).alias("n_dps"),
        )
    )


@query(
    "s14_orc_roundtrip",
    """
    SELECT event_type,
           count(*) AS n_rows,
           sum(event_id)::BIGINT AS id_sum,
           round(sum(value), 2) AS value_sum,
           count(DISTINCT user_id) AS n_users
    FROM events WHERE event_id < 2000
    GROUP BY event_type
    """,
    "S-family columnar-format breadth: events → ORC (snappy, the other "
    "first-class columnar lake format Spark ships a vectorized "
    "reader/writer for) → re-read → aggregate. The oracle reads the "
    "same rows from parquet, so any type-mapping or value loss in the "
    "ORC hop breaks the hash. ORC pushes down predicates and prunes "
    "columns exactly like parquet, so a lake standardized on either "
    "format runs the same plans.",
)
def s14_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "event_type", "value", "user_id")
    )
    path = tempfile.mkdtemp(prefix="s14_orc_") + "/events_orc"
    ev.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "u5_seizure_spacing",
    """
    WITH days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
        FROM events WHERE event_type = 'error'
    ), sp AS (
        SELECT user_id, day,
               date_diff('day',
                         lag(day) OVER (PARTITION BY user_id ORDER BY day),
                         day) AS spacing
        FROM days
    )
    SELECT user_id, day, spacing,
           CASE WHEN count(spacing) OVER w >= 3
                THEN round(avg(spacing) OVER w, 6) END AS spacing_avg
    FROM sp
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    "Seizure-day spacing (userAnalyser.py:66-78): distinct seizure DAYS "
    "per user (same-day repeats collapse), day-diff to the previous "
    "seizure day, 3-point rolling mean with pandas min_periods null "
    "semantics (count(spacing) over the window counts non-nulls in both "
    "engines). One shuffle on the user key serves dedup + both windows.",
)
def u5_seizure_spacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.reports.user_analysis import (
        seizure_day_spacing,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    out = seizure_day_spacing(ev)
    return out.select(
        "user_id",
        F.col("day").cast("date").alias("day"),
        F.col("spacing").cast("long").alias("spacing"),
        "spacing_avg",
    )


@query(
    "u6_dense_months",
    """
    WITH bounds AS (
        SELECT date_trunc('month', min(ts)) AS lo,
               date_trunc('month', max(ts)) AS hi
        FROM events
    ), months AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH))::DATE
                   AS month
        FROM bounds
    ), grid AS (
        SELECT m.month, t.event_type
        FROM months m CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    ), counts AS (
        SELECT date_trunc('month', ts)::DATE AS month, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.month,
           coalesce(c.n, 0)::BIGINT AS n
    FROM grid g LEFT JOIN counts c USING (month, event_type)
    """,
    "Dense month-end grid (userAnalyser.py:84-100): counts per (type, "
    "month) with empty months zero-filled — the pandas "
    "reindex-from-product as a sequence() month grid × broadcast "
    "distinct-types cross join, left-joined to the aggregated counts.",
)
def u6_dense_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.reports.user_analysis import (
        dense_month_counts,
    )

    return dense_month_counts(_t(spark, sf_dir, "events")).select(
        "event_type", F.col("month").cast("date").alias("month"), "n"
    )


@query(
    "j8_range_join",
    """
    WITH iv AS (
        SELECT user_id, event_id AS iv_id, ts AS iv_start,
               ts + INTERVAL 1800 SECOND AS iv_end
        FROM events WHERE event_type = 'signup'
    )
    SELECT e.event_id,
           count(*) AS n_matches,
           min(i.iv_id) AS first_iv_id,
           min(epoch_us(i.iv_start))::BIGINT AS first_iv_start_us
    FROM events e
    JOIN iv i
      ON i.user_id = e.user_id
     AND i.iv_start <= e.ts AND e.ts <= i.iv_end
    GROUP BY e.event_id
    """,
    "Many-to-many range join (tidy_db.py:31-47 seizure-window "
    "containment when windows OVERLAP — the case j4's as-of window "
    "cannot express): every event paired with EVERY same-user signup "
    "window containing it. Spark plans the naive ts-inequality join as "
    "a nested loop; joins.bucketed_range_join instead explodes each "
    "interval to its epoch buckets (~2 rows at bucket >= interval "
    "length) and equi-joins on (user, bucket), each pair emitted "
    "exactly once — one shuffle per side. The oracle IS the naive "
    "inequality join, so the strategies genuinely cross-check.",
)
def j8_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("iv_id"),
        F.col("ts").alias("iv_start"),
        (F.col("ts") + F.expr("INTERVAL 1800 SECOND")).alias("iv_end"),
    )
    joined = join_ops.bucketed_range_join(
        ev.select("user_id", "event_id", "ts"),
        iv,
        "user_id",
        "ts",
        "iv_start",
        "iv_end",
        bucket_secs=1800,
    )
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("iv_id").alias("first_iv_id"),
        F.min(F.unix_micros("iv_start")).alias("first_iv_start_us"),
    )


@query(
    "s16_streaming_interval_join",
    """
    SELECT e.event_id AS error_id, c.event_id AS click_id,
           e.user_id AS user_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts BETWEEN e.ts - INTERVAL 6 HOUR AND e.ts
    """,
    "Stream-stream interval join (the last §2.10 shape without a "
    "streaming twin): clicks preceding each error by ≤6 h for the "
    "same user, as TWO watermarked streams over the events source "
    "joined on key + time-range (streaming/sessionize.py "
    "stream_interval_join). The range condition is what lets Spark "
    "bound join state — right-side rows older than watermark−lookback "
    "are evicted — while inner-join output stays complete, so the "
    "availableNow emission carries a full batch oracle (plain interval "
    "self-join). Batch J4/j8 and this stream path share semantics: the "
    "same pairs, computed with bounded state instead of a sort.",
)
def s16_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.streaming.sessionize import (
        stream_interval_join,
    )

    stream = _stream_events(spark, sf_dir, "s16_events_")
    err = stream.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id",
        F.col("ts").alias("err_ts"),
    )
    clk = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("clk_ts"),
    )
    joined = stream_interval_join(
        err.withColumnRenamed("user_id", "key"),
        clk.withColumnRenamed("c_user", "key"),
        key="key",
        left_ts="err_ts",
        right_ts="clk_ts",
        lookback="6 hours",
        watermark="12 hours",  # must cover the lookback or state eviction
        # could drop matches that arrive in later micro-batches
    )
    out = joined.select(
        "error_id",
        "click_id",
        F.col("l.key").alias("user_id"),
        (F.unix_micros("err_ts") - F.unix_micros("clk_ts")).alias("gap_us"),
    )
    name = f"s16_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name)


def _a16_oracle() -> str:
    from openseizuredatabase_spark.functions import sketches

    h = md5_long_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH hashed AS (
        SELECT DISTINCT event_type, {h} AS h FROM events
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ), topk AS (
        SELECT * FROM ranked WHERE rn <= {sketches.KMV_K}
    ), sk AS (
        SELECT event_type, count(*) AS n_in, max(h) AS kth_hash,
               sum(h % 1000003)::BIGINT AS kmv_sig
        FROM topk GROUP BY event_type
    ), exact AS (
        SELECT event_type, count(*) AS n_exact FROM hashed GROUP BY event_type
    )
    SELECT s.event_type, s.n_in, s.kth_hash, s.kmv_sig,
           CASE WHEN s.n_in < {sketches.KMV_K} THEN s.n_in
                ELSE CAST(round({sketches.KMV_NUM!r} / s.kth_hash::DOUBLE, 0)
                          AS BIGINT)
           END AS kmv_est,
           e.n_exact
    FROM sk s JOIN exact e USING (event_type)
    """


@query(
    "a16_kmv_distinct",
    _a16_oracle(),
    "KMV (k-minimum-values) distinct sketch, cross-engine EXACT — unlike "
    "a15, which can only band-check Spark's native HLL++, this sketch is "
    "deterministic (md5_long order statistics) so the oracle replays the "
    "estimator itself: per group keep the 16 smallest distinct hashes; "
    "est = 15·2^60/h_(16) (one IEEE division on a dyadic-exact literal). "
    "100-TB path: one distinct shuffle, then a spillable per-group sort "
    "of which only k rows survive; incremental epochs screen new rows "
    "with the monotone-shrinking h < kth threshold as a pushed-down scan "
    "predicate (functions/sketches.py). Replaces the reference's exact "
    "pandas nunique summaries (osdb/osdbUtils.py) at cluster scale.",
)
def a16_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import sketches

    ev = _t(spark, sf_dir, "events")
    topk = sketches.kmv_topk(ev, ["event_type"], "user_id")
    sk = sketches.kmv_estimate(topk, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return sk.join(exact, "event_type")


def _a17_oracle() -> str:
    from openseizuredatabase_spark.functions import sketches

    ctes = sketches.hll_oracle_ctes("events", "event_type", "user_id")
    return f"""
    WITH {ctes.lstrip()}, exact AS (
        SELECT event_type AS g, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY 1
    )
    SELECT h.g AS event_type, h.n_regs, h.reg_sig, h.hll_est, h.lin_est,
           e.n_exact
    FROM hll h JOIN exact e USING (g)
    """


@query(
    "a17_hll_registers",
    _a17_oracle(),
    "Deterministic HyperLogLog with an exact value-hash oracle: 64 "
    "integer registers per group (j = h & 63, rho = leading zeros of the "
    "54-bit suffix + 1 via portable bin()-length), harmonic sum kept as "
    "an exact BIGINT Σ2^(55−reg) so summation order can't move a ulp, "
    "then ONE IEEE division for the raw estimate; linear-counting "
    "correction (the only libm term) rounded to 6 dp. max-per-register "
    "is a partial aggregate → map-side combine before the single "
    "shuffle; register frames from disjoint corpora merge by union + "
    "re-max (functions/sketches.py hll_registers/hll_estimate) — the "
    "constant-state per group cardinality path for 100 TB.",
)
def a17_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import sketches

    ev = _t(spark, sf_dir, "events")
    regs = sketches.hll_registers(ev, ["event_type"], "user_id")
    est = sketches.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type")


def _a18_oracle() -> str:
    from openseizuredatabase_spark.functions import sketches

    d, w = sketches.CM_DEPTH, sketches.CM_WIDTH
    seeds = ", ".join(str(s) for s in range(d))
    bucket = md5_long_sql("CAST(s.s AS VARCHAR) || ':' || toks.t")
    pbucket = md5_long_sql("CAST(s.s AS VARCHAR) || ':' || top.t")
    return f"""
    WITH toks AS (
        SELECT unnest({text_fns.tokens_sql('text')}) AS t
        FROM documents WHERE length(trim(text)) > 0
    ), seeds AS (
        SELECT unnest([{seeds}]) AS s
    ), bucketed AS (
        SELECT s.s, {bucket} % {w} AS bucket
        FROM toks, seeds s
    ), cm AS (
        SELECT s, bucket, count(*) AS c FROM bucketed GROUP BY s, bucket
    ), cnt AS (
        SELECT t, count(*) AS n_true FROM toks GROUP BY t
    ), top AS (
        SELECT t, n_true FROM (
            SELECT t, n_true,
                   row_number() OVER (ORDER BY n_true DESC, t) AS rn
            FROM cnt) WHERE rn <= 10
    ), probes AS (
        SELECT top.t, top.n_true, s.s, {pbucket} % {w} AS bucket
        FROM top, seeds s
    )
    SELECT p.t, p.n_true, min(coalesce(cm.c, 0))::BIGINT AS cm_est
    FROM probes p LEFT JOIN cm ON cm.s = p.s AND cm.bucket = p.bucket
    GROUP BY p.t, p.n_true
    """


@query(
    "a18_countmin_topk",
    _a18_oracle(),
    "Count-Min frequency sketch probed at the true top-10 tokens: d=4 "
    "seeded md5 rows × w=64 buckets — 256 counters total however many "
    "token types exist — built in one groupBy; point estimate = min over "
    "the d counters (always ≥ the true count, collisions only inflate). "
    "At 100 TB the counter table is O(d·w) state that broadcasts to any "
    "probe set, replacing an O(n_types) exact frequency table when only "
    "heavy hitters matter (functions/sketches.py countmin_counters/"
    "countmin_lookup). The true counts ride along so the driver-checked "
    "output pins both the sketch and its overestimate guarantee.",
)
def a18_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import sketches

    docs = _ts(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    # feeds the counters AND the top-10
    toks = pin(docs.select(F.explode(text_fns.tokens(F.col("text"))).alias("t")))
    cm = sketches.countmin_counters(toks, "t")
    cnt = toks.groupBy("t").agg(F.count(F.lit(1)).alias("n_true"))
    top = cnt.orderBy(F.col("n_true").desc(), "t").limit(10)
    return sketches.countmin_lookup(cm, top, "t")


def _a19_oracle() -> str:
    from openseizuredatabase_spark.functions import sketches

    k = sketches.KMV_K
    h = md5_long_sql("CAST(user_id AS VARCHAR)")
    num = repr(sketches.KMV_NUM)
    return f"""
    WITH ha AS (
        SELECT DISTINCT {h} AS h FROM events WHERE event_type = 'click'
    ), hb AS (
        SELECT DISTINCT {h} AS h FROM events WHERE event_type = 'view'
    ), ta AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha
        ) WHERE rn <= {k}
    ), tb AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb
        ) WHERE rn <= {k}
    ), tu AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rn
            FROM (SELECT h FROM ta UNION SELECT h FROM tb)
        ) WHERE rn <= {k}
    ), ua AS (
        SELECT count(*) AS n_in, max(h) AS kth FROM tu
    ), flags AS (
        SELECT count(*) AS n_both
        FROM tu
        JOIN ta ON tu.h = ta.h
        JOIN tb ON tu.h = tb.h
    ), ests AS (
        SELECT
            CASE WHEN u.n_in < {k} THEN u.n_in
                 ELSE CAST(round({num} / u.kth::DOUBLE, 0) AS BIGINT)
            END AS union_est,
            f.n_both
        FROM ua u CROSS JOIN flags f
    ), exact AS (
        SELECT (SELECT count(*) FROM ha) AS n_a_exact,
               (SELECT count(*) FROM hb) AS n_b_exact,
               (SELECT count(*) FROM ha JOIN hb ON ha.h = hb.h)
                   AS inter_exact,
               (SELECT count(*) FROM (SELECT h FROM ha UNION
                                      SELECT h FROM hb)) AS union_exact
    )
    SELECT e.n_a_exact, e.n_b_exact, e.inter_exact, e.union_exact,
           s.union_est, s.n_both,
           CAST(round((s.n_both * s.union_est) / {float(k)!r}, 0) AS BIGINT)
               AS inter_est
    FROM exact e CROSS JOIN ests s
    """


@query(
    "a19_kmv_set_ops",
    _a19_oracle(),
    "Theta-sketch set algebra from KMV sketches ALONE (the audience-"
    "overlap primitive): the union sketch is the k smallest of the "
    "merged hash sets, and because U ⊇ A implies kth(U) ≤ kth(A), any "
    "union-sketch hash present in A is guaranteed to be in A's sketch — "
    "so intersection needs only the two k-integer sketches, never the "
    "raw sets: est∩ = (|{h∈topk(U): h∈A∧h∈B}|/k)·est(U). At 100 TB the "
    "exact intersection of two distinct-sets is a full co-shuffle of "
    "both; this is a join of two k-row frames. Exact counts ride along "
    "so the driver hash pins estimator AND ground truth; all arithmetic "
    "is integer until one dyadic-literal IEEE division per estimate.",
)
def a19_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import sketches

    k = sketches.KMV_K
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "view")
    ta = sketches.kmv_topk(a.withColumn("g", F.lit(1)), ["g"], "user_id")
    tb = sketches.kmv_topk(b.withColumn("g", F.lit(1)), ["g"], "user_id")
    ta = pin(ta.select("h"))
    tb = pin(tb.select("h"))
    w = Window.orderBy("h")
    tu = pin(
        ta.union(tb)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("h")
    )
    ua = tu.agg(F.count(F.lit(1)).alias("n_in"), F.max("h").alias("kth"))
    flags = (
        tu.join(ta, "h").join(tb, "h").agg(F.count(F.lit(1)).alias("n_both"))
    )
    union_est = F.when(F.col("n_in") < k, F.col("n_in")).otherwise(
        F.round(F.lit(sketches.KMV_NUM) / F.col("kth").cast("double"), 0)
        .cast("long")
    )
    ests = ua.crossJoin(F.broadcast(flags)).select(
        union_est.alias("union_est"), "n_both"
    )
    ha = a.select(md5_long(F.col("user_id").cast("string")).alias("h")).distinct()
    hb = b.select(md5_long(F.col("user_id").cast("string")).alias("h")).distinct()
    ha = pin(ha)
    hb = pin(hb)
    exact = (
        ha.agg(F.count(F.lit(1)).alias("n_a_exact"))
        .crossJoin(hb.agg(F.count(F.lit(1)).alias("n_b_exact")))
        .crossJoin(ha.join(hb, "h").agg(F.count(F.lit(1)).alias("inter_exact")))
        .crossJoin(
            ha.union(hb).distinct().agg(F.count(F.lit(1)).alias("union_exact"))
        )
    )
    inter_est = F.round(
        (F.col("n_both") * F.col("union_est")) / F.lit(float(k)), 0
    ).cast("long")
    return exact.crossJoin(F.broadcast(ests)).select(
        "n_a_exact", "n_b_exact", "inter_exact", "union_exact",
        "union_est", "n_both", inter_est.alias("inter_est"),
    )


def _cf_expr(z: float) -> str:
    """Cornish-Fisher quantile expansion from (mean, std, skew, kurt):
    identical expression TEXT evaluated by Spark and DuckDB — constants
    pre-folded in Python so both engines parse the same decimal literals
    and every op is IEEE mult/add on identical (6-dp-rounded) inputs."""
    c1 = (z * z - 1.0) / 6.0
    c2 = (z * z * z - 3.0 * z) / 24.0
    c3 = (2.0 * z * z * z - 5.0 * z) / 36.0
    return (
        f"round(mean_value + std_value * ({z!r} + {c1!r} * skewness"
        f" + {c2!r} * kurtosis - {c3!r} * skewness * skewness), 6)"
    )


def _a20_oracle() -> str:
    m = QUERIES["a10_moments"].oracle
    return f"""
    WITH m AS ({m}), x AS (
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS exact_p50,
               round(quantile_cont(value, 0.9), 6) AS exact_p90,
               round(quantile_cont(value, 0.99), 6) AS exact_p99
        FROM events GROUP BY event_type
    )
    SELECT m.event_type,
           {_cf_expr(0.0)} AS cf_p50,
           {_cf_expr(1.2815515655446004)} AS cf_p90,
           {_cf_expr(2.3263478740408408)} AS cf_p99,
           x.exact_p50, x.exact_p90, x.exact_p99,
           CAST(round(({_cf_expr(1.2815515655446004)} - x.exact_p90)
                      * 1000000) AS BIGINT) AS err90_micro
    FROM m JOIN x ON m.event_type = x.event_type
    """


@query(
    "a20_moment_quantiles",
    _a20_oracle(),
    "Moment-sketch quantiles (the Gan et al. VLDB'18 idea in its "
    "closed-form Cornish-Fisher variant): per group the ONLY state is "
    "five exact integer power sums (n, Σx..Σx⁴ — a10's mergeable "
    "moments), from which p50/p90/p99 are recovered by the CF "
    "expansion q_p ≈ μ + σ·(z + (z²−1)S/6 + (z³−3z)K/24 − "
    "(2z³−5z)S²/36). Unlike exact percentile (full sort) or t-digest "
    "(data-dependent centroid state), the sketch is CONSTANT-size, "
    "merges across partitions/corpora by integer addition, and "
    "streams — the 100-TB path for monitoring-grade quantiles in one "
    "map-side-combined pass. Exact quantile_cont rides along so the "
    "driver hash pins the approximation error itself (err90_micro), "
    "not just the estimate; constants are pre-folded in Python so "
    "both engines evaluate identical literal text.",
)
def a20_moment_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = a10_moments(spark, sf_dir)
    ex = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("exact_p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("exact_p99"),
        )
    )
    cf90 = _cf_expr(1.2815515655446004)
    return (
        mom.join(ex, "event_type")
        .select(
            "event_type",
            F.expr(_cf_expr(0.0)).alias("cf_p50"),
            F.expr(cf90).alias("cf_p90"),
            F.expr(_cf_expr(2.3263478740408408)).alias("cf_p99"),
            "exact_p50",
            "exact_p90",
            "exact_p99",
            F.expr(
                f"CAST(round(({cf90} - exact_p90) * 1000000) AS BIGINT)"
            ).alias("err90_micro"),
        )
    )


@query(
    "j9_scd2_history",
    """
    WITH log AS (
        SELECT user_id, event_type AS state, epoch_us(ts)::BIGINT AS us,
               event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_state
        FROM events
    ), changes AS (
        SELECT user_id, state, us FROM log
        WHERE prev_state IS NULL OR state <> prev_state
    )
    SELECT user_id, state,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY us, state) AS version,
           us AS eff_from_us,
           lead(us) OVER (PARTITION BY user_id
                          ORDER BY us, state) AS eff_to_us,
           (lead(us) OVER (PARTITION BY user_id ORDER BY us, state) IS NULL)
               AS is_current
    FROM changes
    """,
    "SCD2 dimension-history build — the lakehouse operator that turns "
    "an append-only change log into a validity-interval dimension "
    "table (the reference's snapshot-merge J5 keeps only latest-wins; "
    "this keeps the full history): consecutive duplicate states "
    "collapse via lag() change detection, then each surviving change "
    "opens an interval that the next change's lead() closes — "
    "half-open [eff_from, eff_to), NULL/is_current for the live row. "
    "Both windows share ONE user_id partitioning, so the whole build "
    "is a single shuffle + two sorted passes; at 100 TB the log "
    "partitions by key and each user's history is tiny state. As-of "
    "lookups against the result are j7's running-max shape; exact "
    "integer micros pin every boundary in the driver hash.",
)
def j9_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w_log = Window.partitionBy("user_id").orderBy("us", "event_id")
    changes = (
        ev.withColumn("prev_state", F.lag("state").over(w_log))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", "state", "us")
    )
    w_hist = Window.partitionBy("user_id").orderBy("us", "state")
    return changes.select(
        "user_id",
        "state",
        F.row_number().over(w_hist).alias("version"),
        F.col("us").alias("eff_from_us"),
        F.lead("us").over(w_hist).alias("eff_to_us"),
        F.lead("us").over(w_hist).isNull().alias("is_current"),
    )


@query(
    "s17_streaming_sliding",
    """
    WITH off AS (
        SELECT unnest([0, 1]) AS o
    )
    SELECT strftime(date_trunc('day', ts) - o * INTERVAL 1 DAY,
                    '%Y%m%d')::BIGINT AS win_start,
           event_type, count(*) AS n
    FROM events, off
    GROUP BY 1, 2
    """,
    "Sliding-window streaming counts (2-day windows sliding by 1 day) — "
    "the trailing-window rate monitor s11's tumbling windows can't "
    "express (a tumbling bucket resets at each boundary; a sliding "
    "window sees the last 48 h at every daily tick): events replay "
    "through readStream → watermarked sliding window per event_type "
    "(streaming/sessionize.sliding_counts) → complete-mode memory "
    "sink. Each event lands in exactly duration/slide = 2 epoch-"
    "aligned windows, so the batch oracle is the same grouping with "
    "each row contributed to day(ts) and day(ts)−1 — emitted as "
    "integer yyyymmdd keys. State per key is (duration/slide)× "
    "tumbling's, still constant and watermark-evicted.",
)
def s17_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.streaming.sessionize import sliding_counts

    stream = _stream_events(spark, sf_dir, "s17_events_")
    out = sliding_counts(
        stream, "ts", ["event_type"], window_duration="2 days", slide="1 day"
    )
    name = f"s17_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        F.date_format("bucket_start", "yyyyMMdd").cast("long").alias(
            "win_start"
        ),
        "event_type",
        "n",
    )


@query(
    "s20_streaming_session_window",
    """
    WITH diffs AS (
        SELECT user_id, ts, value,
               epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts ASC)) AS gap_s
        FROM events
    ), sess AS (
        SELECT user_id, ts, value,
               sum(CASE WHEN gap_s IS NULL OR gap_s >= 900 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM diffs
    )
    SELECT user_id,
           floor(epoch(min(ts)))::BIGINT AS session_start,
           (floor(epoch(max(ts))) + 900)::BIGINT AS session_end,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
    FROM sess GROUP BY user_id, sid
    """,
    "Native streaming sessionization (F.session_window — the engine-"
    "managed merging-interval state D2's batch gap clustering replays "
    "by hand): events stream through a watermarked "
    "groupBy(user, session_window(ts, 15 min)) aggregation where the "
    "runtime itself merges overlapping per-event intervals and evicts "
    "closed sessions by watermark — the idiomatic Spark form of the "
    "reference's uniqueEvents/session grouping for LIVE data. "
    "availableNow replay into a complete-mode memory sink makes the "
    "emission deterministic; the oracle is the classic gap-and-islands "
    "rewrite (new session when the gap >= the 900 s window, end = "
    "last event + gap — session_window's exact semantics). Session "
    "values aggregate as exact integer cents. State per key is one "
    "(start, end, counts) tuple per OPEN session, watermark-bounded — "
    "the 100 TB shape; complete mode here is only the finite-replay "
    "harness.",
)
def s20_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    stream = _stream_events(spark, sf_dir, "s20_events_")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "value_cents"
            ),
        )
    )
    name = f"s20_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        "user_id",
        F.col("session_window.start").cast("long").alias("session_start"),
        F.col("session_window.end").cast("long").alias("session_end"),
        "n_events",
        "value_cents",
    )


@query(
    "s22_stream_upsert",
    """
    SELECT user_id, event_type, event_id AS last_event_id,
           cents AS last_cents
    FROM (
        SELECT user_id, event_type, event_id,
               round(value * 100)::BIGINT AS cents,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    "Streaming upsert sink via foreachBatch — THE canonical Structured "
    "Streaming pattern for maintaining a keyed lakehouse table from a "
    "CDC-ish stream (the streaming twin of d6's batch merge): the "
    "event stream replays in MULTIPLE micro-batches "
    "(maxFilesPerTrigger=1 over a multi-file landing), and each batch "
    "merges into a versioned parquet state table — read previous "
    "version, union, keep the per-(user, type) latest by (ts, "
    "event_id), write the next version (never overwrite-in-place "
    "while readable — the lakehouse snapshot discipline d10 time-"
    "travels over). The final state must equal one batch pass's "
    "latest-per-key, which is exactly what the oracle computes — any "
    "lost batch, duplicate application, or tie-order drift breaks the "
    "hash. Upsert is conflict-free here (latest-wins is associative), "
    "so batch arrival order cannot change the result.",
)
def s22_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    land = tempfile.mkdtemp(prefix="s22_land_")
    # three separate appends → ≥3 files → ≥3 micro-batches below
    for m in range(3):
        ev.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(land)
    state_base = tempfile.mkdtemp(prefix="s22_state_")
    versions: list[str] = []
    wl = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def upsert(batch_df, batch_id):
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(wl))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if versions:
            prev = batch_df.sparkSession.read.parquet(versions[-1])
            latest = (
                prev.unionByName(latest)
                .withColumn("__rn", F.row_number().over(wl))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        nxt = f"{state_base}/v{len(versions)}"
        latest.write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    with stream_width(spark, sf_dir):
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix=f"s22_ckpt_{uuid.uuid4().hex[:6]}_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    final = spark.read.parquet(versions[-1])
    return final.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("cents").alias("last_cents"),
    )


def _j10_oracle() -> str:
    return f"""
    WITH c AS (
        SELECT c_custkey AS id, c_name AS name, c_nationkey AS blk
        FROM customer
    ), reps AS (
        {_reps_sql()}
    ), k AS (
        {_pigeonhole_keys_sql('reps')}
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.name AS name_a, b.name AS name_b
        FROM k a JOIN k b ON a.blk = b.blk AND a.cls = b.cls
              AND a.val = b.val AND a.id < b.id
    ), pairs AS (
        SELECT id_a, id_b,
               CAST({_ham18_sql('name_a', 'name_b')} AS BIGINT) AS dist
        FROM cand
    ), best AS (
        SELECT id_a AS rep_id, id_b AS best_id, dist AS best_dist,
               n_cand
        FROM (
            SELECT id_a, id_b, dist,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY dist, id_b) AS rn,
                   CAST(count(*) OVER (PARTITION BY id_a) AS BIGINT)
                       AS n_cand
            FROM pairs WHERE dist <= 2) WHERE rn = 1
    )
    SELECT b.rep_id, r.grp_n, b.best_id, b.best_dist, b.n_cand
    FROM best b JOIN reps r ON r.id = b.rep_id
    """


@query(
    "j10_fuzzy_blocked_join",
    _j10_oracle(),
    "Pigeonhole-blocked record linkage (entity resolution over "
    "fixed-format identifiers — the dedup class exact-key D1/D3 can't "
    "reach), in the two-tier shape production ER uses: exact "
    "duplicates collapse to min-id representatives FIRST (one hash "
    "group-by — the 30× stress showed clone-heavy data otherwise "
    "pushes R² genuine zero-distance pairs through the verifier), "
    "then each distinct entity emits THREE interleaved digit-class "
    "blocking keys over the name's 9-digit payload; Hamming <= 2 "
    "touches at most 2 of the 3 classes, so every qualifying pair "
    "shares an untouched class — candidates are COMPLETE (the "
    "PassJoin pigeonhole rule) without ever joining whole nation "
    "blocks (the fixed-key block join was this op's first stress-"
    "flagged quadratic). The Hamming verifier is 18 codegen'd char "
    "compares; a per-entity window picks the best match, with the "
    "exact-group size and candidate count kept for audit.",
)
def j10_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the small scan: map parallelism must not collapse to the
    # file's single split
    c = _ts(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("blk"),
    )
    reps = c.groupBy("blk", "name").agg(
        F.min("id").alias("id"), F.count(F.lit(1)).alias("grp_n")
    )
    pairs = _ham_candidates(reps.select("id", "name", "blk"), max_dist=2)
    wr = Window.partitionBy("id_a").orderBy("dist", "id_b")
    wn = Window.partitionBy("id_a")
    best = (
        pairs.select(
            "id_a",
            "id_b",
            "dist",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n_cand"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_a").alias("rep_id"),
            F.col("id_b").alias("best_id"),
            F.col("dist").alias("best_dist"),
            "n_cand",
        )
    )
    return best.join(
        reps.select(F.col("id").alias("rep_id"), "grp_n"), "rep_id"
    ).select("rep_id", "grp_n", "best_id", "best_dist", "n_cand")


@query(
    "a22_k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n,
           count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))::BIGINT
               AS l_div,
           (count(*) < 5) AS at_risk_k,
           (count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) < 3)
               AS at_risk_l
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
    "k-anonymity / l-diversity privacy audit (the release gate a "
    "training-data pipeline runs before publishing user-derived "
    "tables; pairs with t13's PII scrub): quasi-identifier groups "
    "(nation × market segment) with fewer than k=5 members are "
    "re-identifiable, and groups whose sensitive attribute (account "
    "balance, bucketed to thousands) shows fewer than l=3 distinct "
    "values leak it even at k. ONE shuffle on the QI key at any "
    "scale; iterating a generalization ladder just re-runs the same "
    "metadata-sized aggregation with coarser keys.",
)
def a22_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    return cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(bucket).alias("l_div"),
        (F.count(F.lit(1)) < 5).alias("at_risk_k"),
        (F.count_distinct(bucket) < 3).alias("at_risk_l"),
    )


@query(
    "s18_streaming_enrichment",
    """
    SELECT strftime(date_trunc('day', e.ts), '%Y%m%d')::BIGINT
               AS win_start,
           c.c_mktsegment AS segment,
           count(*) AS n
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    "Stream-static dimension enrichment (the standard streaming "
    "lookup-join shape §2.10 was missing): events replay through "
    "readStream, join a BROADCAST static customer dim per "
    "micro-batch (user_id = c_custkey; no streaming state for the "
    "dim side — only the daily windowed aggregation holds "
    "watermark-evicted state), and count per (day, market segment). "
    "The batch oracle is the identical join+grouping. At production "
    "scale the dim refreshes between restarts without touching the "
    "stream checkpoint, and the broadcast keeps the enrichment "
    "shuffle-free however wide the stream fans out.",
)
def s18_streaming_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.streaming.sessionize import (
        enriched_counts,
    )

    stream = _stream_events(spark, sf_dir, "s18_events_")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    out = enriched_counts(
        stream, dim, "ts", "user_id", ["segment"], window_duration="1 day"
    )
    name = f"s18_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        F.date_format("bucket_start", "yyyyMMdd").cast("long").alias(
            "win_start"
        ),
        "segment",
        "n",
    )


@query(
    "a31_weighted_median",
    """
    WITH w AS (
        SELECT event_type, round(value * 100)::BIGINT AS cents,
               (event_id % 5 + 1)::BIGINT AS wt, event_id
        FROM events
    ), cum AS (
        SELECT event_type, cents, wt,
               sum(wt) OVER (PARTITION BY event_type
                             ORDER BY cents, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cw,
               sum(wt) OVER (PARTITION BY event_type) AS tw
        FROM w
    )
    SELECT event_type, min(cents)::BIGINT AS wmedian_cents,
           min(tw)::BIGINT AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY event_type
    """,
    "Weighted median per group (the robust-center statistic sample "
    "weighting demands — percentile()/median() are unweighted): sort "
    "by value within the group key, running weight via one ordered "
    "window, median = the first value whose doubled cumulative weight "
    "reaches the total — ALL integer comparisons, no interpolation "
    "ambiguity cross-engine. One exchange on the group key; the window "
    "sort spills. Deterministic ties by (cents, event_id).",
)
def a31_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.col("event_id") % 5 + 1).cast("long").alias("wt"),
        "event_id",
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("cents", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = ev.select(
        "event_type",
        "cents",
        F.sum("wt").over(wo).alias("cw"),
        F.sum("wt").over(wall).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("event_type")
        .agg(
            F.min("cents").cast("long").alias("wmedian_cents"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )


@query(
    "a23_gini",
    f"""
    WITH src AS (
        SELECT source,
               sum({text_fns.token_count_sql('text')})::BIGINT AS x
        FROM documents GROUP BY source
    ), r AS (
        SELECT source, x,
               row_number() OVER (ORDER BY x, source) AS i,
               CAST(count(*) OVER () AS BIGINT) AS n,
               sum(x) OVER ()::BIGINT AS s
        FROM src
    )
    SELECT max(n) AS n_sources, max(s) AS total_tokens,
           round((2 * sum(i * x)::BIGINT - (max(n) + 1) * max(s))::DOUBLE
                 / (max(n) * max(s)), 6) AS gini
    FROM r
    """,
    "Gini concentration of corpus mass across sources (the imbalance "
    "diagnostic a data-mixing team reads next to t14's mixture "
    "fractions and t28's Zipf fit — G≈0 means sources contribute "
    "evenly, G→1 means one source dominates the token budget): the "
    "sorted-rank formula G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx) on "
    "integer token sums, ONE division at the end. The window runs "
    "over the per-source aggregate — n_sources rows, metadata-sized "
    "at any corpus scale; the only data pass is the token-count "
    "aggregation.",
)
def a23_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(text_fns.token_count(F.col("text"))).alias("x")
    )
    wr = Window.orderBy("x", "source")
    wa = Window.partitionBy()
    r = src.select(
        "x",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
        F.sum("x").over(wa).alias("s"),
    )
    return r.agg(
        F.max("n").alias("n_sources"),
        F.max("s").alias("total_tokens"),
        F.round(
            (
                2 * F.sum(F.col("i") * F.col("x"))
                - (F.max("n") + 1) * F.max("s")
            ).cast("double")
            / (F.max("n") * F.max("s")),
            6,
        ).alias("gini"),
    )


@query(
    "a24_source_entropy",
    f"""
    WITH tok AS (
        SELECT source, unnest({text_fns.tokens_sql('text')}) AS token
        FROM documents WHERE length(trim(text)) > 0
    ), cnt AS (
        SELECT source, token, count(*)::BIGINT AS n
        FROM tok GROUP BY source, token
    ), tot AS (
        SELECT source, sum(n)::BIGINT AS ns FROM cnt GROUP BY source
    )
    SELECT c.source, count(*)::BIGINT AS n_types, max(t.ns) AS n_tokens,
           sum(CAST(round(-(c.n::DOUBLE / t.ns)
                          * ln(c.n::DOUBLE / t.ns)
                          * 1000000) AS BIGINT))::BIGINT AS entropy_micro
    FROM cnt c JOIN tot t ON c.source = t.source
    GROUP BY c.source
    """,
    "Per-source token Shannon entropy (the vocabulary-diversity "
    "quality signal next to t28's Zipf slope — low entropy flags "
    "templated/machine-generated sources): each type's −p·ln p "
    "contribution quantizes to micro-units BEFORE summation (the "
    "t25/t35 libm discipline — ln differs across engines by ulps, so "
    "only rounded terms sum order-free and bit-equal), giving an "
    "integer entropy in micro-nats. Two shuffles — (source, token) "
    "counts with map-side combine, then the per-source reduce; "
    "downstream state is O(sources × vocab).",
)
def a24_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _ts(spark, sf_dir, "documents")
    tok = docs.filter(F.length(F.trim("text")) > 0).select(
        "source", F.explode(text_fns.tokens(F.col("text"))).alias("token")
    )
    cnt = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("source").agg(F.sum("n").alias("ns"))
    p = F.col("n").cast("double") / F.col("ns")
    term = F.round(-p * F.log(p) * 1000000, 0).cast("long")
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.max("ns").alias("n_tokens"),
            F.sum(term).alias("entropy_micro"),
        )
    )


@query(
    "a25_cohort_retention",
    """
    WITH v AS (
        SELECT user_id, event_type, epoch_us(ts)::BIGINT AS us
        FROM events
    ), w AS (
        SELECT user_id, event_type,
               ((us - (us % 604800000000)) / 604800000000)::BIGINT AS wk
        FROM v
    ), coh AS (
        SELECT user_id, min(wk) AS cwk FROM w
        WHERE event_type = 'signup' GROUP BY user_id
    ), cs AS (
        SELECT cwk, count(*)::BIGINT AS cohort_size FROM coh GROUP BY cwk
    ), act AS (
        SELECT DISTINCT user_id, wk AS awk FROM w
    )
    SELECT c.cwk AS cohort_wk, a.awk - c.cwk AS offset_wk,
           count(*)::BIGINT AS n_active,
           max(s.cohort_size) AS cohort_size,
           round(count(*)::DOUBLE / max(s.cohort_size), 6) AS retention
    FROM coh c
    JOIN act a ON a.user_id = c.user_id AND a.awk >= c.cwk
    JOIN cs s ON s.cwk = c.cwk
    GROUP BY c.cwk, a.awk - c.cwk
    """,
    "Cohort retention triangle (the product-analytics staple next to "
    "w13's funnel and d4's weekly counts): users cohort by their "
    "first signup epoch-week (m24's integer week trick — no calendar "
    "parsing, no global sort), activity dedups to (user, week), and "
    "each (cohort, week-offset) cell reports active users and the "
    "retention fraction against the cohort size. Two shuffles on "
    "user_id (cohort min + the activity join — AQE reuses the "
    "exchange) and one on the metadata-sized cohort key; at 100 TB "
    "the (user, week) dedup is the only data-scale state.",
)
def a25_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    wk_us = 604_800_000_000
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = ev.select(
        "user_id",
        "event_type",
        ((us - (us % wk_us)) / wk_us).cast("long").alias("wk"),
    )
    coh = (
        w.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("wk").alias("cwk"))
    )
    cs = coh.groupBy("cwk").agg(F.count(F.lit(1)).alias("cohort_size"))
    act = w.select("user_id", F.col("wk").alias("awk")).distinct()
    return (
        coh.join(act, "user_id")
        .filter(F.col("awk") >= F.col("cwk"))
        .join(F.broadcast(cs), "cwk")
        .groupBy(
            F.col("cwk").alias("cohort_wk"),
            (F.col("awk") - F.col("cwk")).alias("offset_wk"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.max("cohort_size").alias("cohort_size"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("cohort_size"), 6
            ).alias("retention"),
        )
    )


@query(
    "s19_streaming_temporal_join",
    """
    WITH log AS (
        SELECT user_id, event_type AS state, epoch_us(ts)::BIGINT AS us,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_state
        FROM events WHERE event_type <> 'purchase'
    ), changes AS (
        SELECT user_id, state, us FROM log
        WHERE prev_state IS NULL OR state <> prev_state
    ), dim AS (
        SELECT user_id, state, us AS eff_from_us,
               lead(us) OVER (PARTITION BY user_id
                              ORDER BY us, state) AS eff_to_us
        FROM changes
    ), fact AS (
        SELECT user_id, epoch_us(ts)::BIGINT AS us,
               strftime(date_trunc('day', ts), '%Y%m%d')::BIGINT AS d
        FROM events WHERE event_type = 'purchase'
    )
    SELECT f.d AS day_key, dm.state, count(*)::BIGINT AS n_purchases
    FROM fact f JOIN dim dm ON f.user_id = dm.user_id
      AND f.us >= dm.eff_from_us
      AND (dm.eff_to_us IS NULL OR f.us < dm.eff_to_us)
    GROUP BY f.d, dm.state
    """,
    "Event-time temporal join (the streaming lookup s18's static join "
    "can't express: WHICH VERSION of the dimension was valid WHEN "
    "the event happened — joining on the current version silently "
    "rewrites history): the purchase stream joins the j9-style SCD2 "
    "state history on user_id + half-open interval containment, then "
    "counts per (day, state-at-purchase-time). The dim BROADCASTS "
    "per micro-batch (stream-static joins allow the non-equi "
    "containment predicate); only the daily aggregation holds "
    "watermark-evicted state. Purchases preceding any dim version "
    "drop (inner join — documented). The batch oracle replays the "
    "identical history build + containment join.",
)
def s19_streaming_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    ev = _t(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    log = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("us"),
        F.lag("event_type").over(wl).alias("prev_state"),
    )
    changes = log.filter(
        F.col("prev_state").isNull()
        | (F.col("state") != F.col("prev_state"))
    ).select("user_id", "state", "us")
    wd = Window.partitionBy("user_id").orderBy("us", "state")
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        "state",
        F.col("us").alias("eff_from_us"),
        F.lead("us").over(wd).alias("eff_to_us"),
    )
    stream = _stream_events(spark, sf_dir, "s19_events_").filter(
        F.col("event_type") == "purchase"
    )
    fus = F.unix_micros("ts")
    joined = (
        stream.withWatermark("ts", "10 minutes")
        .join(
            F.broadcast(dim),
            (F.col("user_id") == F.col("d_user"))
            & (fus >= F.col("eff_from_us"))
            & (
                F.col("eff_to_us").isNull()
                | (fus < F.col("eff_to_us"))
            ),
        )
        .groupBy(F.window(F.col("ts"), "1 day"), F.col("state"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    name = f"s19_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            joined.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).select(
        F.date_format(F.col("window.start"), "yyyyMMdd")
        .cast("long")
        .alias("day_key"),
        "state",
        "n_purchases",
    )


@query(
    "j11_last_touch_attribution",
    """
    WITH v AS (
        SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us
        FROM events WHERE event_type IN ('view', 'click')
    ), p AS (
        SELECT user_id, event_id, epoch_us(ts)::BIGINT AS us
        FROM events WHERE event_type = 'purchase'
    ), ranked AS (
        SELECT p.event_id AS purchase_id, p.user_id,
               v.event_id AS touch_id, v.us AS touch_us,
               p.us - v.us AS latency_us,
               row_number() OVER (PARTITION BY p.event_id
                                  ORDER BY v.us DESC,
                                           v.event_id DESC) AS rn
        FROM p JOIN v ON v.user_id = p.user_id AND v.us <= p.us
    )
    SELECT pp.event_id AS purchase_id, pp.user_id,
           r.touch_id, r.touch_us, r.latency_us
    FROM p pp LEFT JOIN ranked r
      ON r.purchase_id = pp.event_id AND r.rn = 1
    """,
    "Last-touch attribution — the two-stream backward AS-OF join "
    "(each purchase matched to the user's most recent preceding "
    "view/click, j7's shape generalized to two event streams): the "
    "Spark side uses the UNION TRICK — tag both streams, ONE window "
    "per user carries the running last-touch forward, so the cost is "
    "one sort instead of the O(purchases × views)-per-user "
    "inequality join the ORACLE deliberately replays (correct at "
    "oracle scale, the exact shape that melts at lake scale — the "
    "cross-check proves the single-pass rewrite). Purchases with no "
    "prior touch emit NULLs (left-preserving); ties at equal "
    "timestamp resolve to the highest event_id in both forms.",
)
def j11_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    v = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.lit(0).alias("tag"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", us.alias("us"), F.lit(1).alias("tag")
    )
    both = v.unionByName(p)
    # at equal us the view (tag 0) sorts first, so the running last-touch
    # includes same-instant views — matching the oracle's v.us <= p.us;
    # event_id breaks residual ties identically on both sides
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(F.col("tag") == 0, F.struct("us", "event_id"))
    carried = both.select(
        "user_id",
        "event_id",
        "us",
        "tag",
        F.last(touch, ignorenulls=True).over(w).alias("lt"),
    )
    return carried.filter(F.col("tag") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("lt.event_id").alias("touch_id"),
        F.col("lt.us").alias("touch_us"),
        (F.col("us") - F.col("lt.us")).alias("latency_us"),
    )


@query(
    "a26_kaplan_meier",
    """
    WITH subj AS (
        SELECT user_id,
               date_diff('day', CAST(min(ts) AS DATE),
                         CAST(max(ts) AS DATE))::BIGINT AS t_days,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS observed
        FROM events GROUP BY user_id
    ), per_t AS (
        SELECT t_days,
               sum(observed)::BIGINT AS d,
               count(*)::BIGINT AS leave_n
        FROM subj GROUP BY t_days
    ), tot AS (
        SELECT sum(leave_n)::BIGINT AS n_subjects FROM per_t
    ), risk AS (
        SELECT p.t_days, p.d,
               t.n_subjects
               - (sum(p.leave_n) OVER (ORDER BY p.t_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  )::BIGINT - p.leave_n) AS n_risk
        FROM per_t p CROSS JOIN tot t
    ), steps AS (
        SELECT t_days, d, n_risk,
               CASE WHEN n_risk > d THEN
                   round(ln((n_risk - d)::DOUBLE / n_risk::DOUBLE)
                         * 1000000)::BIGINT
               END AS log_micro
        FROM risk WHERE d > 0
    ), cum AS (
        SELECT t_days, d, n_risk, log_micro,
               sum(log_micro) OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cum_log
        FROM steps
    )
    SELECT t_days, n_risk, d AS n_events,
           CASE WHEN log_micro IS NULL THEN NULL ELSE cum_log END
               AS cum_log_micro,
           CASE WHEN log_micro IS NULL THEN 0.0
                ELSE round(exp(cum_log::DOUBLE / 1000000.0), 6)
           END AS survival
    FROM cum
    """,
    "Kaplan-Meier survival estimator over per-user time-to-purchase "
    "(duration = days from a user's first to last event, observed = "
    "the user purchased, else right-censored at last sight) — the "
    "time-to-event analysis a retention team runs next to a25's "
    "cohort triangle, with censoring handled correctly instead of "
    "dropped. The data-scale work is ONE per-user aggregate; risk "
    "sets n_i come from a cumulative leave-count over the per-day "
    "frame (bounded by the date span, metadata-sized). The survival "
    "product uses the a24 libm discipline: each step's ln((n-d)/n) "
    "is quantized to integer micro-nats BEFORE the order-free "
    "cumulative sum, so the running product is an exact integer "
    "state; exp is applied once per emitted row and rounded to 6 dp. "
    "The terminal step where every remaining subject exits (n_risk "
    "== d, the curve's drop to zero) is emitted with survival = 0 "
    "explicitly — the log-space trick cannot represent it.",
)
def a26_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    subj = ev.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        )
        .cast("long")
        .alias("t_days"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("observed"),
    )
    per_t = subj.groupBy("t_days").agg(
        F.sum("observed").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leave_n"),
    )
    tot = per_t.agg(F.sum("leave_n").cast("long").alias("n_subjects"))
    wc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d",
        (
            F.col("n_subjects")
            - (
                F.sum("leave_n").over(wc).cast("long")
                - F.col("leave_n")
            )
        ).alias("n_risk"),
    )
    steps = risk.filter(F.col("d") > 0).select(
        "t_days",
        "d",
        "n_risk",
        F.when(
            F.col("n_risk") > F.col("d"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk").cast("double")
                )
                * 1000000,
                0,
            ).cast("long"),
        ).alias("log_micro"),
    )
    cum = steps.select(
        "t_days",
        "d",
        "n_risk",
        "log_micro",
        F.sum("log_micro").over(wc).cast("long").alias("cum_log"),
    )
    return cum.select(
        "t_days",
        "n_risk",
        F.col("d").alias("n_events"),
        F.when(
            F.col("log_micro").isNotNull(), F.col("cum_log")
        ).alias("cum_log_micro"),
        F.when(F.col("log_micro").isNull(), F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.col("cum_log").cast("double") / 1000000.0), 6)
        )
        .alias("survival"),
    )


def _j12_oracle() -> str:
    return f"""
    WITH c AS (
        SELECT c_custkey AS id, c_name AS name, c_nationkey AS blk
        FROM customer
    ), reps AS (
        {_reps_sql()}
    ), k AS (
        {_pigeonhole_keys_sql('reps')}
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.name AS name_a, b.name AS name_b
        FROM k a JOIN k b ON a.blk = b.blk AND a.cls = b.cls
              AND a.val = b.val AND a.id < b.id
    ), pairs AS (
        SELECT id_a, id_b,
               CAST({_ham18_sql('name_a', 'name_b')} AS BIGINT)
                   AS ham_dist,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev_dist
        FROM cand
    )
    SELECT id_a AS rep_id, id_b AS best_id, lev_dist, ham_dist, n_cand
    FROM (
        SELECT id_a, id_b, lev_dist, ham_dist,
               row_number() OVER (PARTITION BY id_a
                   ORDER BY lev_dist, ham_dist, id_b) AS rn,
               CAST(count(*) OVER (PARTITION BY id_a) AS BIGINT)
                   AS n_cand
        FROM pairs WHERE lev_dist <= 2) WHERE rn = 1
    """


@query(
    "j12_lev_linkage",
    _j12_oracle(),
    "Levenshtein re-scored record linkage over j10's pigeonhole "
    "candidate set — the PassJoin family's true metric (edit distance "
    "counts the transposition-shaped slips Hamming double-charges; "
    "for these fixed-width identifiers lev <= ham always, so every "
    "Hamming candidate is re-ranked, and the pigeonhole rule keeps "
    "the candidate set COMPLETE for substitution-class errors, the "
    "format's failure mode). Both engines run their native dynamic-"
    "programming levenshtein — an exact integer, no float discipline "
    "needed. Same two-tier scale shape as j10: exact-dup collapse "
    "first, 3 interleaved digit-class keys, candidates never touch "
    "whole blocks; the verifier cost is one O(18^2) DP per candidate "
    "pair.",
)
def j12_lev_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _ts(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("blk"),
    )
    reps = c.groupBy("blk", "name").agg(F.min("id").alias("id"))
    k = _pigeonhole_keys(reps.select("id", "name", "blk"))
    # spread the CPU-dense pair-verify join across cores (see
    # q_shared._ham_candidates — byte-based AQE coalescing otherwise
    # runs the whole levenshtein verify stage on one task)
    k = k.repartition(cores(spark), "blk", "cls", "val")
    ka, kb = k.alias("ka"), k.alias("kb")
    cand = (
        ka.join(
            kb,
            (F.col("ka.blk") == F.col("kb.blk"))
            & (F.col("ka.cls") == F.col("kb.cls"))
            & (F.col("ka.val") == F.col("kb.val"))
            & (F.col("ka.id") < F.col("kb.id")),
        )
        .select(
            F.col("ka.id").alias("id_a"),
            F.col("kb.id").alias("id_b"),
            F.col("ka.name").alias("name_a"),
            F.col("kb.name").alias("name_b"),
        )
        .distinct()
    )
    pairs = cand.select(
        "id_a",
        "id_b",
        _ham18(F.col("name_a"), F.col("name_b"))
        .cast("long")
        .alias("ham_dist"),
        F.levenshtein("name_a", "name_b").cast("long").alias("lev_dist"),
    ).filter(F.col("lev_dist") <= 2)
    wr = Window.partitionBy("id_a").orderBy(
        "lev_dist", "ham_dist", "id_b"
    )
    wn = Window.partitionBy("id_a")
    return (
        pairs.select(
            "id_a",
            "id_b",
            "lev_dist",
            "ham_dist",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).cast("long").alias("n_cand"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_a").alias("rep_id"),
            F.col("id_b").alias("best_id"),
            "lev_dist",
            "ham_dist",
            "n_cand",
        )
    )


def _a27_oracle() -> str:
    h = seeded_md5_long_sql("event_type", 73)
    u = f"((({h}) % 1000000)::DOUBLE + 0.5) / 1000000.0"
    noise = (
        f"round(CASE WHEN ({u}) < 0.5 THEN 2.0 * ln(2.0 * ({u})) "
        f"ELSE -2.0 * ln(2.0 - 2.0 * ({u})) END, 6)"
    )
    return f"""
    WITH per AS (
        SELECT event_type, count(*)::BIGINT AS true_n
        FROM events GROUP BY event_type
    )
    SELECT event_type, true_n,
           {noise} AS noise,
           round(true_n::DOUBLE + {noise}, 6) AS noisy_n,
           0.5::DOUBLE AS epsilon
    FROM per
    """


@query(
    "a27_dp_noisy_release",
    _a27_oracle(),
    "Differentially-private count release (epsilon = 0.5, sensitivity "
    "1): per-type event counts plus Laplace noise — the governance "
    "tier's release mechanism, completing a22's k-anonymity audit and "
    "d8's erasure planner with the actual privatized output. Noise "
    "is fully deterministic and cross-engine exact: a portable "
    "seeded md5 of the group key maps to u in (0,1) as an EXACT "
    "dyadic-free expression, the Laplace inverse CDF "
    "b*sign*ln(2u-ish) is the one libm call (rounded to 6 dp — the "
    "a24/t25 discipline), and the noisy count reuses the rounded "
    "noise so both engines add identical doubles. The scan is one "
    "map-side-combined count; noise math runs on the group frame "
    "only. (A production run would swap the audit seed for a secret "
    "one and drop true_n; the mechanism and accounting are the op.)",
)
def a27_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    u = (
        (seeded_md5_long(F.col("event_type"), 73) % 1000000).cast(
            "double"
        )
        + 0.5
    ) / 1000000.0
    noise = F.round(
        F.when(u < 0.5, 2.0 * F.log(2.0 * u)).otherwise(
            -2.0 * F.log(2.0 - 2.0 * u)
        ),
        6,
    )
    return per.select(
        "event_type",
        "true_n",
        noise.alias("noise"),
        F.round(F.col("true_n").cast("double") + noise, 6).alias(
            "noisy_n"
        ),
        F.lit(0.5).alias("epsilon"),
    )


_A21_ITERS = 6


def _a21_oracle() -> str:
    its = []
    prev = "pi0"
    for i in range(1, _A21_ITERS + 1):
        its.append(
            f"""pi{i} AS (
        SELECT p.dst AS state,
               CAST(round(CAST(sum(r.pi * p.p_micro) AS DOUBLE)
                          / 1000000.0) AS BIGINT) AS pi
        FROM p JOIN {prev} r ON p.src = r.state
        GROUP BY p.dst
    )"""
        )
        prev = f"pi{i}"
    return f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts)::BIGINT AS t, event_type
        FROM events
    ), tr AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY t, event_id) AS dst
        FROM e
    ), c AS (
        SELECT src, dst, count(*)::BIGINT AS n
        FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
    ), w AS (
        SELECT src, sum(n)::BIGINT AS wt FROM c GROUP BY src
    ), p AS (
        SELECT c.src, c.dst,
               CAST(round(CAST(c.n AS DOUBLE) * 1000000.0
                          / CAST(w.wt AS DOUBLE)) AS BIGINT) AS p_micro
        FROM c JOIN w ON c.src = w.src
    ), k AS (
        SELECT count(*)::BIGINT AS k FROM w
    ), pi0 AS (
        SELECT w.src AS state,
               CAST(round(1000000.0 / CAST(k.k AS DOUBLE)) AS BIGINT)
                   AS pi
        FROM w, k
    ), {', '.join(its)}
    SELECT w.src AS state, w.wt AS n_out,
           CAST(coalesce(f.pi, 0) AS BIGINT) AS pi_micro
    FROM w LEFT JOIN {prev} f ON w.src = f.state
    """


@query(
    "a21_markov_stationary",
    _a21_oracle(),
    "Event-type Markov chain learned from per-user event sequences "
    "(lead() over (ts, event_id) — the sequence-mining counterpart of "
    "w13's funnel), then the stationary distribution via 6 power "
    "iterations — 'where does a user's session settle'. Transition "
    "counts are one exact-int shuffle of data-scale work; everything "
    "after lives on the k x k transition frame (k = distinct event "
    "types). Probabilities and the pi vector are integer micro-units "
    "re-quantized after EVERY iteration (one correctly-rounded divide "
    "per entry), so both engines walk bit-identical states — the t36 "
    "integer-PageRank discipline applied to a LEARNED chain rather "
    "than a link graph. The SQL oracle unrolls the same 6 rounds.",
)
def a21_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t"), "event_type"
    )
    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    tr = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(wo).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = tr.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = c.groupBy("src").agg(F.sum("n").cast("long").alias("wt"))
    p = pin(
        c.join(w, "src")
        .select(
            "src",
            "dst",
            F.expr(
                "CAST(round(CAST(n AS DOUBLE) * 1000000.0"
                " / CAST(wt AS DOUBLE)) AS BIGINT)"
            ).alias("p_micro"),
        )
    )
    k = w.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = w.crossJoin(F.broadcast(k)).select(
        F.col("src").alias("state"),
        F.expr(
            "CAST(round(1000000.0 / CAST(k AS DOUBLE)) AS BIGINT)"
        ).alias("pi"),
    )
    for _ in range(_A21_ITERS):
        pi = (
            p.join(pi, p.src == pi.state)
            .groupBy(F.col("dst").alias("state2"))
            .agg(
                F.expr(
                    "CAST(round(CAST(sum(pi * p_micro) AS DOUBLE)"
                    " / 1000000.0) AS BIGINT)"
                ).alias("pi")
            )
            .withColumnRenamed("state2", "state")
        )
    return (
        w.join(pi, w.src == pi.state, "left")
        .select(
            F.col("src").alias("state"),
            F.col("wt").alias("n_out"),
            F.coalesce(F.col("pi"), F.lit(0))
            .cast("long")
            .alias("pi_micro"),
        )
    )


_J13_ROUNDS = 4

# Supplier co-part graph, shared by j13 (BFS) and j14 (k-core): suppliers
# are adjacent when they ship the same part; suppliers per part capped at
# 8 (deterministic row_number) so the per-part pair explosion is bounded
# regardless of part skew — the j10 pigeonhole discipline.
_COPART_EDGES_SQL = """ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), cap AS (
        SELECT p, s FROM (
            SELECT p, s, row_number() OVER (PARTITION BY p ORDER BY s)
                   AS rn
            FROM ps
        ) WHERE rn <= 8
    ), edges AS (
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM cap a JOIN cap b ON a.p = b.p AND a.s <> b.s
    )"""


def _copart_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(li, edges): the projected lineitem frame and the co-part edge
    set mirroring :data:`_COPART_EDGES_SQL`; edges come pinned for
    reuse across iteration rounds.

    Round-12 shape (guide §2.4 remove shuffles / §2.3 aggregate before
    you shuffle): the per-part supplier set is ONE map-side-combining
    ``groupBy(p).collect_set(s)`` (which dedups (p, s) in the same
    pass, so the separate distinct exchange AND the row_number window
    exchange are gone), the 8-cap is ``slice(sort_array(...), 1, 8)``
    — identical to the old ascending row_number cap, s is unique per
    set — and the pair fan-out happens IN-ROW over the ≤8-element
    array before one final distinct. The old shape paid distinct +
    window + self-join + distinct (4 data exchanges) and ran the pair
    join over a count-coalesced frame (1 partition at sf0.1 — the j10
    CPU-dense-starvation disease); this is 2 exchanges with the
    fan-out running at scan width. Skew note: a hot part's distinct
    suppliers land in one aggregation buffer — the same single-reducer
    placement the old window had, so no regression; the documented
    salt/degree-cap refinement for degree-1e8 keys applies to both.
    The pin is LAZY with the width census as its first action (one
    materialization job, not eager-checkpoint + count = two)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    )
    capped = li.groupBy("p").agg(
        F.slice(F.sort_array(F.collect_set("s")), 1, 8).alias("c")
    )
    pairs = F.expr(
        "flatten(transform(c, x -> transform(filter(c, y -> y != x),"
        " y -> struct(x AS u, y AS v))))"
    )
    edges = pin(
        capped.select(F.explode(pairs).alias("e"))
        .select("e.u", "e.v")
        .distinct()
    )
    edges = edges.coalesce(rows_width(spark, edges.count()))
    return li, edges


def _j13_oracle() -> str:
    its = []
    prev = "d0"
    for i in range(1, _J13_ROUNDS + 1):
        its.append(
            f"""d{i} AS (
        SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM (
            SELECT node, hop FROM {prev}
            UNION ALL
            SELECT e.v AS node, d.hop + 1 AS hop
            FROM {prev} d JOIN edges e ON e.u = d.node
        ) GROUP BY node
    )"""
        )
        prev = f"d{i}"
    return f"""
    WITH {_COPART_EDGES_SQL}, seeds AS (
        SELECT min(s) AS node FROM ps
        UNION
        SELECT max(s) AS node FROM ps
    ), d0 AS (
        SELECT node, CAST(0 AS BIGINT) AS hop FROM seeds
    ), {', '.join(its)}
    SELECT node, hop FROM {prev}
    """


@query(
    "j13_bfs_hops",
    _j13_oracle(),
    "Multi-hop BFS shortest distances over the supplier co-part graph "
    "(suppliers are adjacent when they ship the same part) from two "
    "deterministic seeds, 4 synchronous frontier rounds — the Pregel "
    "iteration shape (join frontier to edges, min-combine, repeat) "
    "that t10's connected components and v15's DBSCAN share, here "
    "pinned as plain shortest-hops. The edge builder caps suppliers "
    "per part at 8 (row_number, deterministic) so the per-part pair "
    "explosion is bounded at 64 regardless of skew — the j10 "
    "pigeonhole discipline; edges are localCheckpoint-reused across "
    "rounds and each round is one equi-join + one min aggregate, "
    "lineage truncated. Hops are exact integers; the SQL oracle "
    "unrolls the same 4 rounds.",
)
def j13_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, edges = _copart_edges(spark, sf_dir)
    # min/max of s over distinct (p, s) == min/max of s over lineitem
    # directly (distinct cannot change extrema), so the seed pass skips
    # the old distinct exchange + two-branch union that aggregated the
    # deduped frame twice (round-12, guide §1.2 "don't compute things
    # you throw away"); array_distinct keeps UNION semantics if ever
    # min == max
    seeds = li.agg(
        F.min("s").alias("lo"), F.max("s").alias("hi")
    ).select(
        F.explode(F.array_distinct(F.array("lo", "hi"))).alias("node")
    )
    d = seeds.select("node", F.lit(0).cast("long").alias("hop"))
    for _ in range(_J13_ROUNDS):
        nxt = (
            d.join(edges, d.node == edges.u)
            .select(F.col("v").alias("node"), (F.col("hop") + 1).alias("hop"))
        )
        d = pin(
            d.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("hop").cast("long").alias("hop"))
        )
    return d


_J14_K = 3
_J14_ROUNDS = 5


def _j14_oracle() -> str:
    its = []
    prev = "n0"
    for i in range(1, _J14_ROUNDS + 1):
        its.append(
            f"""n{i} AS (
        SELECT e.u AS node FROM edges e
        JOIN {prev} a ON e.u = a.node
        JOIN {prev} b ON e.v = b.node
        GROUP BY e.u HAVING count(*) >= {_J14_K}
    )"""
        )
        prev = f"n{i}"
    return f"""
    WITH {_COPART_EDGES_SQL}, n0 AS (
        SELECT DISTINCT u AS node FROM edges
    ), {', '.join(its)}
    SELECT e.u AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM edges e
    JOIN {prev} a ON e.u = a.node
    JOIN {prev} b ON e.v = b.node
    GROUP BY e.u
    """


@query(
    "j14_kcore",
    _j14_oracle(),
    "K-core decomposition (k=3) of the supplier co-part graph — the "
    "graph-pruning primitive spam/abuse and community pipelines run "
    "before expensive per-node work (t41 counts triangles on the full "
    "graph; this finds the dense backbone). Synchronous peeling: each "
    "round keeps nodes with >= 3 neighbors INSIDE the surviving set "
    "(two semi-joins of the edge list against the node set + one "
    "count-filter), 5 rounds unrolled — the same Pregel shape as "
    "j13's BFS, with the j10 pigeonhole cap bounding edges per part. "
    "Everything is exact integer degree arithmetic; the SQL oracle "
    "unrolls the identical rounds, so a wrong peeling order or a "
    "missed cascade breaks the hash.",
)
def j14_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, edges = _copart_edges(spark, sf_dir)
    nodes = edges.select(F.col("u").alias("node")).distinct()
    for _ in range(_J14_ROUNDS):
        nodes = pin(
            edges.join(nodes.withColumnRenamed("node", "u"), "u")
            .join(
                nodes.withColumnRenamed("node", "v"),
                "v",
            )
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _J14_K)
            .select(F.col("u").alias("node"))
        )
    return (
        edges.join(nodes.withColumnRenamed("node", "u"), "u")
        .join(nodes.withColumnRenamed("node", "v"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    )


@query(
    "a28_theil_sen",
    """
    WITH daily AS (
        SELECT CAST((epoch_us(ts) - (epoch_us(ts) % 86400000000))
                    / 86400000000 AS BIGINT) AS x,
               count(*)::BIGINT AS y
        FROM events WHERE event_type = 'click'
        GROUP BY 1
    ), pairs AS (
        SELECT CAST(round(CAST(b.y - a.y AS DOUBLE) * 1000000.0
                          / CAST(b.x - a.x AS DOUBLE)) AS BIGINT)
                   AS slope_micro
        FROM daily a JOIN daily b ON b.x > a.x
    ), np AS (
        SELECT count(*)::BIGINT AS n_pairs FROM pairs
    ), med AS (
        SELECT slope_micro FROM (
            SELECT slope_micro,
                   row_number() OVER (ORDER BY slope_micro) AS rn
            FROM pairs
        ), np
        WHERE rn = CAST(((np.n_pairs + 1) - ((np.n_pairs + 1) % 2)) / 2
                        AS BIGINT)
    ), resid AS (
        SELECT d.y * 1000000 - m.slope_micro * d.x AS ic
        FROM daily d, med m
    ), nd AS (
        SELECT count(*)::BIGINT AS n_days FROM daily
    ), imed AS (
        SELECT ic FROM (
            SELECT ic, row_number() OVER (ORDER BY ic) AS rn FROM resid
        ), nd
        WHERE rn = CAST(((nd.n_days + 1) - ((nd.n_days + 1) % 2)) / 2
                        AS BIGINT)
    )
    SELECT nd.n_days, np.n_pairs,
           m.slope_micro AS slope_micro,
           i.ic AS intercept_micro
    FROM nd, np, med m, imed i
    """,
    "Theil-Sen robust trend estimator over the daily click series — "
    "the outlier-immune alternative to m30's least squares (breakdown "
    "point 29% vs 0%): slope = median of all pairwise slopes, "
    "intercept = median of y - slope*x. Data-scale work is ONE "
    "day-bucket aggregation; the O(d^2) pair frame lives on the DAILY "
    "series (bounded by the time range, never the row count). Slopes "
    "quantize to integer micro-units with one correctly-rounded IEEE "
    "divide each; both medians are lower-medians selected by "
    "row_number — tie order between equal values is engine-dependent "
    "but the VALUE at the median position is not, so the result is "
    "deterministic. Residual medians stay exact int64 (y*1e6 - "
    "slope_micro*x).",
)
def a28_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = pin(
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            (
                (F.unix_micros("ts") - F.unix_micros("ts") % 86400000000)
                / 86400000000
            )
            .cast("long")
            .alias("x")
        )
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(F.broadcast(b), F.col("xb") > F.col("xa")).select(
        F.expr(
            "CAST(round(CAST(yb - ya AS DOUBLE) * 1000000.0"
            " / CAST(xb - xa AS DOUBLE)) AS BIGINT)"
        ).alias("slope_micro")
    )
    np_ = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    med = (
        pairs.select(
            "slope_micro",
            F.row_number().over(Window.orderBy("slope_micro")).alias("rn"),
        )
        .crossJoin(F.broadcast(np_))
        .filter(
            F.col("rn")
            == F.expr(
                "CAST(((n_pairs + 1) - ((n_pairs + 1) % 2)) / 2 AS BIGINT)"
            )
        )
        .select("slope_micro")
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        (F.col("y") * 1000000 - F.col("slope_micro") * F.col("x")).alias(
            "ic"
        )
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    imed = (
        resid.select(
            "ic", F.row_number().over(Window.orderBy("ic")).alias("rn")
        )
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("rn")
            == F.expr(
                "CAST(((n_days + 1) - ((n_days + 1) % 2)) / 2 AS BIGINT)"
            )
        )
        .select(F.col("ic").alias("intercept_micro"))
    )
    return (
        nd.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(imed))
        .select("n_days", "n_pairs", "slope_micro", "intercept_micro")
    )


# Quartile from a cumulative-before count: positions cb+1..cb+cnt share
# the value, so every tied customer lands in the same bucket — integer
# floor division rendered portably (DuckDB int division yields DOUBLE).
_A29_Q = "CAST(1 + ((4 * {cb}) - ((4 * {cb}) % nt)) / nt AS BIGINT)"


def _a29_rank_sql(metric: str) -> str:
    """Shared-text quartile frame for one RFM metric: per DISTINCT value,
    cumulative count of strictly-smaller rows → quartile 1..4."""
    cb = (
        "coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND 1 PRECEDING), 0)"
    )
    return f"""(
        SELECT v, {_A29_Q.format(cb=cb)} AS q
        FROM (SELECT {metric} AS v, count(*)::BIGINT AS c
              FROM rfm GROUP BY {metric}), nt
    )"""


def _a29_oracle() -> str:
    return f"""
    WITH gmax AS (
        SELECT max(epoch_us(o_orderdate))::BIGINT AS gm FROM orders
    ), rfm AS (
        SELECT o_custkey AS c,
               CAST(((gmax.gm - max(epoch_us(o_orderdate)))
                     - ((gmax.gm - max(epoch_us(o_orderdate)))
                        % 86400000000))
                    / 86400000000 AS BIGINT) AS r_days,
               count(*)::BIGINT AS f_cnt,
               CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS m_c
        FROM orders, gmax GROUP BY o_custkey, gmax.gm
    ), nt AS (
        SELECT count(*)::BIGINT AS nt FROM rfm
    ), qr AS {_a29_rank_sql('r_days')}, qf AS {_a29_rank_sql('f_cnt')},
    qm AS {_a29_rank_sql('m_c')}
    SELECT rfm.c AS custkey, rfm.r_days, rfm.f_cnt, rfm.m_c,
           qr.q AS r_q, qf.q AS f_q, qm.q AS m_q,
           CAST(qr.q * 100 + qf.q * 10 + qm.q AS BIGINT) AS rfm_code
    FROM rfm
    JOIN qr ON rfm.r_days = qr.v
    JOIN qf ON rfm.f_cnt = qf.v
    JOIN qm ON rfm.m_c = qm.v
    """


@query(
    "a29_rfm_segmentation",
    _a29_oracle(),
    "RFM customer segmentation (recency / frequency / monetary "
    "quartiles + the 3-digit RFM code) — the classic marketing-"
    "analytics operator, built on n17's scalable rank machinery: each "
    "quartile boundary comes from cumulative counts over the DISTINCT-"
    "value frame (bounded by the metric's domain, never a global "
    "customer sort or single-partition window), broadcast-joined back, "
    "and tied customers provably share a bucket because the bucket is "
    "a pure function of the strictly-smaller count. Recency is exact "
    "integer days against the global max order date; monetary is "
    "exact centi-cents; the quartile floor-division is rendered with "
    "the portable remainder identity (DuckDB integer '/' yields "
    "DOUBLE). Quartiles are ascending-value (r_q 1 = most recent "
    "buyers, f_q/m_q 4 = top buyers).",
)
def a29_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    gmax = o.agg(
        F.max(F.unix_micros("o_orderdate")).cast("long").alias("gm")
    )
    rfm = pin(
        o.crossJoin(F.broadcast(gmax))
        .groupBy(F.col("o_custkey").alias("c"), "gm")
        .agg(
            F.max(F.unix_micros("o_orderdate")).alias("lastus"),
            F.count(F.lit(1)).cast("long").alias("f_cnt"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0))
            .cast("long")
            .alias("m_c"),
        )
        .select(
            "c",
            (
                (
                    (F.col("gm") - F.col("lastus"))
                    - (F.col("gm") - F.col("lastus")) % 86400000000
                )
                / 86400000000
            )
            .cast("long")
            .alias("r_days"),
            "f_cnt",
            "m_c",
        )
    )
    nt = rfm.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    cb = (
        "coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND 1 PRECEDING), 0)"
    )

    def qframe(metric: str) -> DataFrame:
        g = rfm.groupBy(F.col(metric).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return g.crossJoin(F.broadcast(nt)).select(
            "v", F.expr(_A29_Q.format(cb=cb)).alias("q")
        )

    qr = qframe("r_days").withColumnRenamed("q", "r_q")
    qf = qframe("f_cnt").withColumnRenamed("q", "f_q")
    qm = qframe("m_c").withColumnRenamed("q", "m_q")
    return (
        rfm.join(F.broadcast(qr), rfm.r_days == qr.v)
        .drop("v")
        .join(F.broadcast(qf), rfm.f_cnt == qf.v)
        .drop("v")
        .join(F.broadcast(qm), rfm.m_c == qm.v)
        .drop("v")
        .select(
            F.col("c").alias("custkey"),
            "r_days",
            "f_cnt",
            "m_c",
            "r_q",
            "f_q",
            "m_q",
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
            .cast("long")
            .alias("rfm_code"),
        )
    )


@query(
    "j18_allen_relations",
    """
    WITH iv AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT)
                   + 60 * (event_id % 7 + 1) AS e
        FROM events
    ), pairs AS (
        SELECT user_id,
               lag(s) OVER w AS s1, lag(e) OVER w AS e1,
               s AS s2, e AS e2
        FROM iv
        WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
    )
    SELECT user_id,
           (CASE WHEN e1 < s2 THEN 'precedes'
                 WHEN e1 = s2 THEN 'meets'
                 WHEN s1 = s2 AND e1 = e2 THEN 'equals'
                 WHEN s1 = s2 AND e1 < e2 THEN 'starts'
                 WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
                 WHEN e2 < e1 THEN 'contains'
                 WHEN e2 = e1 THEN 'finished_by'
                 ELSE 'overlaps' END) AS relation,
           count(*) AS n
    FROM pairs WHERE s1 IS NOT NULL
    GROUP BY 1, 2
    """,
    "Allen interval-algebra classification (Allen 1983, 'Maintaining "
    "Knowledge about Temporal Intervals' — the temporal-join "
    "vocabulary; j8's range join finds WHICH intervals interact, this "
    "names HOW): consecutive per-user intervals (start = event time, "
    "deterministic duration) classify into the 8 relations possible "
    "under start-ordering (precedes/meets/overlaps/starts/started_by/"
    "contains/finished_by/equals) with exact integer endpoint "
    "comparisons. One lag window per user key — adjacent-pair "
    "classification is linear, never the O(n^2) all-pairs relation "
    "matrix.",
)
def j18_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("s"),
        (
            F.col("ts").cast("long") + 60 * (F.col("event_id") % 7 + 1)
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    p = ev.select(
        "user_id",
        F.lag("s").over(w).alias("s1"),
        F.lag("e").over(w).alias("e1"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    ).filter(F.col("s1").isNotNull())
    rel = (
        F.when(F.col("e1") < F.col("s2"), "precedes")
        .when(F.col("e1") == F.col("s2"), "meets")
        .when(
            (F.col("s1") == F.col("s2")) & (F.col("e1") == F.col("e2")),
            "equals",
        )
        .when(
            (F.col("s1") == F.col("s2")) & (F.col("e1") < F.col("e2")),
            "starts",
        )
        .when(F.col("s1") == F.col("s2"), "started_by")
        .when(F.col("e2") < F.col("e1"), "contains")
        .when(F.col("e2") == F.col("e1"), "finished_by")
        .otherwise("overlaps")
    )
    return p.groupBy("user_id", rel.alias("relation")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "j15_asof_tolerance",
    """
    WITH w AS (
        SELECT event_id, epoch_us(ts)::BIGINT AS t,
               max(CASE WHEN event_type = 'signup'
                        THEN epoch_us(ts)::BIGINT END)
                   OVER (PARTITION BY user_id ORDER BY ts ASC,
                         event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS last_signup_us
        FROM events
    )
    SELECT event_id,
           CASE WHEN t - last_signup_us <= 3600000000
                THEN last_signup_us END AS signup_within_1h_us,
           CASE WHEN t - last_signup_us <= 3600000000
                THEN t - last_signup_us END AS age_us
    FROM w
    """,
    "Tolerance-bounded as-of join (pandas merge_asof's tolerance= "
    "semantics; KDB wj): each event joins its user's most recent "
    "preceding signup ONLY if it happened within the last hour — "
    "stale matches become NULL rather than silently joining "
    "arbitrarily old state, the correctness detail that separates a "
    "real sensor/feature-store lookup from j7's unbounded backward "
    "scan. Same single-window shape as j7 (running conditional max, "
    "ONE user-keyed exchange, no range-join explosion); the "
    "tolerance is an exact integer-microsecond filter applied AFTER "
    "the window, so the plan cost is identical to the unbounded "
    "as-of.",
)
def j15_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last = F.max(
        F.when(
            F.col("event_type") == "signup", F.unix_micros("ts")
        )
    ).over(w)
    base = ev.select(
        "event_id",
        F.unix_micros("ts").alias("t"),
        last.alias("last_signup_us"),
    )
    ok = F.col("t") - F.col("last_signup_us") <= 3600000000
    return base.select(
        "event_id",
        F.when(ok, F.col("last_signup_us")).alias("signup_within_1h_us"),
        F.when(ok, F.col("t") - F.col("last_signup_us")).alias("age_us"),
    )


@query(
    "u7_cumulative_uniques",
    """
    WITH fs AS (
        SELECT user_id,
               min(CAST((epoch_us(ts) - (epoch_us(ts) % 86400000000))
                        / 86400000000 AS BIGINT)) AS first_day
        FROM events GROUP BY user_id
    ), daily AS (
        SELECT CAST((epoch_us(ts) - (epoch_us(ts) % 86400000000))
                    / 86400000000 AS BIGINT) AS day,
               count(*)::BIGINT AS n_events
        FROM events GROUP BY 1
    ), nf AS (
        SELECT first_day AS day, count(*)::BIGINT AS n_new
        FROM fs GROUP BY first_day
    )
    SELECT d.day, d.n_events, coalesce(nf.n_new, 0) AS n_new_users,
           CAST(sum(coalesce(nf.n_new, 0)) OVER (ORDER BY d.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_unique_users
    FROM daily d LEFT JOIN nf ON d.day = nf.day
    """,
    "Cumulative distinct users per day (total reach / cumulative DAU) "
    "— the growth-analytics counter that is NOT computable as a "
    "running count-distinct window at scale. The first-seen trick "
    "makes it one-pass distributed: distinct-by-day collapses to each "
    "user's FIRST day (one user-keyed min), cumulative distinct = "
    "running sum of per-day first-appearance counts — exact integers, "
    "no growing distinct-set state anywhere. The only window runs on "
    "the daily frame (time-bounded); data-scale work is two map-side-"
    "combined aggregations.",
)
def u7_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (
            (F.unix_micros("ts") - F.unix_micros("ts") % 86400000000)
            / 86400000000
        )
        .cast("long")
        .alias("day"),
    )
    fs = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    nf = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.join(F.broadcast(nf), "day", "left")
        .select(
            "day",
            "n_events",
            F.coalesce("n_new", F.lit(0)).alias("n_new_users"),
        )
        .select(
            "day",
            "n_events",
            "n_new_users",
            F.sum("n_new_users").over(w).cast("long").alias(
                "cum_unique_users"
            ),
        )
    )


_J16_ROUNDS = 6


def _j16_oracle() -> str:
    return """
    WITH RECURSIVE nodes AS (
        SELECT s_suppkey AS node FROM supplier
    ), walk AS (
        SELECT node, node AS cur, CAST(0 AS BIGINT) AS depth
        FROM nodes
        UNION ALL
        SELECT node, CAST((cur - (cur % 2)) / 2 AS BIGINT) AS cur,
               depth + 1
        FROM walk WHERE cur > 1
    )
    SELECT w.node, CAST(w.cur AS BIGINT) AS root,
           CAST(w.depth AS BIGINT) AS depth
    FROM walk w
    JOIN (SELECT node, max(depth) AS md FROM walk GROUP BY node) x
      ON w.node = x.node AND w.depth = x.md
    """


@query(
    "j16_pointer_doubling",
    _j16_oracle(),
    "Recursive-hierarchy resolution (every node's root + depth in the "
    "parent(s) = floor(s/2) binary forest over suppliers) via POINTER "
    "DOUBLING — the log-rounds trick that makes arbitrary-depth "
    "hierarchy walks (org charts, BOM explosions, reply threads) "
    "feasible distributed, where a per-level loop would need "
    "depth-many shuffles: each round self-joins the ancestor frame so "
    "every node's known ancestor jumps twice as far "
    "(anc <- anc[anc], dist accumulates), 6 rounds covering depth "
    "2^6 = 64. Roots hold a zero-cost self-loop fixed point. The "
    "oracle deliberately uses a DIFFERENT algorithm — a linear "
    "recursive-CTE parent walk — so the doubling arithmetic itself "
    "is what gets verified. All exact integers.",
)
def j16_pointer_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node")
    )
    st = nodes.select(
        "node",
        F.when(F.col("node") > 1, ((F.col("node") - F.col("node") % 2) / 2))
        .otherwise(F.col("node"))
        .cast("long")
        .alias("anc"),
        F.when(F.col("node") > 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("dist"),
    )
    for _ in range(_J16_ROUNDS):
        jump = st.select(
            F.col("node").alias("jnode"),
            F.col("anc").alias("janc"),
            F.col("dist").alias("jdist"),
        )
        st = pin(
            st.join(jump, st.anc == F.col("jnode"))
            .select(
                "node",
                F.col("janc").alias("anc"),
                (F.col("dist") + F.col("jdist")).cast("long").alias("dist"),
            )
        )
    return st.select(
        "node",
        F.col("anc").alias("root"),
        F.col("dist").alias("depth"),
    )


def _j17_oracle(iters: int = 2) -> str:
    fdiv = lambda x, d: f"((({x}) - (({x}) % ({d}))) / ({d}))"  # noqa: E731
    its = []
    prev_h = "hubs0"
    prev_a = None
    for i in range(1, iters + 1):
        its.append(f"""a{i}r AS (
        SELECT e.v AS node, sum(h.h * e.w)::BIGINT AS x
        FROM edges e JOIN {prev_h} h ON e.u = h.node
        GROUP BY e.v
    ), a{i}m AS (SELECT max(x) AS m FROM a{i}r),
    a{i} AS (
        SELECT node, {fdiv('x * 1000000', 'm')}::BIGINT AS a
        FROM a{i}r, a{i}m
    ), h{i}r AS (
        SELECT e.u AS node, sum(a.a * e.w)::BIGINT AS x
        FROM edges e JOIN a{i} a ON e.v = a.node
        GROUP BY e.u
    ), h{i}m AS (SELECT max(x) AS m FROM h{i}r),
    h{i} AS (
        SELECT node, {fdiv('x * 1000000', 'm')}::BIGINT AS h
        FROM h{i}r, h{i}m
    )""")
        prev_h, prev_a = f"h{i}", f"a{i}"
    return f"""
    WITH edges AS (
        SELECT o.o_custkey AS u, l.l_suppkey AS v, count(*)::BIGINT AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ), hubs0 AS (
        SELECT DISTINCT u AS node, 1000000::BIGINT AS h FROM edges
    ), {', '.join(its)}
    SELECT 'hub' AS role, node, h AS score_micro FROM {prev_h}
    UNION ALL
    SELECT 'auth' AS role, node, a AS score_micro FROM {prev_a}
    """


@query(
    "j17_hits",
    _j17_oracle(),
    "HITS hubs/authorities (Kleinberg 1999) over the customer→supplier "
    "purchase graph (orders⋈lineitem, weight = items bought) — the "
    "bipartite-centrality companion to t36's PageRank: hubs are "
    "broad-basket customers, authorities are widely-bought-from "
    "suppliers. Two power-iteration rounds in exact BIGINT micro-units "
    "(operators/graph.hits_scores): each half-step is one edge⋈score "
    "equi-join + one destination-key aggregation, renormalized by "
    "floor(x·scale/max) via a 1-row broadcast — so the SQL oracle "
    "unrolling the same rounds reproduces every score bit-for-bit. "
    "Score state is one row per node; the edge list materializes once "
    "and every round reuses it. Overflow bound documented on the "
    "operator (degree < 9e6 at micro scale).",
)
def j17_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators.graph import hits_scores

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    return hits_scores(edges, iters=2)


@query(
    "a30_t_closeness",
    """
    WITH base AS (
        SELECT c_nationkey AS qi1, c_mktsegment AS qi2,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sb
        FROM customer
    ), gl AS (
        SELECT sb, count(*)::BIGINT AS cb FROM base GROUP BY sb
    ), nn AS (
        SELECT sum(cb)::BIGINT AS n FROM gl
    ), grp AS (
        SELECT qi1, qi2, count(*)::BIGINT AS ng FROM base
        GROUP BY qi1, qi2
    ), cell AS (
        SELECT qi1, qi2, sb, count(*)::BIGINT AS cgb FROM base
        GROUP BY qi1, qi2, sb
    ), grid AS (
        SELECT g.qi1, g.qi2, g.ng, b.sb, b.cb,
               coalesce(c.cgb, 0) AS cgb
        FROM grp g CROSS JOIN gl b
        LEFT JOIN cell c
          ON c.qi1 = g.qi1 AND c.qi2 = g.qi2 AND c.sb = b.sb
    ), cum AS (
        SELECT qi1, qi2, ng, sb,
               CAST(sum(cgb * nn.n - cb * ng) OVER (
                   PARTITION BY qi1, qi2 ORDER BY sb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cd,
               CAST(count(*) OVER (PARTITION BY qi1, qi2) AS BIGINT)
                   AS m,
               nn.n AS n
        FROM grid, nn
    )
    SELECT qi1, qi2, max(ng) AS n_rows,
           round(CAST(sum(abs(cd)) AS DOUBLE)
                 / (CAST(max(ng) AS DOUBLE) * CAST(max(n) AS DOUBLE)
                    * CAST(max(m) - 1 AS DOUBLE)), 6) AS t_emd,
           (round(CAST(sum(abs(cd)) AS DOUBLE)
                 / (CAST(max(ng) AS DOUBLE) * CAST(max(n) AS DOUBLE)
                    * CAST(max(m) - 1 AS DOUBLE)), 6) > 0.2)
               AS at_risk_t
    FROM cum GROUP BY qi1, qi2
    """,
    "t-closeness privacy audit — the third release-gate metric after "
    "a22's k-anonymity and l-diversity (Li et al.: a group can be "
    "k-anonymous AND l-diverse yet still leak if its sensitive-value "
    "DISTRIBUTION diverges from the table's): per quasi-identifier "
    "group, the Earth-Mover's distance between the group's bucketed "
    "account-balance distribution and the global one, using the "
    "ordered-bucket EMD identity (mean of |cumulative differences| / "
    "(m-1)). Exactness: cumulative differences are computed on the "
    "COMMON denominator as exact integers (cgb*N - cb*ng), so the "
    "only float is ONE final shared-text division; the 0.2 threshold "
    "compares identically-rounded doubles. Scale: two metadata-sized "
    "aggregations; the dense group x bucket grid is "
    "|QI groups| x |buckets| — audit-sized, never data-sized.",
)
def a30_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("qi1"),
        F.col("c_mktsegment").alias("qi2"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("sb"),
    )
    gl = base.groupBy("sb").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    nn = gl.agg(F.sum("cb").cast("long").alias("n"))
    grp = base.groupBy("qi1", "qi2").agg(
        F.count(F.lit(1)).cast("long").alias("ng")
    )
    cell = base.groupBy("qi1", "qi2", "sb").agg(
        F.count(F.lit(1)).cast("long").alias("cgb")
    )
    grid = (
        grp.crossJoin(F.broadcast(gl))
        .join(cell, ["qi1", "qi2", "sb"], "left")
        .select(
            "qi1",
            "qi2",
            "ng",
            "sb",
            "cb",
            F.coalesce("cgb", F.lit(0)).alias("cgb"),
        )
    )
    wc = (
        Window.partitionBy("qi1", "qi2")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("qi1", "qi2")
    cum = grid.crossJoin(F.broadcast(nn)).select(
        "qi1",
        "qi2",
        "ng",
        "sb",
        F.sum(F.col("cgb") * F.col("n") - F.col("cb") * F.col("ng"))
        .over(wc)
        .cast("long")
        .alias("cd"),
        F.count(F.lit(1)).over(wg).cast("long").alias("m"),
        "n",
    )
    emd = (
        "round(CAST(sum(abs(cd)) AS DOUBLE)"
        " / (CAST(max(ng) AS DOUBLE) * CAST(max(n) AS DOUBLE)"
        " * CAST(max(m) - 1 AS DOUBLE)), 6)"
    )
    return cum.groupBy("qi1", "qi2").agg(
        F.max("ng").alias("n_rows"),
        F.expr(emd).alias("t_emd"),
        F.expr(f"({emd} > 0.2)").alias("at_risk_t"),
    )


# ---------------------------------------------------------------------------
# round 6: stream-stream LEFT OUTER interval join (watermark-gated nulls)
# ---------------------------------------------------------------------------


@query(
    "s23_stream_outer_join",
    """
    WITH l AS (
        SELECT event_id AS lid, user_id AS k, ts AS lts
        FROM events WHERE event_id % 3 = 0
    ), r AS (
        SELECT event_id AS rid, user_id AS k, ts AS rts
        FROM events WHERE event_id % 3 = 1
    ), m AS (
        SELECT l.lid, r.rid
        FROM l JOIN r ON l.k = r.k
         AND r.rts >= l.lts - INTERVAL 6 HOUR AND r.rts <= l.lts
    ), wm AS (
        SELECT least((SELECT max(lts) FROM l),
                     (SELECT max(rts) FROM r))
               - INTERVAL 30 MINUTE AS w
    ), matched AS (
        SELECT lid, count(*)::BIGINT AS n_match,
               sum(rid)::BIGINT AS rid_sum
        FROM m GROUP BY lid
    ), nulls AS (
        SELECT l.lid, 0::BIGINT AS n_match, 0::BIGINT AS rid_sum
        FROM l, wm
        WHERE l.lts < wm.w
          AND l.lid NOT IN (SELECT lid FROM matched)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM nulls
    """,
    "§2.10 stream-stream LEFT OUTER interval join — the missing outer "
    "half of s19's two-stream join surface: odd-keyed events join "
    "even-keyed events within a 6-hour lookback per user, and "
    "unmatched left rows emit NULL-padded ONLY once the global "
    "watermark (min of both streams' max event time, minus the 30-min "
    "delay) proves no future right row can match — rows inside the "
    "final horizon are withheld at stream end. That membership rule "
    "is exactly what the oracle replays (matched pairs UNION "
    "unmatched-below-watermark), so the watermark-gated null emission "
    "itself is value-hash gated, not just the inner matches "
    "(empirically pinned: < the horizon, strict). State scales with "
    "lookback x arrival rate per key, evicted by the same proof; the "
    "post-sink per-lid rollup is batch-side.",
)
def s23_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.streaming.sessionize import (
        stream_interval_join,
    )

    left = (
        _stream_events(spark, sf_dir, "s23l_")
        .filter(F.col("event_id") % 3 == 0)
        .select(
            F.col("event_id").alias("lid"),
            F.col("user_id").alias("k"),
            F.col("ts").alias("lts"),
        )
    )
    right = (
        _stream_events(spark, sf_dir, "s23r_")
        .filter(F.col("event_id") % 3 == 1)
        .select(
            F.col("event_id").alias("rid"),
            F.col("user_id").alias("k"),
            F.col("ts").alias("rts"),
        )
    )
    j = stream_interval_join(
        left,
        right,
        "k",
        "lts",
        "rts",
        lookback="6 hours",
        watermark="30 minutes",
        how="leftOuter",
    )
    name = f"s23_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            j.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return (
        spark.table(name)
        .groupBy("lid")
        .agg(
            F.count("rid").cast("long").alias("n_match"),
            F.coalesce(F.sum("rid"), F.lit(0))
            .cast("long")
            .alias("rid_sum"),
        )
    )


@query(
    "j19_butterfly_count",
    """
    WITH e AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), deg AS (
        SELECT p, count(*)::BIGINT AS d FROM e GROUP BY p
    ), pairs AS (
        SELECT a.s AS s1, b.s AS s2, count(*)::BIGINT AS c
        FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s
    )
    SELECT (SELECT count(DISTINCT p) FROM e)::BIGINT AS n_parts,
           (SELECT count(DISTINCT s) FROM e)::BIGINT AS n_suppliers,
           (SELECT count(*) FROM e)::BIGINT AS n_edges,
           (SELECT sum(d * (d - 1) / 2) FROM deg)::BIGINT AS n_wedges,
           coalesce(sum(c * (c - 1) / 2), 0)::BIGINT AS n_butterflies,
           coalesce(max(c), 0)::BIGINT AS max_copairs
    FROM pairs
    """,
    "Butterfly counting — bipartite 4-cycle motifs over the supplier-"
    "part co-occurrence graph (the bipartite analogue of t41's "
    "triangle count; butterflies are THE density/community signal for "
    "two-mode graphs, Sanei-Mehri et al. 2018): dedup (part, "
    "supplier) edges, generate same-part supplier wedges by one "
    "equi-join keyed on part, count co-occurrences per supplier pair, "
    "then butterflies = sum C(c,2). Scale shape: the wedge space is "
    "sum_p C(d_p, 2) — bounded because part degree is bounded "
    "(TPC-H partsupp gives ~4 suppliers/part; at lake scale a "
    "degree-cap/salt on the rare hot part key bounds the join, the "
    "standard vertex-priority refinement) — never the |S|^2 pair "
    "space. Exact integer counting end to end; the wedge total "
    "cross-checks the pair table (sum c == n_wedges).",
)
def j19_butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-12: (a) the edge materialization is a lazy pin whose first
    # action is the width census (one job, not eager-checkpoint +
    # count = two); (b) the CPU-dense wedge self-join no longer runs
    # over a count-coalesced frame — at sf0.1 that width rule put the
    # WHOLE wedge stage (join + pair aggregation, the query's entire
    # compute) in ONE task. Hash-repartitioning on the join key to the
    # session width is the j10/j12 fix (guide §2.5 — skew/starvation
    # by CPU, not bytes); both self-join sides share the exchange, and
    # at lake scale a p-keyed shuffle precedes this join anyway.
    # (An in-row array wedge expansion — groupBy(p).collect_set +
    # nested transform/slice — was tried first and measured SLOWER,
    # 2.0 -> 3.6 s: higher-order-function lambdas evaluate interpreted
    # per element while the equi-join runs in whole-stage codegen.)
    e = pin(
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    n_edges = e.count()  # the pin's materialization action
    e = e.repartition(session_width(spark), "p")
    deg = e.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # totals, round-11 (guide §1.2): n_parts is the degree table's row
    # count (distinct p BY CONSTRUCTION) and rides the SAME aggregation
    # as the wedge total; n_edges is the count the width rule above
    # already measured on the pinned frame (a literal, not a
    # recompute); only the distinct supplier census still needs its own
    # pass over e.
    tot_e = e.agg(
        F.countDistinct("s").alias("n_suppliers"),
    ).select(
        F.lit(n_edges).cast("long").alias("n_edges"), "n_suppliers"
    )
    tot_w = deg.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    tot_b = pairs.agg(
        F.coalesce(F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0))
        .cast("long")
        .alias("n_butterflies"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_copairs"),
    )
    return tot_e.crossJoin(tot_w).crossJoin(tot_b).select(
        F.col("n_parts").cast("long"),
        F.col("n_suppliers").cast("long"),
        F.col("n_edges").cast("long"),
        "n_wedges",
        "n_butterflies",
        "max_copairs",
    )


def _a32_oracle() -> str:
    from openseizuredatabase_spark.functions.sketches import (
        HLL_NUM,
        HLL_RHO_MAX,
    )

    h = md5_long_sql("CAST(user_id AS VARCHAR)")
    est = (
        f"CAST(round({HLL_NUM!r} / (s_present + (64 - n_regs)"
        f" * (1::BIGINT << {HLL_RHO_MAX}))::DOUBLE, 0) AS BIGINT)"
    )
    return f"""
    WITH hashed AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS d, {h} AS h
        FROM events
    ), rhos AS (
        SELECT g, d, h & 63 AS j,
               CASE WHEN h >> 6 = 0 THEN {HLL_RHO_MAX}
                    ELSE {HLL_RHO_MAX} - length(bin(h >> 6)) END AS rho
        FROM hashed
    ), dregs AS (
        SELECT g, d, j, max(rho) AS reg FROM rhos GROUP BY g, d, j
    ), merged AS (
        SELECT g, j, max(reg) AS reg FROM dregs GROUP BY g, j
    ), magg AS (
        SELECT g, count(*) AS n_regs,
               sum(1::BIGINT << ({HLL_RHO_MAX} - reg))::BIGINT
                   AS s_present,
               sum(reg * (7 + j * j))::BIGINT AS reg_sig
        FROM merged GROUP BY g
    ), direct_regs AS (
        SELECT g, j, max(rho) AS reg FROM rhos GROUP BY g, j
    ), dagg AS (
        SELECT g, count(*) AS n_regs,
               sum(1::BIGINT << ({HLL_RHO_MAX} - reg))::BIGINT
                   AS s_present
        FROM direct_regs GROUP BY g
    ), days AS (
        SELECT g, count(DISTINCT d)::BIGINT AS n_days FROM hashed
        GROUP BY g
    ), exact AS (
        SELECT event_type AS g, count(DISTINCT user_id)::BIGINT
               AS n_exact
        FROM events GROUP BY 1
    )
    SELECT m.g AS event_type, days.n_days, m.n_regs,
           m.reg_sig::BIGINT AS reg_sig, {est} AS merged_est,
           (SELECT {est} FROM dagg dd WHERE dd.g = m.g
            ) = {est} AS merge_lossless,
           exact.n_exact
    FROM magg m JOIN days USING (g) JOIN exact USING (g)
    """


@query(
    "a32_hll_daily_merge",
    _a32_oracle(),
    "HLL sketch MERGEABILITY executed, not just claimed (a17's "
    "docstring says register frames 'merge by union + re-max' — this "
    "entry is that path under a value hash): per-(type, DAY) register "
    "frames build independently (the per-epoch partial state a 100-TB "
    "ingest would persist beside each day's partition), then merge to "
    "type level by re-max and estimate — and the merge_lossless "
    "column pins merged == direct-over-the-union, the algebraic "
    "property that makes sketch reaggregation free at any epoch "
    "granularity. Daily frames are (types x days x 64) rows of "
    "metadata; the merge is one 64-row-per-group re-max — nothing "
    "rescans data. Exact count rides for the error check.",
)
def a32_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import sketches

    ev = _t(spark, sf_dir, "events").withColumn(
        "d", F.col("ts").cast("date")
    )
    daily = sketches.hll_registers(ev, ["event_type", "d"], "user_id")
    merged = daily.groupBy("event_type", "j").agg(
        F.max("reg").alias("reg")
    )
    est_m = sketches.hll_estimate(merged, ["event_type"]).select(
        "event_type",
        "n_regs",
        "reg_sig",
        F.col("hll_est").alias("merged_est"),
    )
    direct = sketches.hll_estimate(
        sketches.hll_registers(ev, ["event_type"], "user_id"),
        ["event_type"],
    ).select("event_type", F.col("hll_est").alias("direct_est"))
    days = ev.groupBy("event_type").agg(
        F.countDistinct("d").cast("long").alias("n_days")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        est_m.join(direct, "event_type")
        .join(days, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_regs",
            "reg_sig",
            "merged_est",
            (F.col("merged_est") == F.col("direct_est")).alias(
                "merge_lossless"
            ),
            "n_exact",
        )
    )


def _a33_decay_case() -> str:
    """Half-life-7-day decay weights as integer micro-unit literals for
    day lags 0..40 (beyond 40 half-lives^5.7 the weight rounds to
    <2e4 micro and is floored to 0) — precomputed in Python so neither
    engine evaluates a transcendental (exp/pow are not guaranteed
    cross-library bit-identical; the n22 Benford discipline)."""
    arms = " ".join(
        f"WHEN dd = {d} THEN {round(1000000 * 0.5 ** (d / 7.0))}"
        for d in range(41)
    )
    return f"CASE {arms} ELSE 0 END"


@query(
    "a33_decayed_counts",
    f"""
    WITH anchor AS (
        SELECT max(date_trunc('day', ts)) AS a FROM events
    ), lagged AS (
        SELECT event_type,
               date_diff('day', date_trunc('day', ts), anchor.a) AS dd
        FROM events, anchor
    ), weighted AS (
        SELECT event_type, dd, {_a33_decay_case()} AS w_micro
        FROM lagged
    ), agg AS (
        SELECT event_type, count(*)::BIGINT AS n,
               sum(w_micro)::BIGINT AS decayed_micro
        FROM weighted GROUP BY event_type
    )
    SELECT event_type, n, decayed_micro,
           row_number() OVER (ORDER BY decayed_micro DESC, event_type)
               AS trend_rank
    FROM agg
    """,
    "Exponentially time-decayed counts per event type (half-life 7 "
    "days) — the streaming leaderboard / trending-detection primitive: "
    "recent activity outweighs stale volume, and because exp decay is "
    "MERGEABLE (a partition's decayed sum re-anchors by one multiply), "
    "the state is one number per key at any scale. Decay weights are "
    "day-lag-indexed integer micro-unit LITERALS precomputed in Python "
    "(the n22 Benford discipline: no exp/pow in either plan — libm vs "
    "JVM transcendentals are not bit-identical), so the whole query is "
    "exact integer arithmetic: one map-side-combined aggregation after "
    "a broadcast of the 1-row anchor.",
)
def a33_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(
        F.max(F.date_trunc("day", F.col("ts"))).alias("a")
    )
    lagged = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        F.datediff(F.col("a"), F.date_trunc("day", F.col("ts"))).alias("dd"),
    )
    weighted = lagged.select(
        "event_type", F.expr(_a33_decay_case()).alias("w_micro")
    )
    agg = weighted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w_micro").cast("long").alias("decayed_micro"),
    )
    w = Window.orderBy(F.desc("decayed_micro"), F.asc("event_type"))
    return agg.select(
        "event_type", "n", "decayed_micro",
        F.row_number().over(w).alias("trend_rank"),
    )


def _a34_bucket_case() -> str:
    """Integer log2 bucket of a positive cents value via a generated
    comparison chain (no log() in either engine — transcendental libm
    parity is not guaranteed; powers of two as int literals are)."""
    arms = " ".join(
        f"WHEN vc < {1 << (b + 1)} THEN {b}" for b in range(24)
    )
    return f"CASE {arms} ELSE 24 END"


@query(
    "a34_log_histogram_quantiles",
    f"""
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL AND value > 0
    ), hist AS (
        SELECT event_type, {_a34_bucket_case()} AS bucket,
               count(*)::BIGINT AS c
        FROM base GROUP BY event_type, bucket
    ), cum AS (
        SELECT event_type, bucket, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY bucket)
                   AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM hist
    ), est AS (
        SELECT event_type, max(n)::BIGINT AS n,
               min(CASE WHEN cum * 100 >= n * 50
                   THEN (1::BIGINT << (bucket + 1)) - 1 END)::BIGINT
                   AS est_p50_c,
               min(CASE WHEN cum * 100 >= n * 99
                   THEN (1::BIGINT << (bucket + 1)) - 1 END)::BIGINT
                   AS est_p99_c
        FROM cum GROUP BY event_type
    ), cx AS (
        SELECT event_type, vc, count(*)::BIGINT AS c FROM base
        GROUP BY event_type, vc
    ), ex AS (
        SELECT event_type,
               min(CASE WHEN cum * 100 >= n * 50 THEN vc END)::BIGINT
                   AS exact_p50_c,
               min(CASE WHEN cum * 100 >= n * 99 THEN vc END)::BIGINT
                   AS exact_p99_c
        FROM (
            SELECT event_type, vc,
                   sum(c) OVER (PARTITION BY event_type ORDER BY vc)
                       AS cum,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM cx
        ) GROUP BY event_type
    )
    SELECT est.event_type, est.n, est.est_p50_c, ex.exact_p50_c,
           est.est_p99_c, ex.exact_p99_c,
           (est.est_p50_c >= ex.exact_p50_c
            AND est.est_p50_c < 2 * ex.exact_p50_c) AS p50_bound_ok,
           (est.est_p99_c >= ex.exact_p99_c
            AND est.est_p99_c < 2 * ex.exact_p99_c) AS p99_bound_ok
    FROM est JOIN ex ON ex.event_type = est.event_type
    """,
    "Log-bucketed histogram quantiles (the HDR-histogram / DDSketch "
    "observability primitive, relative-error-bounded and MERGEABLE — "
    "per-key state is <= 25 bucket counters that merge by addition, "
    "the property exact m37/a20 quantiles lack): power-of-two buckets "
    "assigned by a generated integer comparison chain (no log() in "
    "either engine — the a33/n22 no-transcendentals discipline), "
    "upper-bound estimates read off the cumulative bucket frame, and "
    "the audit columns verify the 2x relative-error contract against "
    "the EXACT per-type percentiles (value-domain histogram, the n17 "
    "trick). One corpus scan feeds both sides.",
)
def a34_log_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
    )
    hist = base.select(
        "event_type", F.expr(_a34_bucket_case()).alias("bucket")
    ).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wcum = Window.partitionBy("event_type").orderBy("bucket")
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bucket",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    ub = F.expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1")
    est = cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * 50, ub)
        ).cast("long").alias("est_p50_c"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * 99, ub)
        ).cast("long").alias("est_p99_c"),
    )
    cx = base.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wv = Window.partitionBy("event_type").orderBy("vc")
    ex = (
        cx.select(
            "event_type",
            "vc",
            F.sum("c").over(wv).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n") * 50, F.col("vc"))
            ).cast("long").alias("exact_p50_c"),
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n") * 99, F.col("vc"))
            ).cast("long").alias("exact_p99_c"),
        )
        .withColumnRenamed("event_type", "et2")
    )
    out = est.join(ex, est.event_type == F.col("et2")).select(
        "event_type", "n", "est_p50_c", "exact_p50_c",
        "est_p99_c", "exact_p99_c",
        (
            (F.col("est_p50_c") >= F.col("exact_p50_c"))
            & (F.col("est_p50_c") < 2 * F.col("exact_p50_c"))
        ).alias("p50_bound_ok"),
        (
            (F.col("est_p99_c") >= F.col("exact_p99_c"))
            & (F.col("est_p99_c") < 2 * F.col("exact_p99_c"))
        ).alias("p99_bound_ok"),
    )
    return out


from openseizuredatabase_spark.plans.q_shared import tolerance_walk_sql

_S25_WALK = tolerance_walk_sql("user_id, sid")


@query(
    "s25_streaming_merge_grouping",
    """
    WITH RECURSIVE ev AS (
        SELECT event_id, user_id, ts,
               epoch_ms(ts)::BIGINT AS t_ms,
               CASE WHEN value > 150 THEN 2 WHEN value > 120 THEN 1
                    ELSE 0 END AS alarm_state,
               (event_id % 5 = 0) AS is_existing,
               CASE WHEN event_id % 7 = 0 THEN 'seizure noted'
                    WHEN event_id % 7 = 3 THEN 'checked.'
                    ELSE '' END AS d0,
               (2 + event_id % 3)::BIGINT AS n_dp
        FROM events
    ), diffs AS (
        SELECT *, epoch(ts) - epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
        FROM ev
    ), sess AS MATERIALIZED (
        SELECT *, sum(CASE WHEN gap_s IS NULL OR gap_s >= 3600
                           THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM diffs
    ), sel AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id, sid
                   ORDER BY (CASE WHEN is_existing THEN 0 ELSE 1 END),
                            -alarm_state,
                            -(CASE WHEN trim(d0) <> '' THEN 1 ELSE 0 END),
                            t_ms, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, sid)::BIGINT
                   AS n_members,
               floor(epoch(min(ts) OVER (PARTITION BY user_id, sid)))
                   ::BIGINT AS session_start
        FROM sess
    ), dps AS (
        SELECT user_id, sid,
               (t_ms - (t_ms % 300000)) + i.i * 300000
                   + (event_id % 7) * 25 AS dp_t,
               event_id * 10 + i.i AS dp_v
        FROM sess, unnest(generate_series(0, n_dp - 1)) AS i(i)
    ), gdp AS (
        SELECT user_id, sid, count(*)::BIGINT AS n_dp_before,
               sum(dp_t)::BIGINT AS raw_t, sum(dp_v)::BIGINT AS raw_v
        FROM dps GROUP BY 1, 2
    ), {WALK_SID}
    SELECT s.user_id, s.session_start, s.event_id AS rep_event_id,
           s.n_members,
           CASE WHEN s.n_members > 1 THEN f.n
                ELSE g.n_dp_before END AS n_dp_after,
           CASE WHEN s.n_members > 1 THEN f.t_sum
                ELSE g.raw_t END AS dp_t_sum,
           CASE WHEN s.n_members > 1 THEN f.v_sum
                ELSE g.raw_v END AS dp_v_sum
    FROM sel s
    JOIN gdp g ON g.user_id = s.user_id AND g.sid = s.sid
    JOIN folded f ON f.user_id = s.user_id AND f.sid = s.sid
    WHERE s.rn = 1
    """.replace("{WALK_SID}", _S25_WALK),
    "Streaming twin of d17's merge-datapoints proximity grouping: the "
    "gap chain becomes a native engine-managed F.session_window (1 h "
    "gap; the runtime merges overlapping per-event intervals and "
    "watermark-evicts closed sessions), and the alarm_first selection "
    "+ tolerance-dedup merge run INSIDE the streaming aggregation via "
    "the SAME kernels d17 uses (curator.selection_precedence under "
    "min_by, curator.tolerance_dedup_fold over the collected "
    "datapoints) — batch and stream cannot drift. session_window "
    "closes a session when the gap >= the 1 h window (vs the batch "
    "chain's strict >) — the oracle replays gap-and-islands with >= "
    "over fractional epochs. State per key: one open session tuple, "
    "watermark-bounded; complete mode is only the finite-replay "
    "harness.",
)
def s25_streaming_merge_grouping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import uuid

    from openseizuredatabase_spark.operators import curator as cur

    stream = _stream_events(spark, sf_dir, "s25_events_")
    ev = stream.select(
        "ts",
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 1000").alias("t_ms"),
        F.when(F.col("value") > 150, 2)
        .when(F.col("value") > 120, 1)
        .otherwise(0)
        .cast("long")
        .alias("alarm_state"),
        (F.col("event_id") % 5 == 0).alias("is_existing"),
        F.when(F.col("event_id") % 7 == 0, "seizure noted")
        .when(F.col("event_id") % 7 == 3, "checked.")
        .otherwise("")
        .alias("desc"),
        (F.lit(2) + F.col("event_id") % 3).cast("long").alias("n_dp"),
    )
    grid = F.col("t_ms") - (F.col("t_ms") % 300000)
    ev = ev.withColumn(
        "datapoints",
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.col("n_dp") - 1),
            lambda i: F.struct(
                (grid + i * 300000 + (F.col("event_id") % 7) * 25).alias(
                    "t"
                ),
                (F.col("event_id") * 10 + i).alias("v"),
            ),
        ),
    )
    prec = cur.selection_precedence(
        "alarm_first", "alarm_state", "desc", "t_ms", "event_id",
        "datapoints", "is_existing",
    )
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "1 hour"))
        .agg(
            F.min_by("event_id", prec).alias("rep_event_id"),
            F.count(F.lit(1)).alias("n_members"),
            # bare struct sort is time-keyed ONLY because this query
            # builds its datapoint struct with 't' first (the curator
            # OPERATOR keys on dp_time_field explicitly; a local plan
            # with a pinned layout may rely on field order)
            F.array_sort(F.flatten(F.collect_list("datapoints"))).alias(
                "all_dps"
            ),
        )
    )
    name = f"s25_{uuid.uuid4().hex[:8]}"
    with stream_width(spark, sf_dir):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    out = spark.table(name)
    merged = F.when(
        F.col("n_members") > 1,
        cur.tolerance_dedup_fold(F.col("all_dps"), "t", 100),
    ).otherwise(F.col("all_dps"))
    zero = F.lit(0).cast("long")
    return out.select(
        "user_id",
        F.floor(F.col("session_window.start").cast("double"))
        .cast("long")
        .alias("session_start"),
        "rep_event_id",
        F.col("n_members").cast("long").alias("n_members"),
        F.size(merged).cast("long").alias("n_dp_after"),
        F.aggregate(merged, zero, lambda a, x: a + x["t"]).alias(
            "dp_t_sum"
        ),
        F.aggregate(merged, zero, lambda a, x: a + x["v"]).alias(
            "dp_v_sum"
        ),
    )
