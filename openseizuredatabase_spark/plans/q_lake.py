"""Dedup, grouping and lakehouse maintenance queries (SURVEY D*, zone/vacuum Z*).

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
from openseizuredatabase_spark.sources.width import rows_width

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)



# ---------------------------------------------------------------------------
# Dedup & grouping (D1-D4) — the signature curator queries
# ---------------------------------------------------------------------------


@query(
    "d1_unique_event_grouping",
    """
    WITH bucketed AS (
        SELECT *,
               (floor(epoch(ts) / 180) * 180)::BIGINT AS bucket_start,
               CASE WHEN value >= 150 THEN 0
                    WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50 THEN 1
                    ELSE 2 END AS prec
        FROM events
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id, event_type, bucket_start
                                  ORDER BY prec ASC, ts ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY user_id, event_type, bucket_start) AS n_rows
        FROM bucketed
    )
    SELECT user_id, event_type, bucket_start, event_id AS rep_event_id, n_rows
    FROM ranked WHERE rn = 1
    """,
    "D1 unique-event grouping (makeOsdDb.py:180-242): fixed 3-min wall-clock "
    "buckets per (user, type); best row by ALARM > tagged > first precedence. "
    "One window over one shuffle whose key IS the group key.",
)
def d1_unique_event_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-row JSON parse below is the map-side cost center,
    # and a single-file local scan would run it on one core (10x stress
    # ratio 5.5 -> 2.5 with the spread; no-op on a many-file lake)
    ev = _ts(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    precedence = (
        F.when(F.col("value") >= 150, 0).when(k > 50, 1).otherwise(2)
    )
    out = dedup_ops.unique_group_representative_id(
        ev,
        ["user_id", "event_type"],
        "ts",
        180,
        precedence,
        "event_id",
    )
    return out.select(
        "user_id",
        "event_type",
        "bucket_start",
        F.col("rep_event_id"),
        "n_rows",
    )


@query(
    "d2_gap_clustering",
    """
    WITH diffs AS (
        SELECT *,
               epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts ASC)) AS gap_s
        FROM events
    ), clustered AS (
        SELECT *,
               (sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id, event_type ORDER BY ts ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
               )::BIGINT AS cluster_id
        FROM diffs
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id, event_type, cluster_id
                                  ORDER BY value DESC, ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id, event_type, cluster_id) AS cluster_n
        FROM clustered
    )
    SELECT user_id, event_type, cluster_id, event_id AS rep_event_id, cluster_n
    FROM ranked WHERE rn = 1
    """,
    "D2 adjacent-duplicate clustering (merge_json.py:148-250): gap>30min "
    "starts a new cluster per (user, type); keep max-value row, later-time "
    "tiebreak. lag + running-sum sessionization, single shuffle.",
)
def d2_gap_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clustered = dedup_ops.gap_clusters(ev, ["user_id", "event_type"], "ts", 1800)
    best = dedup_ops.cluster_representative(
        clustered,
        ["user_id", "event_type"],
        [F.col("value").desc(), F.col("ts").desc(), F.col("event_id").desc()],
    )
    return best.select(
        "user_id",
        "event_type",
        "cluster_id",
        F.col("event_id").alias("rep_event_id"),
        "cluster_n",
    )


@query(
    "d3_drop_duplicates",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "D3 dropDuplicates (splitData.py:101-103 unique event list).",
)
def d3_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )


@query(
    "d4_weekly_counts",
    """
    SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week, event_type,
           user_id, count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
    "D4 weekly alarm grouping (dashboard.py:132-145 Grouper freq='1W').",
)
def d4_weekly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias("week"),
        "event_type",
        "user_id",
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Curator event-edit lake operations
# ---------------------------------------------------------------------------


@query(
    "e1_curator_edits",
    """
    SELECT grp, count(*)::BIGINT AS n, sum(id)::BIGINT AS id_sum
    FROM (
        SELECT CASE WHEN event_id % 1009 = 3 THEN 'curated'
                    WHEN event_id % 1013 = 5 THEN 'unknown'
                    ELSE event_type END AS grp,
               event_id AS id
        FROM events WHERE event_id % 997 <> 0
        UNION ALL
        SELECT source AS grp, doc_id AS id
        FROM documents WHERE source IS NULL OR source <> 'src7'
    )
    GROUP BY grp
    """,
    "Curator lake edits (edit_event.py:55-140 field updates/deletes, "
    "event_editor.py:590-626 mark-unknown, strip_phone_datasource.py:41-66): "
    "mark event_id%1013==5 'unknown', edit event_id%1009==3 to 'curated' "
    "(edits override marks), broadcast-anti-delete event_id%997==0, strip "
    "documents source 'src7'; per-group count+id_sum proves every row-level "
    "change landed. All three ops are broadcast joins / pushdown predicates "
    "— the 100 TB side never shuffles; the oracle replays them as CASE / "
    "NOT-IN set algebra.",
)
def e1_curator_edits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators.curator import (
        apply_event_edits,
        delete_events,
        mark_events,
        strip_datasource,
    )

    ev = _t(spark, sf_dir, "events")
    mark_ids = ev.filter(F.col("event_id") % 1013 == 5).select("event_id")
    edits = ev.filter(F.col("event_id") % 1009 == 3).select(
        "event_id", F.lit("curated").alias("event_type")
    )
    del_ids = ev.filter(F.col("event_id") % 997 == 0).select("event_id")

    curated = apply_event_edits(
        mark_events(ev, mark_ids, new_value="unknown"), edits
    )
    curated = delete_events(curated, del_ids)
    ev_part = curated.select(
        F.col("event_type").alias("grp"), F.col("event_id").alias("id")
    )

    docs = strip_datasource(
        _t(spark, sf_dir, "documents"), "source", "src7"
    ).select(F.col("source").alias("grp"), F.col("doc_id").alias("id"))

    return (
        ev_part.unionByName(docs)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("id_sum"),
        )
    )


@query(
    "r1_results_report",
    """
    WITH verdicts AS (
        SELECT event_id, event_type, user_id,
               (value > 150) AS alarmed,
               (lower(event_type) = 'error') AS expect_alarm,
               CASE lower(event_type)
                    WHEN 'error' THEN 'allSeizures'
                    WHEN 'click' THEN 'falseAlarms'
                    WHEN 'signup' THEN 'nda'
                    ELSE 'otherEvents' END AS bucket
        FROM events
    )
    SELECT bucket, count(*) AS total,
           sum(CASE WHEN alarmed = expect_alarm THEN 1 ELSE 0 END)::BIGINT
               AS osd_correct,
           round(avg(CASE WHEN alarmed = expect_alarm THEN 1.0 ELSE 0.0 END),
                 2) AS osd_prop,
           sum(CASE WHEN alarmed THEN 1 ELSE 0 END)::BIGINT AS n_alarmed
    FROM verdicts GROUP BY bucket
    """,
    "Report layer (results.py:44-263 saveResults2): the per-event verdict "
    "table — bucket by type2index (results.py:28-37), event alarmed ⇔ any "
    "dp at ALARM, correct ⇔ alarmed == expected — rolled to the #Total / "
    "#Correct Count / #Correct Prop footer rows each output_<bucket>.csv "
    "carries. Spark side runs the real reports.results pipeline "
    "(event_results_table → bucket_footers) over a value>150 per-dp "
    "analog; only CSV/HTML rendering stays driver-side (bounded).",
)
def r1_results_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.reports.results import (
        bucket_footers,
        event_results_table,
    )

    ev = _t(spark, sf_dir, "events")
    per_dp = ev.select(
        F.lit("osd").alias("algorithm"),
        F.col("event_id").alias("eventId"),
        F.when(F.col("value") > 150, 2).otherwise(0).alias("alarmState"),
    )
    meta = ev.select(
        F.col("event_id").alias("eventId"), "event_type", "user_id"
    )
    table = event_results_table(per_dp, meta, ["osd"])
    footers = bucket_footers(
        table,
        ["osd"],
        extra_aggs=[
            F.sum(F.col("osd_alarmed").cast("int")).alias("n_alarmed")
        ],
    )
    return footers.select(
        "bucket", "total", "osd_correct", "osd_prop", "n_alarmed"
    )


@query(
    "r2_data_audit",
    """
    SELECT coalesce(event_type, 'TOTAL') AS bucket,
           count(DISTINCT event_id) AS n_events,
           count(*) AS n_dps,
           round(count(*) / count(DISTINCT event_id)::DOUBLE, 2)
               AS avg_dp_per_event,
           count(*) - count(value) AS n_null_values,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY ROLLUP(event_type)
    """,
    "Data audit report (analyzeData.py:19-126 / auditDataProcessing "
    "role): per-type and global event counts, datapoint counts, average "
    "datapoints per event, null census and value ranges — one rollup "
    "aggregation, partial-combined, so the audit costs a single pass "
    "however large the lake.",
)
def r2_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.countDistinct("event_id").alias("n_events"),
            F.count(F.lit(1)).alias("n_dps"),
            F.round(
                F.count(F.lit(1))
                / F.countDistinct("event_id").cast("double"),
                2,
            ).alias("avg_dp_per_event"),
            (F.count(F.lit(1)) - F.count("value")).alias("n_null_values"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("TOTAL")).alias("bucket"),
            "n_events",
            "n_dps",
            "avg_dp_per_event",
            "n_null_values",
            "min_value",
            "max_value",
        )
    )


@query(
    "z1_zorder_key",
    f"""
    WITH q AS (
        SELECT event_id,
               ((user_id % 256) + 256) % 256 AS xq,
               ((CAST(round(value * 100) AS BIGINT) % 256) + 256) % 256 AS yq
        FROM events
    )
    SELECT event_id, xq, yq,
           ({morton_sql('xq', 'yq', 8)})::BIGINT AS zkey
    FROM q
    """,
    "Z-order layout key (sources/lake.zorder_write): Morton bit-"
    "interleave of two quantized dimensions — the multi-column file-"
    "clustering layout (Delta/Iceberg OPTIMIZE ZORDER shape) that lets "
    "footer min/max stats prune on either column at 100 TB. Pure "
    "bitwise built-ins (codegen, no UDF); oracle recomputes the "
    "interleave with explicit shift/mask SQL.",
)
def z1_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.lake import morton_key

    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(256)).alias("xq"),
        F.pmod(
            F.round(F.col("value") * 100).cast("long"), F.lit(256)
        ).alias("yq"),
    )
    return q.withColumn("zkey", morton_key(F.col("xq"), F.col("yq"), 8))


_BLOOM_M = 4032  # bits = 64 words x 63 usable bits (sign bit never set)
_BLOOM_K = 4


def _d5_oracle() -> str:
    fp = md5_long_sql("txt")
    fpm = md5_long_sql("txt || ' novel'")
    ph = md5_long_sql("CAST(s.s AS VARCHAR) || ':' || CAST(fp AS VARCHAR)")
    m, k = _BLOOM_M, _BLOOM_K
    seeds = ", ".join(str(i) for i in range(k))
    return f"""
    WITH docs0 AS (
        SELECT doc_id, trim(text) AS txt FROM documents
        WHERE length(trim(text)) > 0
    ), corpus AS (
        SELECT DISTINCT {fp} AS fp FROM docs0
    ), seeds AS (
        SELECT unnest([{seeds}]) AS s
    ), pos AS (
        SELECT {ph} % {m} AS p FROM corpus, seeds s
    ), words AS (
        SELECT p // 63 AS word, bit_or(1::BIGINT << (p % 63)) AS bits
        FROM pos GROUP BY 1
    ), probes AS (
        SELECT doc_id AS probe_id, {fp} AS fp FROM docs0 WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS probe_id, {fpm} AS fp
        FROM docs0 WHERE doc_id % 5 = 1
    ), ppos AS (
        SELECT probe_id, fp, {ph} % {m} AS p FROM probes, seeds s
    ), hits AS (
        SELECT probe_id, fp,
               sum((coalesce(w.bits, 0) >> (p % 63)) & 1)::BIGINT AS n_set
        FROM ppos LEFT JOIN words w ON w.word = p // 63
        GROUP BY probe_id, fp
    )
    SELECT h.probe_id,
           (h.n_set = {k}) AS bloom_hit,
           (c.fp IS NOT NULL) AS true_member,
           ((h.n_set = {k}) AND c.fp IS NULL) AS is_fp
    FROM hits h LEFT JOIN corpus c ON h.fp = c.fp
    """


@query(
    "d5_bloom_screen",
    _d5_oracle(),
    "Bloom-filter membership screen for incremental dedup, cross-engine "
    "exact: corpus fingerprints set k=4 portable-hash bits in an m=4032 "
    "filter stored as 64 bigint words (63 usable bits each — the sign "
    "bit is never set, so bit_or/shift semantics agree everywhere); a "
    "probe batch (known members + mutated non-members) tests all k "
    "positions and the exact fingerprint set rides along, so the "
    "driver hash pins both every verdict AND the measured false "
    "positives (is_fp). Scale: the filter is O(m) constant state built "
    "by one 64-key map-side-combined bit_or — at 100 TB it broadcasts "
    "to any probe stage and screens out the (1−fpr) majority of "
    "probes BEFORE the expensive exact anti-join (t16's broadcast "
    "batch probe), and filters from disjoint corpora merge by "
    "word-wise OR. The classic write-side dedup gate the reference's "
    "pandas isin() screens (osdb loader) cannot scale to.",
)
def d5_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, k = _BLOOM_M, _BLOOM_K
    docs0 = (
        _ts(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.trim("text").alias("txt"))
    )
    corpus = docs0.select(md5_long(F.col("txt")).alias("fp")).distinct()
    seed = F.explode(
        F.array(*[F.lit(i) for i in range(k)])
    ).alias("s")
    phash = md5_long(
        F.concat_ws(
            ":", F.col("s").cast("string"), F.col("fp").cast("string")
        )
    )
    words = (
        corpus.select("fp", seed)
        .select((phash % m).alias("p"))
        .groupBy(F.expr("p div 63").alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))")
            ).alias("bits")
        )
    )
    probes = docs0.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("probe_id"), md5_long(F.col("txt")).alias("fp")
    ).unionByName(
        docs0.filter(F.col("doc_id") % 5 == 1).select(
            (F.col("doc_id") + 1000000).alias("probe_id"),
            md5_long(F.concat(F.col("txt"), F.lit(" novel"))).alias("fp"),
        )
    )
    ppos = probes.select("probe_id", "fp", seed).select(
        "probe_id", "fp", (phash % m).alias("p")
    )
    hit = F.expr(
        "shiftright(coalesce(bits, CAST(0 AS BIGINT)),"
        " CAST(p % 63 AS INT)) % 2"
    )
    hits = (
        ppos.join(
            F.broadcast(words),
            F.expr("p div 63") == F.col("word"),
            "left",
        )
        .groupBy("probe_id", "fp")
        .agg(F.sum(hit).alias("n_set"))
    )
    mem = corpus.select(F.col("fp").alias("mfp"))
    return (
        hits.join(mem, F.col("fp") == F.col("mfp"), "left")
        .select(
            "probe_id",
            (F.col("n_set") == k).alias("bloom_hit"),
            F.col("mfp").isNotNull().alias("true_member"),
            ((F.col("n_set") == k) & F.col("mfp").isNull()).alias("is_fp"),
        )
    )


@query(
    "d6_cdc_merge",
    """
    WITH log AS (
        SELECT user_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               event_type, round(value * 100)::BIGINT AS value_c,
               epoch_us(ts)::BIGINT AS us, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_type AS last_type, value_c AS last_value_c,
           us AS last_us
    FROM log WHERE rn = 1 AND op = 'U'
    """,
    "CDC merge (the MERGE INTO / upsert-apply lakehouse operator): an "
    "append-only change stream where 'error' rows are deletes and "
    "everything else upserts collapses to the live snapshot — "
    "latest-op-wins per key by (ts, event_id), a deleted key emits NO "
    "row. Complements j5 (latest-wins union of two snapshots) and j9 "
    "(full SCD2 history): this is the third of the three standard "
    "change-application semantics. ONE window on the key = one "
    "shuffle; at 100 TB the change stream partitions by key and the "
    "snapshot materializes incrementally (the z1 bucketed layout "
    "makes the rewrite cluster-local).",
)
def d6_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # us is ts in epoch micros (1:1 monotone), so DESC on us == DESC on ts
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    log = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    ).withColumn("rn", F.row_number().over(w))
    return log.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value_c").alias("last_value_c"),
        F.col("us").alias("last_us"),
    )


# ---------------------------------------------------------------------------
# Round-4 session-4: lakehouse maintenance + linkage + corpus hygiene
# (d7 incremental-view maintenance, w14 compaction planner, j10 fuzzy
# record linkage, t39 intra-doc dedup, t40 URL canonicalization, v12
# cluster-quality metrics)
# ---------------------------------------------------------------------------


@query(
    "d7_incremental_agg",
    """
    SELECT event_type,
           count(*)::BIGINT AS n,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_c,
           min(epoch_us(ts))::BIGINT AS min_us,
           max(epoch_us(ts))::BIGINT AS max_us,
           round((sum(round(value * 100)::BIGINT)::DOUBLE / count(*))
                 / 100, 6) AS avg_v
    FROM events GROUP BY event_type
    """,
    "Incremental view maintenance (the lakehouse MERGE-refresh shape "
    "beyond the reference's full-rescan reports): the Spark side keeps "
    "a BASE aggregate state (count/sum/min/max per key) and merges the "
    "newly-arrived DELTA batch's state with a full-outer join + "
    "algebraic combine — the base data is NEVER rescanned. The oracle "
    "recomputes from scratch, so the check proves merge(state_base, "
    "state_delta) == direct(full) — the algebraic-aggregate law IVM "
    "rests on. At 100 TB the base state is a k-row materialized table "
    "and each refresh touches only the delta partition: refresh cost "
    "is O(delta), not O(lake).",
)
def d7_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        F.unix_micros("ts").alias("us"),
        (F.col("event_id") % 10 >= 8).alias("is_delta"),
    )

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_c").alias("sum_c"),
            F.min("us").alias("min_us"),
            F.max("us").alias("max_us"),
        )

    base = _state(ev.filter(~F.col("is_delta"))).alias("b")
    delta = _state(ev.filter(F.col("is_delta"))).alias("d")
    bn, dn = F.col("b.n"), F.col("d.n")
    merged = base.join(delta, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce(bn, F.lit(0)) + F.coalesce(dn, F.lit(0))).alias("n"),
        (
            F.coalesce(F.col("b.sum_c"), F.lit(0))
            + F.coalesce(F.col("d.sum_c"), F.lit(0))
        ).alias("sum_c"),
        F.least(
            F.coalesce(F.col("b.min_us"), F.col("d.min_us")),
            F.coalesce(F.col("d.min_us"), F.col("b.min_us")),
        ).alias("min_us"),
        F.greatest(
            F.coalesce(F.col("b.max_us"), F.col("d.max_us")),
            F.coalesce(F.col("d.max_us"), F.col("b.max_us")),
        ).alias("max_us"),
    )
    return merged.withColumn(
        "avg_v",
        F.round((F.col("sum_c").cast("double") / F.col("n")) / 100, 6),
    )


@query(
    "z3_zone_map_skipping",
    """
    WITH files AS (
        SELECT CAST(ts AS DATE) AS d, event_type,
               count(*)::BIGINT AS n_rows,
               max(round(value * 100)::BIGINT) AS max_c
        FROM events GROUP BY 1, 2
    ), actual AS (
        SELECT CAST(ts AS DATE) AS d, count(*)::BIGINT AS rows_matched
        FROM events WHERE round(value * 100)::BIGINT > 20000 GROUP BY 1
    )
    SELECT f.d, count(*)::BIGINT AS n_files,
           sum(CASE WHEN f.max_c > 20000 THEN 0 ELSE 1 END)::BIGINT
               AS n_skipped,
           sum(CASE WHEN f.max_c > 20000 THEN f.n_rows ELSE 0 END)::BIGINT
               AS rows_scanned,
           sum(f.n_rows)::BIGINT AS rows_total,
           coalesce(max(a.rows_matched), 0)::BIGINT AS rows_matched
    FROM files f LEFT JOIN actual a ON f.d = a.d
    GROUP BY f.d
    """,
    "Zone-map data skipping audit (min/max file statistics — the "
    "mechanism that makes a 100 TB scan cheap; completes the z1 "
    "layout + w14 compaction lakehouse maintenance trio): per "
    "simulated file (day × type), the zone map keeps max(value); a "
    "predicate `value > 200` (p98.5 of the distribution) must scan "
    "only files whose max exceeds it. The audit reports files "
    "skipped, rows avoided, and the true match count per day — the "
    "exact numbers a table-format OPTIMIZE report shows. Zone maps "
    "are file-level METADATA: building them is one metadata-sized "
    "aggregation, and the skip decision never touches data.",
)
def z3_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
    )
    files = ev.groupBy("d", "event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("value_c").alias("max_c"),
    )
    actual = (
        ev.filter(F.col("value_c") > 20000)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("rows_matched"))
    )
    scan = F.col("max_c") > 20000
    return (
        files.join(actual, "d", "left")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(scan, 0).otherwise(1)).alias("n_skipped"),
            F.sum(F.when(scan, F.col("n_rows")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("n_rows").alias("rows_total"),
            F.coalesce(F.max("rows_matched"), F.lit(0)).alias(
                "rows_matched"
            ),
        )
    )


def _z2_oracle() -> str:
    from openseizuredatabase_spark.sources.lake import hilbert_sql

    return f"""
    WITH hq AS (
        SELECT event_id,
               ((user_id % 256) + 256) % 256 AS xq,
               ((CAST(round(value * 100) AS BIGINT) % 256) + 256) % 256
                   AS yq
        FROM events
    ),
    {hilbert_sql('xq', 'yq', 8)}
    SELECT event_id, xq, yq, CAST(d8 AS BIGINT) AS hkey FROM h8
    """


@query(
    "z2_hilbert_key",
    _z2_oracle(),
    "Hilbert-curve layout key over the same quantized (user, value) "
    "plane as z1's Morton key: consecutive Hilbert values are ALWAYS "
    "grid-adjacent (the kernel variant is verified bijective with "
    "unit-step adjacency on the full 256×256 grid in "
    "tests/test_lakehouse_linkage.py), so range-partitioning the lake "
    "by hkey gives strictly tighter per-file min/max boxes than "
    "z-order — fewer false-positive files under z3's zone-map "
    "skipping; the layout modern liquid clustering uses. The unrolled "
    "8-round xy2d is pure integer CASE/shift expressions — "
    "whole-stage codegen, zero shuffles, scan-absorbed at any scale "
    "(sources/lake.hilbert_frame — one projection per round keeps the "
    "Catalyst tree linear; oracle replays the identical rounds as "
    "distinctly-named CTE columns).",
)
def z2_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.lake import hilbert_frame

    ev = _t(spark, sf_dir, "events")
    xq = ((F.col("user_id") % 256) + 256) % 256
    yq = (
        (F.round(F.col("value") * 100, 0).cast("long") % 256) + 256
    ) % 256
    base = ev.select("event_id", xq.alias("xq"), yq.alias("yq"))
    return hilbert_frame(
        base, F.col("xq"), F.col("yq"), out_col="hkey", bits=8
    )


def _z4_oracle() -> str:
    from openseizuredatabase_spark.sources.lake import hilbert_sql, morton_sql

    return f"""
    WITH hq AS (
        SELECT event_id,
               ((user_id % 256) + 256) % 256 AS xq,
               ((CAST(round(value * 100) AS BIGINT) % 256) + 256) % 256
                   AS yq
        FROM events
    ),
    {hilbert_sql('xq', 'yq', 8)},
    keys AS (
        SELECT h8.event_id, h8.xq, h8.yq,
               CAST(d8 AS BIGINT) AS hkey,
               CAST({morton_sql('h8.xq', 'h8.yq', 8)} AS BIGINT) AS zkey
        FROM h8
    ), blocks AS (
        SELECT (xq // 16) * 16 + (yq // 16) AS blk,
               max(hkey) - min(hkey) AS h_spread,
               max(zkey) - min(zkey) AS z_spread,
               count(*) AS n
        FROM keys GROUP BY 1
    )
    SELECT 'hilbert' AS scheme, count(*) AS n_blocks,
           sum(h_spread)::BIGINT AS spread_sum,
           max(h_spread)::BIGINT AS spread_max
    FROM blocks
    UNION ALL
    SELECT 'zorder', count(*), sum(z_spread)::BIGINT,
           max(z_spread)::BIGINT
    FROM blocks
    """


@query(
    "z4_locality_eval",
    _z4_oracle(),
    "Layout-key locality evaluation — the measurement that justifies "
    "z2's Hilbert choice over z1's Morton for lake clustering: for "
    "every 16x16 tile of the quantized (user, value) plane (a zone-map "
    "file's worth of co-located rows), the spread max(key)-min(key) of "
    "each scheme's keys over the tile's ACTUAL data. A tighter spread "
    "means range-partitioning by that key packs the tile into fewer "
    "files, i.e. fewer false-positive files under z3's min/max "
    "skipping; Hilbert's unit-step adjacency wins and this query "
    "quantifies by how much ON REAL data rather than by citation. "
    "Pure integer key arithmetic (both curves are unrolled CASE/shift "
    "expressions, z1/z2's kernels reused verbatim) + one tile "
    "aggregation — scan-bound.",
)
def z4_locality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.lake import (
        hilbert_frame,
        morton_key,
    )

    ev = _t(spark, sf_dir, "events")
    xq = ((F.col("user_id") % 256) + 256) % 256
    yq = (
        (F.round(F.col("value") * 100, 0).cast("long") % 256) + 256
    ) % 256
    base = ev.select("event_id", xq.alias("xq"), yq.alias("yq"))
    keyed = hilbert_frame(
        base, F.col("xq"), F.col("yq"), out_col="hkey", bits=8
    ).withColumn(
        "zkey", morton_key(F.col("xq"), F.col("yq"), bits=8).cast("long")
    )
    blocks = keyed.groupBy(
        ((F.col("xq") / 16).cast("long") * 16
         + (F.col("yq") / 16).cast("long")).alias("blk")
    ).agg(
        (F.max("hkey") - F.min("hkey")).alias("h_spread"),
        (F.max("zkey") - F.min("zkey")).alias("z_spread"),
    )
    h = blocks.agg(
        F.lit("hilbert").alias("scheme"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("h_spread").cast("long").alias("spread_sum"),
        F.max("h_spread").cast("long").alias("spread_max"),
    )
    z = blocks.agg(
        F.lit("zorder").alias("scheme"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("z_spread").cast("long").alias("spread_sum"),
        F.max("z_spread").cast("long").alias("spread_max"),
    )
    return h.unionByName(z)


@query(
    "d8_erasure_audit",
    """
    WITH req AS (
        SELECT c_custkey AS uid FROM customer WHERE c_custkey % 97 = 0
    ), ev AS (
        SELECT e.user_id AS uid, count(*)::BIGINT AS n_event_rows,
               count(DISTINCT CAST(e.ts AS DATE))::BIGINT AS n_event_days
        FROM events e JOIN req r ON e.user_id = r.uid
        GROUP BY e.user_id
    ), ord AS (
        SELECT o.o_custkey AS uid, count(*)::BIGINT AS n_order_rows
        FROM orders o JOIN req r ON o.o_custkey = r.uid
        GROUP BY o.o_custkey
    )
    SELECT req.uid,
           coalesce(ev.n_event_rows, 0)::BIGINT AS n_event_rows,
           coalesce(ev.n_event_days, 0)::BIGINT AS n_event_days,
           coalesce(ord.n_order_rows, 0)::BIGINT AS n_order_rows
    FROM req LEFT JOIN ev ON ev.uid = req.uid
             LEFT JOIN ord ON ord.uid = req.uid
    """,
    "Right-to-erasure propagation audit (the GDPR/CCPA delete planner "
    "a lakehouse runs before rewriting: WHICH rows, across WHICH "
    "tables, touching HOW many day-partitions): the request list "
    "(synthetic — every 97th customer) BROADCASTS into semi-join "
    "probes of each fact table; per subject the audit counts rows to "
    "erase and distinct day-partitions to rewrite — the actual "
    "erasure cost, since deletion rewrites whole files. Zero-row "
    "subjects still emit (the audit must PROVE absence, not skip "
    "it). At 100 TB the probes are broadcast-pruned scans and the "
    "rewrite parallelizes per partition; with d6's CDC this is the "
    "compliance half of change application.",
)
def d8_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    req = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("uid"))
    )
    ev = (
        _t(spark, sf_dir, "events")
        .join(F.broadcast(req), F.col("user_id") == F.col("uid"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_event_rows"),
            F.count_distinct(F.col("ts").cast("date")).alias(
                "n_event_days"
            ),
        )
        .withColumnRenamed("user_id", "ev_uid")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .join(F.broadcast(req), F.col("o_custkey") == F.col("uid"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_order_rows"))
        .withColumnRenamed("o_custkey", "o_uid")
    )
    return (
        req.join(ev, req["uid"] == ev["ev_uid"], "left")
        .join(orders, req["uid"] == orders["o_uid"], "left")
        .select(
            "uid",
            F.coalesce("n_event_rows", F.lit(0)).alias("n_event_rows"),
            F.coalesce("n_event_days", F.lit(0)).alias("n_event_days"),
            F.coalesce("n_order_rows", F.lit(0)).alias("n_order_rows"),
        )
    )


@query(
    "r3_psi_drift",
    """
    WITH v AS (
        SELECT event_type,
               least(greatest(
                   (vc - (((vc % 5000) + 5000) % 5000)) / 5000, 0),
                   9)::BIGINT AS bin,
               us
        FROM (SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS vc,
                     epoch_us(ts)::BIGINT AS us
              FROM events)
    ), mid AS (
        SELECT ((min(us) + max(us)) - (((min(us) + max(us)) % 2) + 2) % 2)
               / 2 AS m
        FROM v
    ), cnt AS (
        SELECT event_type, bin,
               sum(CASE WHEN v.us < mid.m THEN 1 ELSE 0 END)::BIGINT
                   AS n_ref,
               sum(CASE WHEN v.us >= mid.m THEN 1 ELSE 0 END)::BIGINT
                   AS n_cur
        FROM v, mid GROUP BY event_type, bin
    ), tot AS (
        SELECT event_type, sum(n_ref)::BIGINT AS t_ref,
               sum(n_cur)::BIGINT AS t_cur
        FROM cnt GROUP BY event_type
    )
    SELECT c.event_type, count(*)::BIGINT AS n_bins,
           sum(CAST(round(
               ((c.n_ref + 1)::DOUBLE / (t.t_ref + 10)
                - (c.n_cur + 1)::DOUBLE / (t.t_cur + 10))
               * ln(((c.n_ref + 1)::DOUBLE / (t.t_ref + 10))
                    / ((c.n_cur + 1)::DOUBLE / (t.t_cur + 10)))
               * 1000000) AS BIGINT))::BIGINT AS psi_micro
    FROM cnt c JOIN tot t ON c.event_type = t.event_type
    GROUP BY c.event_type
    """,
    "Population-stability-index drift monitor (the ML-ops check run "
    "on every scoring feature before trusting a deployed model; "
    "complements n5/n6 evaluation and m19 calibration): value "
    "distributions of the first vs second time half, fixed decile "
    "bins, add-one smoothing so empty bins stay defined, and PSI = "
    "Σ(p−q)·ln(p/q) with each term quantized to micro-units before "
    "the order-free integer sum (the a24/t25 libm discipline). The "
    "time midpoint is a 1-row broadcast; the bin counts are one "
    "map-side-combined aggregation over (type, bin) — constant "
    "state at any scale. PSI > 0.2 conventionally flags drift.",
)
def r3_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    vc = F.round(F.col("value") * 100, 0).cast("long")
    # exact-divisible floor division (the v5 trick): a double->int cast
    # of a fractional value TRUNCATES in Spark but ROUNDS in DuckDB, so
    # the divided value must already be integral in both engines
    binned = (vc - (((vc % 5000) + 5000) % 5000)) / 5000
    v = ev.select(
        "event_type",
        F.least(F.greatest(binned, F.lit(0)), F.lit(9))
        .cast("long")
        .alias("bin"),
        us.alias("us"),
    )
    mm = v.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).select(
        (
            (F.col("mn") + F.col("mx"))
            - (((F.col("mn") + F.col("mx")) % 2) + 2) % 2
        )
        / 2
    ).toDF("m")
    cnt = v.crossJoin(F.broadcast(mm)).groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("us") < F.col("m"), 1).otherwise(0)).alias(
            "n_ref"
        ),
        F.sum(F.when(F.col("us") >= F.col("m"), 1).otherwise(0)).alias(
            "n_cur"
        ),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + 10)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + 10)
    term = F.round((p - q) * F.log(p / q) * 1000000, 0).cast("long")
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum(term).alias("psi_micro"),
        )
    )


@query(
    "r4_dq_audit",
    """
    WITH ev AS (
        SELECT 'events.value_nonnull' AS check_name,
               count(*)::BIGINT AS n_rows,
               sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_violations
        FROM events
        UNION ALL
        SELECT 'events.value_in_range', count(*)::BIGINT,
               sum(CASE WHEN value < 0 OR value > 1000
                   THEN 1 ELSE 0 END)::BIGINT
        FROM events
        UNION ALL
        SELECT 'events.event_id_unique', count(*)::BIGINT,
               (count(*) - count(DISTINCT event_id))::BIGINT
        FROM events
        UNION ALL
        SELECT 'events.type_in_domain', count(*)::BIGINT,
               sum(CASE WHEN event_type NOT IN
                   ('click', 'view', 'purchase', 'signup', 'error')
                   THEN 1 ELSE 0 END)::BIGINT
        FROM events
        UNION ALL
        SELECT 'orders.custkey_fk', count(*)::BIGINT,
               sum(CASE WHEN c.c_custkey IS NULL
                   THEN 1 ELSE 0 END)::BIGINT
        FROM orders o LEFT JOIN customer c
          ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem.orderkey_fk', count(*)::BIGINT,
               sum(CASE WHEN o.o_orderkey IS NULL
                   THEN 1 ELSE 0 END)::BIGINT
        FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'events.props_k_lt_95', count(*)::BIGINT,
               sum(CASE WHEN CAST(json_extract_string(props, '$.k')
                             AS INTEGER) >= 95
                   THEN 1 ELSE 0 END)::BIGINT
        FROM events
    )
    SELECT check_name, n_rows, n_violations,
           (n_violations = 0) AS passed
    FROM ev
    """,
    "Data-quality constraint suite (the Deequ/dbt-test gate a lake "
    "table passes before anything downstream trusts it; the missing "
    "audit tier next to r2's row-count audit): completeness (null "
    "rate), range bounds, key uniqueness (count vs distinct — no "
    "self-join), domain membership, referential integrity for two "
    "FK edges (LEFT join + null probe; the dim side broadcasts), and "
    "one expectation the data genuinely violates (props.k < 95) so "
    "the red path is exercised, not just the green one. "
    "Every check is a map-side-combined aggregation emitting "
    "(violations, pass) — the whole suite is one scan per table plus "
    "two broadcast joins, and checks merge across partitions by "
    "addition, so incremental re-validation costs O(new partition) "
    "exactly like d7's IVM.",
)
def r4_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")

    def _check(name: str, df: DataFrame, viol: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(viol, 1).otherwise(0)).alias("n_violations"),
        )

    uniq = ev.agg(
        F.lit("events.event_id_unique").alias("check_name"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("event_id"))).alias(
            "n_violations"
        ),
    )
    domain = ["click", "view", "purchase", "signup", "error"]
    checks = (
        _check("events.value_nonnull", ev, F.col("value").isNull())
        .unionByName(
            _check(
                "events.value_in_range",
                ev,
                (F.col("value") < 0) | (F.col("value") > 1000),
            )
        )
        .unionByName(uniq)
        .unionByName(
            _check(
                "events.type_in_domain",
                ev,
                ~F.col("event_type").isin(domain),
            )
        )
        .unionByName(
            _check(
                "orders.custkey_fk",
                orders.join(
                    F.broadcast(cust),
                    orders["o_custkey"] == cust["c_custkey"],
                    "left",
                ),
                F.col("c_custkey").isNull(),
            )
        )
        .unionByName(
            _check(
                "lineitem.orderkey_fk",
                li.join(
                    orders.select("o_orderkey"),
                    li["l_orderkey"] == F.col("o_orderkey"),
                    "left",
                ),
                F.col("o_orderkey").isNull(),
            )
        )
        .unionByName(
            _check(
                "events.props_k_lt_95",
                ev,
                F.get_json_object("props", "$.k").cast("int") >= 95,
            )
        )
    )
    return checks.select(
        "check_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def _d9_oracle() -> str:
    row_h = md5_long_sql(
        "concat(event_id::VARCHAR, '|', "
        "coalesce(CAST(round(value * 1000000) AS BIGINT)::VARCHAR, '~'))"
    )
    row_h_b = md5_long_sql(
        "concat(event_id::VARCHAR, '|', "
        "coalesce(CAST(round((CASE WHEN event_id BETWEEN 301 AND 310 "
        "THEN value + 1.0 ELSE value END) * 1000000) AS BIGINT)"
        "::VARCHAR, '~'))"
    )
    fdiv = lambda x, d: f"((({x}) - (({x}) % ({d}))) / ({d}))"  # noqa: E731
    return f"""
    WITH a AS (
        SELECT event_id, {row_h} AS h,
               {fdiv('event_id', 256)}::BIGINT AS bkt
        FROM events WHERE event_id NOT BETWEEN 501 AND 505
    ), b AS (
        SELECT event_id, {row_h_b} AS h,
               {fdiv('event_id', 256)}::BIGINT AS bkt
        FROM events WHERE event_id NOT BETWEEN 101 AND 120
    ), d1a AS (
        SELECT bkt, count(*)::BIGINT AS n_a,
               sum(h % 1000003)::BIGINT AS s_a
        FROM a GROUP BY bkt
    ), d1b AS (
        SELECT bkt, count(*)::BIGINT AS n_b,
               sum(h % 1000003)::BIGINT AS s_b
        FROM b GROUP BY bkt
    ), d0a AS (
        SELECT {fdiv('bkt', 256)}::BIGINT AS sup,
               sum(n_a)::BIGINT AS n_a, sum(s_a)::BIGINT AS s_a
        FROM d1a GROUP BY 1
    ), d0b AS (
        SELECT {fdiv('bkt', 256)}::BIGINT AS sup,
               sum(n_b)::BIGINT AS n_b, sum(s_b)::BIGINT AS s_b
        FROM d1b GROUP BY 1
    ), mism0 AS (
        SELECT coalesce(d0a.sup, d0b.sup) AS sup
        FROM d0a FULL OUTER JOIN d0b ON d0a.sup = d0b.sup
        WHERE coalesce(d0a.n_a, -1) <> coalesce(d0b.n_b, -1)
           OR coalesce(d0a.s_a, -1) <> coalesce(d0b.s_b, -1)
    ), mism AS (
        SELECT coalesce(d1a.bkt, d1b.bkt) AS bkt,
               coalesce(n_a, 0)::BIGINT AS n_a,
               coalesce(n_b, 0)::BIGINT AS n_b
        FROM (SELECT d1a.* FROM d1a JOIN mism0
              ON {fdiv('d1a.bkt', 256)} = mism0.sup) d1a
        FULL OUTER JOIN
             (SELECT d1b.* FROM d1b JOIN mism0
              ON {fdiv('d1b.bkt', 256)} = mism0.sup) d1b
          ON d1a.bkt = d1b.bkt
        WHERE coalesce(n_a, -1) <> coalesce(n_b, -1)
           OR coalesce(s_a, -1) <> coalesce(s_b, -1)
    ), rows_a AS (
        SELECT a.* FROM a JOIN mism ON a.bkt = mism.bkt
    ), rows_b AS (
        SELECT b.* FROM b JOIN mism ON b.bkt = mism.bkt
    ), diff AS (
        SELECT coalesce(ra.bkt, rb.bkt) AS bkt,
               sum(CASE WHEN rb.event_id IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_only_a,
               sum(CASE WHEN ra.event_id IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_only_b,
               sum(CASE WHEN ra.event_id IS NOT NULL
                        AND rb.event_id IS NOT NULL
                        AND ra.h <> rb.h THEN 1 ELSE 0 END)::BIGINT
                   AS n_changed
        FROM rows_a ra FULL OUTER JOIN rows_b rb
          ON ra.event_id = rb.event_id
        GROUP BY 1
    )
    SELECT m.bkt, m.n_a, m.n_b, d.n_only_a, d.n_only_b, d.n_changed
    FROM mism m JOIN diff d ON m.bkt = d.bkt
    """


@query(
    "d9_table_diff",
    _d9_oracle(),
    "Merkle-TREE anti-entropy table reconciliation (the Cassandra "
    "repair / cross-region replica-verification shape; also the "
    "data-diff a migration signs off on): the source table vs a "
    "replica with a bounded corruption window (a dropped key range on "
    "each side + a perturbed range — the three divergence classes a "
    "replication incident actually produces, LOCAL in the keyspace). "
    "Each side reduces to 256-row KEY-RANGE leaf digests in one scan "
    "(count + bounded hash-sum, map-side combined); leaf digests "
    "re-aggregate to 65536-row super-digests — the Merkle tree as two "
    "groupBy levels. Comparison walks the tree: only mismatched "
    "super-ranges have their leaves compared, only mismatched leaves "
    "get the row-level full-outer drill-down, so reconciliation cost "
    "scales with the DIVERGENCE, not the table (the first hash-bucket "
    "design was stress-flagged 7.5×: uniform bucketing smears any "
    "corruption across every bucket and the drill-down can never "
    "prune — range leaves are what make the Merkle exchange work). "
    "Portable md5_long row hashes; value folded to micro-int before "
    "hashing.",
)
def d9_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _t, not _ts: a spread scan parallelizes the pre-shuffle md5 row
    # hash but ships the FULL event rows through an extra exchange —
    # measured a net loss in the final-window A/B (1.8 -> 2.8 s), so
    # the plain scan stays
    ev = _t(spark, sf_dir, "events")
    vmic = F.round(F.col("value") * 1_000_000, 0).cast("long")
    vmic_b = F.round(
        (
            F.when(
                F.col("event_id").between(301, 310),
                F.col("value") + 1.0,
            ).otherwise(F.col("value"))
        )
        * 1_000_000,
        0,
    ).cast("long")

    def fdiv(x, d):
        return ((x - (x % d)) / d).cast("long")

    def side(vm, lo, hi):
        h = md5_long(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("|"),
                F.coalesce(vm.cast("string"), F.lit("~")),
            )
        )
        return ev.filter(
            ~F.col("event_id").between(lo, hi)
        ).select(
            "event_id",
            h.alias("h"),
            fdiv(F.col("event_id"), F.lit(256)).alias("bkt"),
        )

    a = side(vmic, 501, 505)
    b = side(vmic_b, 101, 120)

    def digest(df, n_col, s_col):
        return df.groupBy("bkt").agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("h") % 1000003).cast("long").alias(s_col),
        )

    d1a = pin(digest(a, "n_a", "s_a"))
    d1b = pin(digest(b, "n_b", "s_b"))

    def up(df, n_col, s_col):
        return df.groupBy(
            fdiv(F.col("bkt"), F.lit(256)).alias("sup")
        ).agg(
            F.sum(n_col).cast("long").alias(n_col),
            F.sum(s_col).cast("long").alias(s_col),
        )

    mism0 = (
        up(d1a, "n_a", "s_a")
        .join(up(d1b, "n_b", "s_b"), "sup", "full")
        .filter(
            (
                F.coalesce("n_a", F.lit(-1))
                != F.coalesce("n_b", F.lit(-1))
            )
            | (
                F.coalesce("s_a", F.lit(-1))
                != F.coalesce("s_b", F.lit(-1))
            )
        )
        .select("sup")
    )
    sups = F.broadcast(mism0)
    l1a = d1a.withColumn("sup", fdiv(F.col("bkt"), F.lit(256))).join(
        sups, "sup"
    )
    l1b = d1b.withColumn("sup", fdiv(F.col("bkt"), F.lit(256))).join(
        sups, "sup"
    )
    mism = pin(
        l1a.drop("sup")
        .join(l1b.drop("sup"), "bkt", "full")
        .filter(
            (
                F.coalesce("n_a", F.lit(-1))
                != F.coalesce("n_b", F.lit(-1))
            )
            | (
                F.coalesce("s_a", F.lit(-1))
                != F.coalesce("s_b", F.lit(-1))
            )
        )
        .select(
            "bkt",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
    )
    bkts = F.broadcast(mism.select("bkt"))
    ra = a.join(bkts, "bkt").select(
        "bkt", F.col("event_id").alias("id_a"), F.col("h").alias("h_a")
    )
    rb = b.join(bkts, "bkt").select(
        F.col("bkt").alias("bkt_b"),
        F.col("event_id").alias("id_b"),
        F.col("h").alias("h_b"),
    )
    diff = (
        ra.join(rb, ra["id_a"] == rb["id_b"], "full")
        .select(
            F.coalesce("bkt", "bkt_b").alias("bkt"),
            "id_a",
            "id_b",
            "h_a",
            "h_b",
        )
        .groupBy("bkt")
        .agg(
            F.sum(F.when(F.col("id_b").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_only_a"),
            F.sum(F.when(F.col("id_a").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_only_b"),
            F.sum(
                F.when(
                    F.col("id_a").isNotNull()
                    & F.col("id_b").isNotNull()
                    & (F.col("h_a") != F.col("h_b")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_changed"),
        )
    )
    return mism.join(diff, "bkt")


@query(
    "d10_time_travel",
    """
    WITH log AS (
        SELECT user_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END
                   AS op,
               round(value * 100)::BIGINT AS value_c,
               epoch_us(ts)::BIGINT AS us, event_id
        FROM events
    ), span AS (
        SELECT min(us)::BIGINT AS mn, max(us)::BIGINT AS mx FROM log
    ), cuts AS (
        SELECT p.pct,
               (s.mn + (((s.mx - s.mn) * p.pct
                 - (((s.mx - s.mn) * p.pct) % 100)) / 100))::BIGINT
                   AS cut_us
        FROM (SELECT unnest([25, 50, 75]) AS pct) p CROSS JOIN span s
    ), ranked AS (
        SELECT c.pct, c.cut_us, l.user_id, l.op, l.value_c,
               row_number() OVER (PARTITION BY c.pct, l.user_id
                                  ORDER BY l.us DESC, l.event_id DESC)
                   AS rn
        FROM log l JOIN cuts c ON l.us <= c.cut_us
    )
    SELECT pct, cut_us,
           sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END)::BIGINT AS n_live,
           sum(CASE WHEN op = 'U' THEN value_c ELSE 0 END)::BIGINT
               AS sum_value_c
    FROM ranked WHERE rn = 1
    GROUP BY pct, cut_us
    """,
    "Time-travel read over the CDC log (the lakehouse 'SELECT ... AS "
    "OF' / snapshot-isolation query, composing d6's change-application "
    "semantics): reconstruct the live table at the 25/50/75% points of "
    "the log's time span — latest op per key at or before each cutoff, "
    "deletes erasing the key — and report each snapshot's row count "
    "and value sum. One window pass serves ALL cutoffs (cutoffs ride a "
    "3-row broadcast into the partition key), so auditing N historical "
    "snapshots costs one shuffle, not N replays. In a real lake the "
    "manifest prunes files newer than the cutoff before this plan ever "
    "scans them; cutoffs are integer floor-division percent points of "
    "the observed span, so both engines pick identical boundaries.",
)
def d10_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def fdiv(x, d):
        return ((x - (x % d)) / d).cast("long")

    log = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    span = log.agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    cuts = (
        span.select(
            F.explode(F.array(F.lit(25), F.lit(50), F.lit(75))).alias(
                "pct"
            ),
            "mn",
            "mx",
        )
        .select(
            "pct",
            (
                F.col("mn")
                + fdiv((F.col("mx") - F.col("mn")) * F.col("pct"), F.lit(100))
            )
            .cast("long")
            .alias("cut_us"),
        )
    )
    # one combine-friendly aggregation computes ALL cutoffs' as-of rows:
    # max over struct(us, event_id, ...) IS the latest-op argmax (struct
    # comparison is lexicographic), and the per-user partial state is 3
    # structs — no row multiplication, no window sort (the row_number
    # variant was stress-flagged 5.9× at 30×; this shape is 3× fewer
    # shuffled rows and map-side combined). The oracle keeps the naive
    # per-cutoff window replay, so the strategies genuinely cross-check.
    wide = cuts.groupBy().pivot("pct", [25, 50, 75]).agg(
        F.first("cut_us")
    )
    j = log.crossJoin(F.broadcast(wide))
    latest = [
        F.max(
            F.when(
                F.col("us") <= F.col(str(p)),
                F.struct(
                    "us",
                    "event_id",
                    (F.col("op") == "U").alias("live"),
                    "value_c",
                ),
            )
        ).alias(f"l{p}")
        for p in (25, 50, 75)
    ]
    per_user = j.groupBy("user_id").agg(*latest)
    longf = per_user.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("pct"), F.col(f"l{p}").alias("l")
                    )
                    for p in (25, 50, 75)
                ]
            )
        ).alias("e")
    ).select(F.col("e.pct").alias("pct"), F.col("e.l").alias("l"))
    agg = longf.groupBy("pct").agg(
        F.sum(F.when(F.col("l.live"), 1).otherwise(0))
        .cast("long")
        .alias("n_live"),
        F.sum(F.when(F.col("l.live"), F.col("l.value_c")).otherwise(0))
        .cast("long")
        .alias("sum_value_c"),
    )
    return agg.join(F.broadcast(cuts), "pct").select(
        "pct", "cut_us", "n_live", "sum_value_c"
    )


@query(
    "d11_deletion_vectors",
    f"""
    WITH base AS (
        SELECT l_orderkey AS ok, l_linenumber AS ln,
               CAST(l_orderkey % 64 AS BIGINT) AS file_id,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        FROM lineitem
    ), pos AS (
        SELECT *, row_number() OVER (PARTITION BY file_id
                   ORDER BY ok, ln) AS pos
        FROM base
    ), dv AS (
        SELECT file_id, pos FROM pos
        WHERE ({md5_long_sql("ok::VARCHAR || ':' || ln::VARCHAR")})
              % 13 = 0
    ), live AS (
        SELECT p.file_id, p.price_c
        FROM pos p LEFT JOIN dv
          ON p.file_id = dv.file_id AND p.pos = dv.pos
        WHERE dv.pos IS NULL
    ), tot AS (
        SELECT file_id, count(*)::BIGINT AS n_total FROM pos
        GROUP BY file_id
    ), del AS (
        SELECT file_id, count(*)::BIGINT AS n_deleted FROM dv
        GROUP BY file_id
    ), lv AS (
        SELECT file_id, count(*)::BIGINT AS n_live,
               sum(price_c)::BIGINT AS live_price_c
        FROM live GROUP BY file_id
    )
    SELECT t.file_id, t.n_total,
           coalesce(d.n_deleted, 0) AS n_deleted,
           coalesce(l.n_live, 0) AS n_live,
           coalesce(l.live_price_c, 0) AS live_price_c
    FROM tot t
    LEFT JOIN del d ON t.file_id = d.file_id
    LEFT JOIN lv l ON t.file_id = l.file_id
    """,
    "Deletion-vector merge-on-read read path (Iceberg position "
    "deletes / Delta deletion vectors) — the third lakehouse delete "
    "mechanism next to d8's key-based erasure and d6's CDC merge: "
    "rows are addressed by (file, position), the delete vector is a "
    "separate small relation, and the read path is scan + "
    "position-anti-join with NO base-file rewrite. Positions are "
    "synthesized deterministically (row_number per file over the "
    "stable sort key — the physical-order contract a real format "
    "gets from the file itself); the reconciliation output proves "
    "n_live + n_deleted = n_total per file and carries exact "
    "centi-cent sums so a position off by one breaks the hash. "
    "Scale: everything keys on file_id — one exchange, per-file "
    "state bounded by file size exactly as in a real table format.",
)
def d11_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.hashing import md5_long

    base = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        (F.col("l_orderkey") % 64).cast("long").alias("file_id"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("price_c"),
    )
    pos = pin(
        base.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("file_id").orderBy("ok", "ln")
            ),
        )
    )
    dv = pos.filter(
        md5_long(
            F.concat_ws(
                ":", F.col("ok").cast("string"), F.col("ln").cast("string")
            )
        )
        % 13
        == 0
    ).select("file_id", "pos")
    live = pos.join(dv, ["file_id", "pos"], "left_anti").select(
        "file_id", "price_c"
    )
    tot = pos.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    dele = dv.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_deleted")
    )
    lv = live.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        F.sum("price_c").cast("long").alias("live_price_c"),
    )
    return (
        tot.join(dele, "file_id", "left")
        .join(lv, "file_id", "left")
        .select(
            "file_id",
            "n_total",
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias(
                "n_deleted"
            ),
            F.coalesce("n_live", F.lit(0)).cast("long").alias("n_live"),
            F.coalesce("live_price_c", F.lit(0))
            .cast("long")
            .alias("live_price_c"),
        )
    )


@query(
    "d12_schema_merge",
    """
    SELECT (CASE WHEN event_id % 2 = 1 THEN event_type
            ELSE '__absent__' END) AS category,
           count(*) AS n,
           sum(round(value * 100)::BIGINT)::BIGINT AS cents_sum,
           count(CASE WHEN event_id % 2 = 0 THEN 1 END)::BIGINT
               AS n_null_category
    FROM events GROUP BY 1
    """,
    "Schema-evolution merge read (the lakehouse add-a-column case "
    "every long-lived table hits: old files lack the new column, new "
    "files carry it): two physical parquet generations — v1 written "
    "WITHOUT `category`, v2 WITH it — load through one "
    "mergeSchema=true scan that null-fills the missing column for v1 "
    "rows; the query audits the fill (per-category counts, exact cent "
    "sums, and the null count which must equal exactly the v1 row "
    "count). At 100 TB this is a footer-union schema resolution, not "
    "a data rewrite — the scan stays one pass and old files are never "
    "touched. The oracle derives the same result from the source "
    "table (even ids = v1 = absent category).",
)
def d12_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    base = tempfile.mkdtemp(prefix="d12_")
    ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "cents"
    ).write.mode("overwrite").parquet(f"{base}/v1")
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "cents", F.col("event_type").alias("category")
    ).write.mode("overwrite").parquet(f"{base}/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/v1", f"{base}/v2"
    )
    return merged.groupBy(
        F.coalesce(F.col("category"), F.lit("__absent__")).alias(
            "category"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.count(F.when(F.col("category").isNull(), 1))
        .cast("long")
        .alias("n_null_category"),
    )


@query(
    "d13_vacuum_plan",
    """
    WITH files AS (
        SELECT l_orderkey % 64 AS file_id, count(*) AS n_rows
        FROM lineitem GROUP BY 1
    ), meta AS (
        SELECT file_id, n_rows,
               (file_id % 5)::BIGINT AS added_snap,
               CASE WHEN file_id % 3 = 0
                    THEN (file_id % 5) + 1 + (file_id % 4)
                    ELSE NULL END AS removed_snap
        FROM files
    )
    SELECT (CASE WHEN removed_snap IS NULL THEN 'live'
                 WHEN removed_snap <= 6 THEN 'vacuum'
                 ELSE 'retained' END) AS status,
           count(*) AS n_files,
           count(*) AS n_paths,
           sum(n_rows)::BIGINT AS n_rows,
           min(file_id)::BIGINT AS min_file,
           max(file_id)::BIGINT AS max_file
    FROM meta GROUP BY 1
    """,
    "VACUUM planning (the lakehouse retention sweep that pairs with "
    "d10 time travel and d11 deletion vectors) over a REAL file "
    "inventory: lineitem is first WRITTEN as a partitioned lake (one "
    "parquet file per file_id — repartition(col) pins each key to one "
    "task), then the inventory is rebuilt from input_file_name() over "
    "the re-read — per-path row counts from actual files, not a "
    "synthetic %-bucket model (round-6, closing the r5 nit). Given "
    "per-file (added_snap, removed_snap) lineage and a retention "
    "floor (snapshots >= 6 of current 8 must stay reconstructable), a "
    "removed file is safe to delete iff NO retained snapshot "
    "references it — removed_snap <= floor; removed-but-referenced "
    "files are 'retained', never-removed files are 'live'. The oracle "
    "replays the partition rule; n_paths pins the one-file-per-"
    "partition invariant, so any split/duplicate physical layout "
    "hash-fails. At 100 TB the plan phase touches manifests only — "
    "one file-granular aggregation + pure metadata CASE logic.",
)
def d13_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_orderkey") % 64).alias("file_id")
    )
    base = tempfile.mkdtemp(prefix="d13_lake_")
    (
        li.repartition(F.col("file_id"))
        .write.partitionBy("file_id")
        .mode("overwrite")
        .parquet(base)
    )
    lake = spark.read.parquet(base)
    inv = (
        lake.select(F.input_file_name().alias("path"), "file_id")
        .groupBy("path", "file_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    files = inv.groupBy("file_id").agg(
        F.sum("n_rows").alias("n_rows"),
        F.countDistinct("path").alias("n_paths"),
    )
    added = (F.col("file_id") % 5).cast("long")
    removed = F.when(
        F.col("file_id") % 3 == 0,
        added + 1 + (F.col("file_id") % 4),
    )
    status = (
        F.when(removed.isNull(), "live")
        .when(removed <= 6, "vacuum")
        .otherwise("retained")
    )
    return files.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_paths").cast("long").alias("n_paths"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("file_id").cast("long").alias("min_file"),
        F.max("file_id").cast("long").alias("max_file"),
    )


# ---------------------------------------------------------------------------
# Human-activity dataset ETL (sources/activity.py) — the reference's
# user_tools/datasets/human_activity_dataset pipeline, oracled on a
# deterministic coded-sample fixture synthesized from `events` in BOTH
# engines (same portable seeded-md5 codes, same row counts).
# ---------------------------------------------------------------------------

def _e2_samples_sql() -> str:
    h = [
        seeded_md5_long_sql(
            "event_id::VARCHAR || ':' || g.i::VARCHAR", s
        )
        for s in (1, 2, 3)
    ]
    return f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               row_number() OVER (ORDER BY event_id) AS seq,
               160 + (event_id % 37) * 8 AS n
        FROM events WHERE event_id < 24
    ), samples AS (
        SELECT ('99999' || seq::VARCHAR)::BIGINT AS eid,
               'u' || user_id::VARCHAR AS user_tag,
               event_type AS label, g.i AS i,
               ({h[0]}) % 64 AS xc,
               ({h[1]}) % 64 AS yc,
               ({h[2]}) % 64 AS zc
        FROM ev, unnest(generate_series(0, n - 1)) AS g(i)
    ), binned AS (
        SELECT eid, user_tag, label, (i * 25) // 32 AS bin,
               avg(-1.5 + (xc / 63) * 3.0) AS xg,
               avg(-1.5 + (yc / 63) * 3.0) AS yg,
               avg(-1.5 + (zc / 63) * 3.0) AS zg
        FROM samples GROUP BY 1, 2, 3, 4
    ), kept AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, max(bin) OVER (PARTITION BY eid) + 1 AS n_bins
            FROM binned)
        WHERE bin < n_bins - (n_bins % 125)
    )"""


@query(
    "e2_activity_osdb_etl",
    _e2_samples_sql()
    + """
    SELECT eid AS event_id, bin + 1 AS row_id, user_tag, label,
           CAST(round((xg * 1000) * 1000000) AS BIGINT) AS x_u,
           CAST(round((yg * 1000) * 1000000) AS BIGINT) AS y_u,
           CAST(round((zg * 1000) * 1000000) AS BIGINT) AS z_u,
           CAST(round(sqrt((xg * 1000) * (xg * 1000)
                           + (yg * 1000) * (yg * 1000)
                           + (zg * 1000) * (zg * 1000))
                      * 1000000) AS BIGINT) AS mag_u
    FROM kept
    """,
    "Human-activity accelerometer ETL (reference user_tools/datasets/"
    "human_activity_dataset/activity_data_osdb_processor.py:12-91, the "
    "last unported reference capability): coded 0..63 values decode "
    "via -1.5 + (v/63)*3.0, the 32 Hz stream regrids to 25 Hz as an "
    "integer bin key (i*25) div 32 + groupBy-avg (the SQL twin of "
    "pandas resample('40ms').mean() — 1-2 samples per bin, so the mean "
    "is an exact IEEE chain), x1000 scaling, magnitude, eventId "
    "99999<seq>, and per-event truncation to a multiple of 125 rows "
    "(a max-bin window, no collect). Fixture: deterministic seeded-md5 "
    "coded samples synthesized from `events` identically in both "
    "engines, with per-event lengths varied to exercise 1- and 2-"
    "window truncation. Outputs are integer micro-units "
    "(CAST(round(v*1e6) AS BIGINT)) rather than rounded doubles: "
    "round(x, 6) can yield +0.0 (Spark BigDecimal HALF_UP) vs -0.0 "
    "(DuckDB keeps the sign) for a tiny negative — ==-equal but "
    "byte-distinct under the driver hash (the round-6 red, 27/3500 "
    "cells); the int cast kills the signed zero in both engines. At "
    "lake scale the regrid is one partial-aggregated shuffle keyed "
    "(event, bin); the txt ingest itself (wholetext + posexplode "
    "ordinals) is covered by pytest on real files.",
)
def e2_activity_osdb_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.activity import (
        activity_to_osdb,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 24)
        .select("event_id", "user_id", "event_type")
        .withColumn(
            "seq",
            F.row_number().over(Window.orderBy("event_id")),
        )
        .withColumn("n", F.lit(160) + (F.col("event_id") % 37) * 8)
    )
    key = F.concat_ws(":", F.col("event_id"), F.col("i"))
    samples = ev.select(
        F.concat(F.lit("99999"), F.col("seq").cast("string"))
        .cast("long")
        .alias("eid"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "user_tag"
        ),
        F.col("event_type").alias("label"),
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
        "event_id",
    ).select(
        "eid",
        "user_tag",
        "label",
        "i",
        (seeded_md5_long(key, 1) % 64).alias("xc"),
        (seeded_md5_long(key, 2) % 64).alias("yc"),
        (seeded_md5_long(key, 3) % 64).alias("zc"),
    )
    out = activity_to_osdb(samples, event_col="eid", idx_col="i")

    def micro(c: str) -> F.Column:
        return F.round(F.col(c) * 1000000, 0).cast("long")

    return out.select(
        F.col("eventId").alias("event_id"),
        F.col("Id").alias("row_id"),
        F.col("userId").alias("user_tag"),
        "label",
        micro("x").alias("x_u"),
        micro("y").alias("y_u"),
        micro("z").alias("z_u"),
        micro("magnitude").alias("mag_u"),
    )


@query(
    "e3_activity_windows",
    _e2_samples_sql()
    + """
    , osdb AS (
        SELECT eid, bin + 1 AS rid, user_tag, label,
               CAST(round((xg * 1000) * 1000000) AS BIGINT) AS xu,
               CAST(round((yg * 1000) * 1000000) AS BIGINT) AS yu,
               CAST(round((zg * 1000) * 1000000) AS BIGINT) AS zu,
               CAST(round(sqrt((xg * 1000) * (xg * 1000)
                               + (yg * 1000) * (yg * 1000)
                               + (zg * 1000) * (zg * 1000))
                          * 1000000) AS BIGINT) AS magu
        FROM kept
    ), wins AS (
        SELECT eid, user_tag, label, (rid - 1) // 125 AS w,
               array_to_string(list(magu ORDER BY rid), ',') AS mag_sig,
               array_to_string(flatten(list([xu, yu, zu] ORDER BY rid)),
                               ',') AS raw3d_sig,
               count(*) AS n
        FROM osdb GROUP BY 1, 2, 3, 4
    )
    SELECT eid AS event_id, user_tag, label, mag_sig, raw3d_sig,
           row_number() OVER (ORDER BY eid, w) AS win_id
    FROM wins WHERE n = 125
    """,
    "125-sample training-window restructure + global re-Id (reference "
    "data_restructurer.py:15-64 over the e2 ETL output): consecutive "
    "125-row chunks of each 25 Hz event collapse to one row holding "
    "the magnitude window and the interleaved x/y/z rawData3d window "
    "(375 values), with a fresh sequential window Id — the OSDB-to-"
    "training-tensor step. Spark side is a (event, window) groupBy "
    "with array_sort(collect_list(struct)) ordinals (no driver loop); "
    "the oracle replays it with ordered list() aggregates. The window "
    "contents project as comma-joined micro-int STRINGS, not array "
    "columns: the driver canonicalizer pandas-sorts over all columns "
    "and crashes on list cells (the round-6 e3 red) — the string "
    "encoding pins the same contract (window membership, intra-window "
    "order, interleave layout) in a driver-sortable scalar. Incomplete "
    "tails are impossible post-truncation but guarded anyway (n=125 "
    "filter).",
)
def e3_activity_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.activity import (
        restructure_windows,
    )

    osdb = e2_activity_osdb_etl(spark, sf_dir).select(
        F.col("event_id").alias("eventId"),
        F.col("row_id").alias("Id"),
        F.col("user_tag").alias("userId"),
        "label",
        F.col("x_u").alias("x"),
        F.col("y_u").alias("y"),
        F.col("z_u").alias("z"),
        F.col("mag_u").alias("magnitude"),
    )
    w = restructure_windows(osdb)
    sig = lambda c: F.concat_ws(",", F.col(c).cast("array<string>"))  # noqa: E731
    return w.select(
        F.col("eventId").alias("event_id"),
        F.col("userId").alias("user_tag"),
        "label",
        sig("magnitude").alias("mag_sig"),
        sig("rawData3d").alias("raw3d_sig"),
        F.col("Id").alias("win_id"),
    )


@query(
    "e4_activity_combined",
    _e2_samples_sql()
    + """
    , osdb AS (
        SELECT eid, bin + 1 AS rid, user_tag, label,
               CAST(round((xg * 1000) * 1000000) AS BIGINT) AS x_u,
               CAST(round((yg * 1000) * 1000000) AS BIGINT) AS y_u,
               CAST(round((zg * 1000) * 1000000) AS BIGINT) AS z_u,
               CAST(round(sqrt((xg * 1000) * (xg * 1000)
                               + (yg * 1000) * (yg * 1000)
                               + (zg * 1000) * (zg * 1000))
                          * 1000000) AS BIGINT) AS mag_u
        FROM kept
    ), tagged AS (
        SELECT *, CASE WHEN eid % 2 = 0 THEN 0 ELSE 1 END AS src
        FROM osdb
    )
    SELECT eid AS event_id,
           row_number() OVER (ORDER BY src, eid, rid) AS row_id,
           user_tag, label, x_u, y_u, z_u, mag_u
    FROM tagged
    """,
    "Seizure-sample + activity dataset combine (reference "
    "dataset_generator.py:11-49, the third file of the human-activity "
    "trio): two OSDB-format frames concatenate at the ROW level — "
    "df1's rows keep their relative (event, sample) order ahead of "
    "df2's — and the global Id re-sequences from 1 "
    "(sources/activity.combine_datasets as one rank over (src, event, "
    "original id); the reference's index+1 over an ordered concat). "
    "Fixture: e2's ETL output split by event parity plays the two "
    "input datasets; the hash pins the concat order and the gapless "
    "re-Id. The global row_number is the documented sequential-Id "
    "cost — at lake scale the production form is zipWithIndex-style "
    "per-partition offsets (m1's documented pattern); the semantic "
    "contract (order + gaplessness) is what this entry gates.",
)
def e4_activity_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.sources.activity import (
        combine_datasets,
    )

    osdb = e2_activity_osdb_etl(spark, sf_dir).select(
        F.col("event_id").alias("eventId"),
        F.col("row_id").alias("Id"),
        F.col("user_tag").alias("userId"),
        "label",
        F.col("x_u").alias("x"),
        F.col("y_u").alias("y"),
        F.col("z_u").alias("z"),
        F.col("mag_u").alias("magnitude"),
    )
    a = osdb.filter(F.col("eventId") % 2 == 0)
    b = osdb.filter(F.col("eventId") % 2 == 1)
    out = combine_datasets(a, b)
    return out.select(
        F.col("eventId").alias("event_id"),
        F.col("Id").alias("row_id"),
        F.col("userId").alias("user_tag"),
        "label",
        F.col("x").alias("x_u"),
        F.col("y").alias("y_u"),
        F.col("z").alias("z_u"),
        F.col("magnitude").alias("mag_u"),
    )


_E5_AGG = """
    SELECT '{stage}' AS stage, type, subType, descr, has_st,
           count(*) AS n,
           count(DISTINCT userId)::BIGINT AS n_users,
           sum(eventNum)::BIGINT AS id_sum,
           (2 * count(*))::BIGINT AS n_dps,
           sum(round(hr_a * 100)::BIGINT
               + round(hr_b * 100)::BIGINT)::BIGINT AS hr_units,
           min(dataTime) AS min_dt, max(dataTime) AS max_dt
    FROM edited {where}
    GROUP BY type, subType, descr, has_st
"""


@query(
    "e5_working_db_roundtrip",
    """
    WITH src AS (
        SELECT event_id, user_id, event_type, ts,
               round(value, 2) AS hr0
        FROM events WHERE event_id < 3500
    ), docs AS (
        SELECT 'e' || event_id::VARCHAR AS id,
               user_id AS userId,
               event_type AS type,
               's' || (event_id % 3)::VARCHAR AS subType,
               CASE WHEN event_id >= 2900 THEN 're-added'
                    ELSE 'orig' END AS descr,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS dataTime,
               event_id AS eventNum,
               hr0 + CASE WHEN event_id >= 2900 THEN 10.0
                          ELSE 0.0 END AS hr_a
        FROM src
    ), edited AS (
        SELECT id, userId,
               CASE WHEN eventNum % 10 = 7 THEN 'Seizure'
                    ELSE type END AS type,
               CASE WHEN eventNum % 10 = 7 THEN 'TC'
                    ELSE subType END AS subType,
               CASE WHEN eventNum % 10 = 7 THEN 'curated'
                    ELSE descr END AS descr,
               (eventNum % 10 = 7) AS has_st,
               dataTime, eventNum, hr_a, hr_a + 1.0 AS hr_b
        FROM docs WHERE eventNum % 13 != 0
    )
    """
    + _E5_AGG.format(stage="export", where="")
    + " UNION ALL "
    + _E5_AGG.format(
        stage="range",
        where="WHERE dataTime >= '2024-01-01 06:00:00'"
        " AND dataTime <= '2024-01-02 00:00:00'",
    )
    + " UNION ALL "
    + _E5_AGG.format(stage="point", where="WHERE id IN ('e1', 'e777')")
    + """
    UNION ALL
    SELECT 'stats' AS stage, '~' AS type, '~' AS subType, '~' AS descr,
           FALSE AS has_st,
           count(*) AS n, count(DISTINCT userId)::BIGINT AS n_users,
           3::BIGINT AS id_sum, (2 * count(*))::BIGINT AS n_dps,
           0::BIGINT AS hr_units,
           min(dataTime) AS min_dt, max(dataTime) AS max_dt
    FROM edited
    """,
    "SQLite working-DB round-trip (reference curator_tools/"
    "makeOsdDb_refactor/src/osdb_sqlite.py:1-911 OsdWorkingDb — the "
    "last unported reference capability): the FULL curator lifecycle "
    "runs against sources/working_db.OsdWorkingLake, a versioned-"
    "snapshot parquet store. Script: (v0) import_from_json of 2900 "
    "nested OSDB events written through the real NDJSON sink, with "
    "MIXED dataTime formats (ISO-Z / dd-MM-yyyy) normalized by the "
    "reference's strptime-cascade as built-in expressions; (v1) "
    "add_events of 600 docs, 100 of which UPSERT existing ids "
    "(INSERT OR REPLACE + datapoint cascade, as anti-join not driver "
    "loop); (v2) apply_edits — the batch update_event — retyping "
    "every eventNum%10==7 to Seizure/TC/curated with seizureTimes "
    "set; (v3) remove_events of eventNum%13==0 with datapoint "
    "cascade. Each mutation commits copy-on-write and publishes via "
    "an atomic _LATEST pointer swap (crash-safe, like the SQLite "
    "journal). Checked read paths: indexed dataTime range query "
    "(stage=range), point lookup by id (stage=point), export_to_json "
    "read BACK through the JSON schema (stage=export), and "
    "get_statistics (stage=stats; id_sum carries the committed "
    "version number 3). The oracle replays all four stages' "
    "semantics over the same fixture; nested datapoint content rides "
    "the integer hr_units sum.",
)
def e5_working_db_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from openseizuredatabase_spark.sources.sinks import write_events_json
    from openseizuredatabase_spark.sources.working_db import OsdWorkingLake

    ddl = (
        "id string, userId bigint, type string, subType string, "
        "desc string, dataTime string, eventNum bigint, "
        "seizureTimes string, "
        "datapoints array<struct<dataTime: string, hr: double>>"
    )

    def mk_docs(df: DataFrame, delta: float, desc_col: str) -> DataFrame:
        rawdt = F.when(
            F.col("event_id") % 2 == 0,
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        ).otherwise(F.date_format("ts", "dd-MM-yyyy HH:mm:ss"))
        hr_a = F.round(F.col("value"), 2) + F.lit(delta)
        dp = lambda t, hr: F.struct(  # noqa: E731
            F.date_format(t, "yyyy-MM-dd HH:mm:ss").alias("dataTime"),
            hr.alias("hr"),
        )
        return df.select(
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias(
                "id"
            ),
            F.col("user_id").alias("userId"),
            F.col("event_type").alias("type"),
            F.concat(
                F.lit("s"), (F.col("event_id") % 3).cast("string")
            ).alias("subType"),
            F.lit("orig" if delta == 0.0 else "re-added").alias(desc_col),
            rawdt.alias("dataTime"),
            F.col("event_id").alias("eventNum"),
            F.lit(None).cast("string").alias("seizureTimes"),
            F.array(
                dp(F.col("ts"), hr_a),
                dp(
                    F.col("ts") + F.expr("INTERVAL 5 SECONDS"),
                    hr_a + F.lit(1.0),
                ),
            ).alias("datapoints"),
        )

    ev = _t(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="e5_wdb_")
    db = OsdWorkingLake(spark, root)

    # v0: import 2900 events through the real JSON sink + schema reader
    json_in = tempfile.mkdtemp(prefix="e5_json_in_")
    write_events_json(
        mk_docs(ev.filter(F.col("event_id") < 2900), 0.0, "desc"), json_in
    )
    db.import_from_json(json_in, ddl)
    # v1: upsert-add — 100 replacements (2900 <= id < 3000 were NOT
    # imported above, so make the overlap real: re-import 2800-2899
    # as 're-added' alongside the fresh 2900-3499)
    db.add_events(
        mk_docs(
            ev.filter(
                (F.col("event_id") >= 2900) & (F.col("event_id") < 3500)
            ),
            10.0,
            "descr",
        )
    )
    # v2: batch curator edit (update_event at scale)
    edits = ev.filter(
        (F.col("event_id") < 3500) & (F.col("event_id") % 10 == 7)
    ).select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("id"),
        F.lit("Seizure").alias("type"),
        F.lit("TC").alias("subType"),
        F.lit("curated").alias("descr"),
        F.lit("[1.5, 3.0]").alias("seizureTimes"),
    )
    db.apply_edits(edits)
    # v3: remove with datapoint cascade (deterministic id list)
    db.remove_events([f"e{i}" for i in range(0, 3500, 13)])

    hr_units = F.aggregate(
        F.col("datapoints"),
        F.lit(0).cast("long"),
        lambda a, d: a + F.round(d["hr"] * 100, 0).cast("long"),
    )

    def stage_agg(df: DataFrame, stage: str, desc_col: str) -> DataFrame:
        return (
            df.select(
                "type",
                "subType",
                F.col(desc_col).alias("descr"),
                F.col("seizureTimes").isNotNull().alias("has_st"),
                "userId",
                "eventNum",
                "dataTime",
                F.size("datapoints").alias("_ndp"),
                hr_units.alias("_hru"),
            )
            .groupBy("type", "subType", "descr", "has_st")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("userId").alias("n_users"),
                F.sum("eventNum").alias("id_sum"),
                F.sum("_ndp").cast("long").alias("n_dps"),
                F.sum("_hru").alias("hr_units"),
                F.min("dataTime").alias("min_dt"),
                F.max("dataTime").alias("max_dt"),
            )
            .select(
                F.lit(stage).alias("stage"),
                "type", "subType", "descr", "has_st", "n", "n_users",
                "id_sum", "n_dps", "hr_units", "min_dt", "max_dt",
            )
        )

    # read paths: export→JSON→back, indexed range scan, point lookup
    json_out = tempfile.mkdtemp(prefix="e5_json_out_")
    db.export_to_json(json_out)
    back = spark.read.schema(ddl).json(json_out)
    rng = db.get_events(
        start_time="2024-01-01T06:00:00Z",
        end_time="2024-01-02 00:00:00",
        include_datapoints=True,
    )
    pt = db.get_events(event_ids=["e1", "e777"], include_datapoints=True)
    st = db.get_statistics()
    from openseizuredatabase_spark.functions.literal import literal_df

    stats = literal_df(
        spark,
        [(
            "stats", "~", "~", "~", False,
            st["total_events"], st["unique_users"],
            st["version"], st["total_datapoints"], 0,
            st["time_range"]["start"], st["time_range"]["end"],
        )],
        "stage string, type string, subType string, descr string, "
        "has_st boolean, n long, n_users long, id_sum long, "
        "n_dps long, hr_units long, min_dt string, max_dt string",
    )
    return (
        stage_agg(back, "export", "desc")
        .unionByName(stage_agg(rng, "range", "descr"))
        .unionByName(stage_agg(pt, "point", "descr"))
        .unionByName(stats)
    )


@query(
    "z5_overlap_depth",
    """
    WITH files AS (
        SELECT CAST(ts AS DATE) AS d, event_type,
               min(round(value * 100)::BIGINT) AS lo,
               max(round(value * 100)::BIGINT) AS hi
        FROM events GROUP BY 1, 2
    ), ends AS (
        SELECT d, lo AS pos, 1 AS delta FROM files
        UNION ALL
        SELECT d, hi + 1 AS pos, -1 AS delta FROM files
    ), per_pos AS (
        SELECT d, pos, sum(delta)::BIGINT AS dd
        FROM ends GROUP BY d, pos
    ), sweep AS (
        SELECT d, pos,
               sum(dd) OVER (PARTITION BY d ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS depth
        FROM per_pos
    )
    SELECT s.d, f.n_files, max(s.depth)::BIGINT AS max_depth,
           f.span_lo, f.span_hi
    FROM sweep s
    JOIN (SELECT d, count(*)::BIGINT AS n_files,
                 min(lo)::BIGINT AS span_lo, max(hi)::BIGINT AS span_hi
          FROM files GROUP BY d) f USING (d)
    GROUP BY s.d, f.n_files, f.span_lo, f.span_hi
    """,
    "Zone-map OVERLAP DEPTH — the clustering-health metric behind "
    "Delta/Iceberg OPTIMIZE prioritization (completes the z-family: "
    "z1/z2 build layouts, z3 audits skipping, z4 scores locality; "
    "this measures WHY skipping degrades): per day, each simulated "
    "file's [min, max] value interval enters an endpoint sweep "
    "(+1 at lo, -1 at hi+1, integer cents), and the running sum's "
    "peak is the maximum number of files any point predicate must "
    "scan — depth 1 is perfectly clustered, depth = n_files is fully "
    "overlapped (the compaction trigger). One aggregation to build "
    "zone maps (metadata-sized), one per-day ordered window over "
    "2 x n_files endpoint rows — the sweep runs on MANIFEST rows, "
    "never data, so at 100 TB it costs what listing the day costs.",
)
def z5_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    files = ev.groupBy("d", "event_type").agg(
        F.min("c").alias("lo"), F.max("c").alias("hi")
    )
    ends = files.select(
        "d", F.col("lo").alias("pos"), F.lit(1).alias("delta")
    ).unionByName(
        files.select(
            "d", (F.col("hi") + 1).alias("pos"), F.lit(-1).alias("delta")
        )
    )
    per_pos = ends.groupBy("d", "pos").agg(
        F.sum("delta").cast("long").alias("dd")
    )
    sweep = per_pos.withColumn(
        "depth",
        F.sum("dd").over(
            Window.partitionBy("d")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    meta = files.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.min("lo").cast("long").alias("span_lo"),
        F.max("hi").cast("long").alias("span_hi"),
    )
    return (
        sweep.join(meta, "d")
        .groupBy("d", "n_files", "span_lo", "span_hi")
        .agg(F.max("depth").cast("long").alias("max_depth"))
        .select("d", "n_files", "max_depth", "span_lo", "span_hi")
    )


@query(
    "d15_partition_evolution",
    """
    WITH a AS (
        SELECT CAST(ts AS DATE) AS d, count(*)::BIGINT AS n1
        FROM events WHERE event_id % 2 = 0 GROUP BY 1
    ), b AS (
        SELECT CAST(ts AS DATE) AS d, count(*)::BIGINT AS n2,
               count(DISTINCT event_type)::BIGINT AS files2
        FROM events WHERE event_id % 2 = 1 GROUP BY 1
    )
    SELECT a.d, a.n1, b.n2, 1::BIGINT AS files1, b.files2,
           (a.n1 + b.n2)::BIGINT AS n_total
    FROM a JOIN b USING (d)
    WHERE a.d < DATE '2024-01-06'
    """,
    "Partition-spec EVOLUTION (the Iceberg v2 capability every "
    "long-lived lake needs: old files keep their old layout, new "
    "files use the new one, and one logical table reads across both): "
    "half the events are written day-partitioned (spec 1), half "
    "day+type-partitioned (spec 2, one file per leaf), then a "
    "day-ranged query reads BOTH specs, reconciles the partition-"
    "column schemas (spec 2's event_type lives in the directory, not "
    "the data), and reports per-day row counts and files-touched per "
    "spec from input_file_name() over the actually-read files. The "
    "oracle replays the partition rules — files1 = 1 per day, files2 "
    "= distinct types that day — so a wrong layout, a failed spec "
    "reconciliation, or pruning that reads beyond the day range all "
    "hash-fail. At 100 TB both reads prune on the shared day "
    "prefix; the reconciliation is schema work, not data work.",
)
def d15_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    base = tempfile.mkdtemp(prefix="d15_lake_")
    # write width by the rows rule over footer metadata (no job): the
    # one-file-per-leaf invariant only needs each partition VALUE to
    # land in one task, which any hash width preserves
    n_rows, _ = tables.table_meta(sf_dir, "events", spark)
    w = rows_width(spark, n_rows)
    (
        ev.filter(F.col("event_id") % 2 == 0)
        .repartition(w, F.col("d"))
        .write.partitionBy("d")
        .mode("overwrite")
        .parquet(f"{base}/spec1")
    )
    (
        ev.filter(F.col("event_id") % 2 == 1)
        .repartition(w, F.col("d"), F.col("event_type"))
        .write.partitionBy("d", "event_type")
        .mode("overwrite")
        .parquet(f"{base}/spec2")
    )
    cut = F.lit("2024-01-06").cast("date")
    s1 = (
        spark.read.parquet(f"{base}/spec1")
        .filter(F.col("d") < cut)
        .withColumn("_f", F.input_file_name())
    )
    s2 = (
        spark.read.parquet(f"{base}/spec2")
        .filter(F.col("d") < cut)
        .withColumn("_f", F.input_file_name())
    )
    g1 = s1.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.countDistinct("_f").cast("long").alias("files1"),
    )
    g2 = s2.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n2"),
        F.countDistinct("_f").cast("long").alias("files2"),
    )
    return g1.join(g2, "d").select(
        "d",
        "n1",
        "n2",
        "files1",
        "files2",
        (F.col("n1") + F.col("n2")).cast("long").alias("n_total"),
    )


@query(
    "d16_skew_audit",
    """
    WITH per_key AS (
        SELECT user_id, count(*)::BIGINT AS n
        FROM events GROUP BY user_id
    ), hist AS (
        SELECT n, count(*)::BIGINT AS keys FROM per_key GROUP BY n
    ), med AS (
        -- exact lower-median key size from the size histogram
        SELECT min(n) AS p50_n FROM (
            SELECT n, sum(keys) OVER (ORDER BY n) AS cum,
                   sum(keys) OVER () AS nk
            FROM hist
        ) WHERE cum * 2 >= nk
    ), tot AS (
        -- sum_sq and the n_keys*sum_sq product stay in DOUBLE: a hot
        -- key near 3e9 rows puts n*n at ~9e18 (int64 overflow — DuckDB
        -- would error, Spark would wrap) and the product far beyond;
        -- only the 1e6-rounded ratio is emitted, so double drift is
        -- absorbed (round-8 ADVICE fix)
        SELECT count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows,
               max(n)::BIGINT AS max_n,
               sum(n::DOUBLE * n::DOUBLE) AS sum_sq
        FROM per_key
    ), hot AS (
        SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id)
                   AS rank
        FROM per_key
    )
    SELECT hot.rank, hot.user_id AS hot_key, hot.n AS hot_n,
           tot.n_keys, tot.n_rows, tot.max_n, med.p50_n,
           CAST(round(tot.max_n / med.p50_n::DOUBLE * 1000000) AS BIGINT)
               AS skew_ratio_micro,
           CAST(round(tot.n_keys::DOUBLE * tot.sum_sq
                / (tot.n_rows::DOUBLE * tot.n_rows::DOUBLE) * 1000000)
               AS BIGINT) AS imbalance_micro,
           (tot.max_n * 5 > tot.n_rows) AS salting_recommended
    FROM hot, tot, med
    WHERE hot.rank <= 3
    """,
    "Shuffle-key skew audit (the pre-flight every big join/groupBy at "
    "lake scale needs before choosing salting / AQE skew-join): per "
    "key-column, the hottest keys, the max/median key-size ratio "
    "(median EXACT from the key-size histogram — rows never sort "
    "globally), and the normalized second moment "
    "n_keys*sum(n^2)/n_rows^2 (= 1 for perfectly uniform keys, -> "
    "n_keys for one hot key — the expected shuffle-partition "
    "imbalance factor under hash partitioning). A key owning > 20 "
    "percent of all rows flags salting_recommended: no partitioning "
    "scheme fixes a single-key majority without splitting the key "
    "(tests/test_salting_proof.py executes the fix: hashed salt "
    "spreads the hot partition and the two-stage aggregate stays "
    "value-identical). "
    "One map-side-combined count pass; every downstream frame is "
    "key-histogram-sized.",
)
def d16_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_key = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    hist = per_key.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("keys")
    )
    med = (
        hist.select(
            "n",
            F.sum("keys").over(Window.orderBy("n")).alias("cum"),
            F.sum("keys").over(
                Window.orderBy("n").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("nk"),
        )
        .filter(F.col("cum") * 2 >= F.col("nk"))
        .agg(F.min("n").alias("p50_n"))
    )
    # sum_sq in double end to end — int64 would overflow at ~3e9-row hot
    # keys, exactly the lake-scale scenario this audit exists for
    tot = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_n"),
        F.sum(
            F.col("n").cast("double") * F.col("n").cast("double")
        ).alias("sum_sq"),
    )
    hot = per_key.select(
        F.col("user_id").alias("hot_key"),
        F.col("n").alias("hot_n"),
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("user_id")))
        .alias("rank"),
    ).filter(F.col("rank") <= 3)
    out = hot.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(med))
    return out.select(
        "rank", "hot_key", "hot_n", "n_keys", "n_rows", "max_n", "p50_n",
        F.round(
            F.col("max_n") / F.col("p50_n").cast("double") * 1000000, 0
        ).cast("long").alias("skew_ratio_micro"),
        F.round(
            F.col("n_keys").cast("double")
            * F.col("sum_sq")
            / (F.col("n_rows").cast("double") * F.col("n_rows").cast("double"))
            * 1000000,
            0,
        ).cast("long").alias("imbalance_micro"),
        (F.col("max_n") * 5 > F.col("n_rows")).alias("salting_recommended"),
    )


# ---------------------------------------------------------------------------
# makeOsdDb_refactor curator operators (SURVEY §2.12): merge-datapoints
# proximity grouping, field-hash event dedup, validation-rule batch
# report, datetime normalization census.
# ---------------------------------------------------------------------------

from openseizuredatabase_spark.plans.q_shared import tolerance_walk_sql

_D17_THRESH_MS = 3_600_000  # per-user 1 h chains (see docstring)
WALK = tolerance_walk_sql("user_id, group_id")
_D17_PREC_ALARM = (
    "(CASE WHEN is_existing THEN 0 ELSE 1 END), -alarm_state, "
    "-(CASE WHEN trim(d0) <> '' THEN 1 ELSE 0 END), t_ms, event_id"
)
# select_best_event_from_group 'most_datapoints' (event_grouping.py:
# 208-212): existing events outrank, then max datapoint count; Python's
# max keeps the FIRST maximum = earliest (t_ms, event_id).
_D17_PREC_MOSTDP = (
    "(CASE WHEN is_existing THEN 0 ELSE 1 END), -n_dp, t_ms, event_id"
)
_D17_ORACLE = f"""
    WITH RECURSIVE ev AS (
        SELECT event_id, user_id, event_type,
               epoch_ms(ts)::BIGINT AS t_ms,
               CASE WHEN value > 150 THEN 2 WHEN value > 120 THEN 1
                    ELSE 0 END AS alarm_state,
               (event_id % 5 = 0) AS is_existing,
               CASE WHEN event_id % 7 = 0 THEN 'seizure noted'
                    WHEN event_id % 7 = 3 THEN 'checked.'
                    ELSE '' END AS d0,
               (2 + event_id % 3)::BIGINT AS n_dp
        FROM events
    ), grp AS MATERIALIZED (
        SELECT *, (sum(CASE WHEN gap_ms IS NULL
                             OR gap_ms > {_D17_THRESH_MS} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY t_ms, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1)::BIGINT AS group_id
        FROM (SELECT *, t_ms - lag(t_ms) OVER (
                  PARTITION BY user_id ORDER BY t_ms, event_id) AS gap_ms
              FROM ev)
    ), sel AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id, group_id
                   ORDER BY {{PREC}}) AS rn,
               count(*) OVER (PARTITION BY user_id, group_id)::BIGINT
                   AS n_members
        FROM grp
    ), ids AS (
        SELECT user_id, group_id, list(event_id::VARCHAR) AS id_strs
        FROM grp GROUP BY 1, 2
    ), dps AS (
        SELECT g.user_id, g.group_id,
               (g.t_ms - (g.t_ms % 300000)) + i.i * 300000
                   + (g.event_id % 7) * 25 AS dp_t,
               g.event_id * 10 + i.i AS dp_v
        FROM grp g, unnest(generate_series(0, g.n_dp - 1)) AS i(i)
    ), gdp AS (
        SELECT user_id, group_id, count(*)::BIGINT AS n_dp_before,
               sum(dp_t)::BIGINT AS raw_t, sum(dp_v)::BIGINT AS raw_v
        FROM dps GROUP BY 1, 2
    ), {WALK}
    SELECT s.user_id, s.group_id, s.event_id AS rep_event_id, s.event_type,
           s.n_members, g.n_dp_before,
           CASE WHEN s.n_members > 1 THEN f.n
                ELSE g.n_dp_before END AS n_dp_after,
           CASE WHEN s.n_members > 1 THEN f.t_sum
                ELSE g.raw_t END AS dp_t_sum,
           CASE WHEN s.n_members > 1 THEN f.v_sum
                ELSE g.raw_v END AS dp_v_sum,
           CASE WHEN s.n_members > 1 THEN array_to_string(list_sort(
               list_filter(i.id_strs, x -> x <> s.event_id::VARCHAR)), ', ')
           END AS merged_ids,
           CASE WHEN s.n_members = 1 THEN s.d0
                ELSE (CASE WHEN s.d0 = '' THEN ''
                           WHEN s.d0 LIKE '%.' THEN s.d0 || ' '
                           ELSE s.d0 || '. ' END)
                     || 'Includes data from merged event(s): '
                     || array_to_string(list_sort(list_filter(
                            i.id_strs, x -> x <> s.event_id::VARCHAR)), ', ')
           END AS desc_out
    FROM sel s
    JOIN gdp g ON g.user_id = s.user_id AND g.group_id = s.group_id
    JOIN folded f ON f.user_id = s.user_id AND f.group_id = s.group_id
    JOIN ids i ON i.user_id = s.user_id AND i.group_id = s.group_id
    WHERE s.rn = 1
"""


@query(
    "d17_merge_grouped",
    _D17_ORACLE.replace("{PREC}", _D17_PREC_ALARM),
    "makeOsdDb_refactor merge-datapoints proximity grouping "
    "(event_grouping.py:223-341 apply_sliding_window_grouping): gap-chain "
    "events per key, pick the alarm_first representative (existing-event "
    "priority, then -alarmState, -has_desc, time — :177-221), concatenate "
    "the group's datapoints time-sorted and drop near-dups within 100 ms "
    "of the last KEPT point (:34-83 — a sequential fold, not a lag "
    "filter; dp grid+jitter synthesis makes 0/75/150-style runs that "
    "would break a lag filter), annotate desc with the string-sorted "
    "merged ids (:101-119) and carry provenance. Engine: ONE shuffle on "
    "(user, chain) does selection (min_by) + merge (flatten/array_sort/"
    "F.aggregate fold, all JVM-side); this query parameterizes the "
    "operator at per-user keying / 1 h threshold so the synthetic lake "
    "exercises multi-member merges (the reference (userId,type)/3 min "
    "keying is pinned by tests/test_curator_refactor_parity.py literal "
    "ports). Oracle: the same chain/precedence/fold in DuckDB window SQL "
    "+ a recursive-CTE fold (q_shared.tolerance_walk_sql; DuckDB 1.0's "
    "list_reduce proved flaky in big pipelines). 100 TB shape: group "
    "size bounded by the proximity "
    "chain, never the table; no driver collect.",
)
def d17_merge_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merge_grouped_query(spark, sf_dir, "alarm_first")


def _merge_grouped_query(
    spark: SparkSession, sf_dir: str, strategy: str
) -> DataFrame:
    from openseizuredatabase_spark.operators import curator as cur

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
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
    ).drop("n_dp")

    merged = cur.merge_proximity_groups(
        ev,
        ["user_id"],
        ts_col="t_ms",
        id_col="event_id",
        alarm_col="alarm_state",
        desc_col="desc",
        dp_col="datapoints",
        dp_time_field="t",
        threshold=_D17_THRESH_MS,  # unit-agnostic: t_ms is epoch-millis
        tolerance_ms=100,
        existing_col="is_existing",
        keep_group_id=True,
        with_dp_totals=True,
        strategy=strategy,
    )
    ids = F.col("_merged_from_event_ids")
    others = F.array_sort(
        F.transform(
            F.filter(ids, lambda i: i != F.col("event_id")),
            lambda i: i.cast("string"),
        )
    )
    zero = F.lit(0).cast("long")
    return merged.select(
        "user_id",
        F.col("group_id").cast("long").alias("group_id"),
        F.col("event_id").alias("rep_event_id"),
        "event_type",
        F.coalesce("_merged_event_count", F.lit(1))
        .cast("long")
        .alias("n_members"),
        F.col("_group_dp_count_before").alias("n_dp_before"),
        F.size("datapoints").cast("long").alias("n_dp_after"),
        F.aggregate(
            "datapoints", zero, lambda a, x: a + x["t"]
        ).alias("dp_t_sum"),
        F.aggregate(
            "datapoints", zero, lambda a, x: a + x["v"]
        ).alias("dp_v_sum"),
        F.when(ids.isNotNull(), F.array_join(others, ", ")).alias(
            "merged_ids"
        ),
        F.col("desc").alias("desc_out"),
    )


_D18_FIELDS = [
    ("id", "num"),
    ("userId", "num"),
    ("dataTime", "str"),
    ("type", "str"),
]


def _d18_hash_sql() -> str:
    from openseizuredatabase_spark.operators.curator import (
        event_field_hash_sql,
    )

    return event_field_hash_sql(_D18_FIELDS)


@query(
    "d18_field_hash_dedup",
    f"""
    WITH base AS (
        SELECT event_id AS id, user_id AS userId,
               strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS dataTime,
               event_type AS type, event_id * 2 AS pos
        FROM events
    ), allv AS (
        SELECT * FROM base
        UNION ALL
        SELECT id, userId, dataTime, type, id * 2 + 1 AS pos
        FROM base WHERE id % 13 = 0
    ), hashed AS (
        SELECT *, {_d18_hash_sql()} AS event_hash FROM allv
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_hash
                                     ORDER BY pos) AS rn,
               count(*) OVER (PARTITION BY event_hash)::BIGINT AS n_copies
        FROM hashed
    )
    SELECT id AS event_id, n_copies, substr(event_hash, 1, 16) AS h16
    FROM ranked WHERE rn = 1
    """,
    "makeOsdDb_refactor field-hash event dedup "
    "(event_deduplication.py:16-173): md5 over the canonical sorted-key "
    "JSON of (id, userId, dataTime, type) — the byte string is built "
    "with explicit concat on BOTH sides (never an engine JSON "
    "serializer, whose spacing differs), NULL fields dropping out like "
    "the reference's `if field in event`. Re-downloaded copies "
    "(id%13==0 re-ingested at a later position) collapse keep-first by "
    "explicit input position. One shuffle on the uniform 32-hex digest; "
    "h16 pins cross-engine md5 byte equality per row.",
)
def d18_field_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators import curator as cur

    base = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("userId"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("dataTime"),
        F.col("event_type").alias("type"),
        (F.col("event_id") * 2).alias("pos"),
    )
    dups = base.filter(F.col("id") % 13 == 0).withColumn(
        "pos", F.col("id") * 2 + 1
    )
    kept = cur.dedup_by_field_hash(
        base.unionByName(dups), _D18_FIELDS, pos_col="pos", keep="first"
    )
    return kept.select(
        F.col("id").alias("event_id"),
        "n_copies",
        F.substring("event_hash", 1, 16).alias("h16"),
    )


@query(
    "e6_validation_report",
    """
    WITH ev AS (
        SELECT event_id AS id,
               CASE WHEN event_id % 11 = 0 THEN NULL
                    ELSE user_id END AS userId,
               event_type AS type,
               CASE WHEN event_id % 23 = 0 THEN NULL
                    WHEN value > 150 THEN 2 WHEN value > 120 THEN 1
                    ELSE 0 END AS osdAlarmState,
               CASE WHEN event_id % 13 = 0 THEN NULL
                    WHEN event_id % 17 = 0 THEN '7'
                    ELSE CASE event_id % 4 WHEN 0 THEN '[]'
                         WHEN 1 THEN '[{"t": 1, "v": 2}]'
                         WHEN 2 THEN '[{"t": 1, "v": 2}, {"t": 3, "v": 4}]'
                         ELSE '[1, 2, 3]' END END AS dp_json,
               (event_id % 19 = 0) AS cfg_invalid
        FROM events
    ), tagged AS (
        SELECT id, coalesce(
            CASE WHEN cfg_invalid THEN 'marked_invalid_in_config'
                 WHEN userId IS NULL OR type IS NULL
                      OR osdAlarmState IS NULL
                      THEN 'Missing required fields'
                 WHEN dp_json IS NULL
                      THEN 'Event has no datapoints field'
                 WHEN dp_json NOT LIKE '[%'
                      THEN 'Event datapoints is not a list'
                 WHEN json_array_length(dp_json) < 2
                      THEN 'Event has insufficient datapoints'
            END, 'valid') AS reason
        FROM ev
    )
    SELECT reason, count(*)::BIGINT AS n, sum(id)::BIGINT AS id_sum
    FROM tagged GROUP BY reason
    """,
    "makeOsdDb_refactor validation-rule batch "
    "(event_validation.py:70-199): the validate_event rule cascade in "
    "reference precedence (config-invalid list → missing required "
    "fields → no datapoints field → datapoints not a list → "
    "insufficient datapoints; validate_event raises at the FIRST "
    "failure) tagged per event, rolled to the per-reason count report "
    "of validate_events_batch. Defects injected deterministically "
    "(userId/osdAlarmState NULLed, dp_json missing / bare-count / "
    "empty); the config list is the broadcast-membership flag. The "
    "datapoint count is the PARSED top-level element count (reference "
    "counts len() of the parsed list, event_validation.py:117): the "
    "%4==1 branch is ONE object element whose internal comma would make "
    "any textual comma count read 2 — at min_datapoints=2 it must land "
    "in 'insufficient', which only a real JSON parse gets right. One "
    "conditional-aggregation pass; reasons pinned byte-exact.",
)
def e6_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators import curator as cur

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 11 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("userId"),
        F.col("event_type").alias("type"),
        F.when(F.col("event_id") % 23 == 0, None)
        .when(F.col("value") > 150, 2)
        .when(F.col("value") > 120, 1)
        .otherwise(0)
        .alias("osdAlarmState"),
        F.when(F.col("event_id") % 13 == 0, None)
        .when(F.col("event_id") % 17 == 0, "7")
        .otherwise(
            F.when(F.col("event_id") % 4 == 0, "[]")
            .when(F.col("event_id") % 4 == 1, '[{"t": 1, "v": 2}]')
            .when(
                F.col("event_id") % 4 == 2,
                '[{"t": 1, "v": 2}, {"t": 3, "v": 4}]',
            )
            .otherwise("[1, 2, 3]")
        )
        .alias("dp_json"),
        (F.col("event_id") % 19 == 0).alias("cfg_invalid"),
    )
    reason, _missing = cur.validation_rule_tags(
        ["userId", "type", "osdAlarmState"],
        dp_json_col="dp_json",
        min_datapoints=2,
        invalid_flag=F.col("cfg_invalid"),
        id_col="id",
    )
    tagged = ev.select("id", reason.alias("reason"))
    return cur.validation_report(
        tagged, extra_aggs=[F.sum("id").alias("id_sum")]
    )


@query(
    "e7_datetime_census",
    """
    WITH ev AS (
        SELECT event_id,
               CASE event_id % 8
                    WHEN 0 THEN strftime(ts, '%d-%m-%Y %H:%M:%S')
                    WHEN 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
                    WHEN 2 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
                    WHEN 3 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')
                    WHEN 4 THEN strftime(ts, '%d/%m/%Y %H:%M:%S')
                    WHEN 5 THEN strftime(ts, '%Y/%m/%d %H:%M:%S')
                    WHEN 6 THEN 'garbage-' || event_id::VARCHAR
                    ELSE NULL END AS dt,
               -- dateutil dayfirst=True swaps the day/month tokens of a
               -- y-t2-t3 layout whenever the LAST token fits a month
               -- (<=12); the reference publishes that swapped instant
               -- for fallback-tier strings (buckets 3 and 5), so the
               -- expected epoch is rebuilt with day/month exchanged.
               -- The dd/MM bucket (4) reads back to the source instant.
               CASE WHEN event_id % 8 IN (3, 5) AND day(ts) <= 12
                    THEN epoch(make_timestamp(
                             year(ts)::BIGINT, day(ts)::BIGINT,
                             month(ts)::BIGINT, hour(ts)::BIGINT,
                             minute(ts)::BIGINT,
                             date_part('second', ts)::DOUBLE))::BIGINT
                    ELSE epoch(date_trunc('second', ts))::BIGINT
               END AS es,
               event_id % 8 AS m
        FROM events
    ), cls AS (
        SELECT CASE WHEN dt IS NULL OR dt = '' THEN 'missing'
                    WHEN length(dt) = 20 AND substr(dt, 11, 1) = 'T'
                         AND substr(dt, 20, 1) = 'Z' THEN 'iso_8601'
                    WHEN length(dt) = 19 AND substr(dt, 3, 1) = '-'
                         AND substr(dt, 6, 1) = '-' THEN 'old_format'
                    ELSE 'other' END AS fmt,
               CASE WHEN m = 7 THEN 'missing'
                    WHEN m IN (0, 1, 2) THEN 'known_format'
                    WHEN m IN (3, 4, 5) THEN 'fallback'
                    ELSE 'unparseable' END AS src,
               (m IN (0, 1, 2, 3, 4, 5)) AS parsed, es
        FROM ev
    )
    SELECT fmt, src, count(*)::BIGINT AS n,
           sum(CASE WHEN parsed THEN 1 ELSE 0 END)::BIGINT AS n_norm,
           sum(CASE WHEN parsed THEN es ELSE 0 END)::BIGINT AS epoch_sum
    FROM cls GROUP BY fmt, src
    """,
    "makeOsdDb_refactor datetime normalization "
    "(datetime_normalization.py:25-63 normalize_datetime_string: "
    "KNOWN_FORMATS loop, THEN dateutil dayfirst fallback :58-63, plus "
    ":160-192 detect_datetime_formats census): events rendered into the "
    "three known formats, three fallback-tier formats the real data "
    "carries (microsecond ISO, dd/MM/yyyy and yyyy/MM/dd slash — the "
    "ingest cascade's remainder, flattenData.py:30-74; dayfirst=True == "
    "dd/MM), plus garbage/missing. The engine classifies shape "
    "(iso_8601 length-20/'T'@10/'Z', old_format length-19/'-'@2,5; the "
    "slash and microsecond layouts land in 'other' yet still "
    "normalize), attributes each string to its parse tier "
    "(known_format/fallback/unparseable/missing — the engine's "
    "deterministic mirror of the dateutil tier), and parses via the "
    "two-tier try_to_timestamp cascade — INCLUDING dateutil's dayfirst "
    "quirk, which swaps day/month in y-m-d layouts whenever the last "
    "token fits a month (the reference publishes those swapped "
    "instants; the engine tries the day-first reading of each layout "
    "before the month-first one, exactly dateutil's resolution order). "
    "The oracle derives parseability, tier, AND the swap STRUCTURALLY "
    "(buckets 3/5 with day<=12 must land on the day/month-exchanged "
    "instant, every other parsed bucket on the source epoch), so the "
    "parser is cross-checked in both directions: a straight ISO parse "
    "OR a wrong swap breaks epoch_sum.",
)
def e7_datetime_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators import curator as cur

    m = F.col("event_id") % 8
    ev = _t(spark, sf_dir, "events").select(
        F.when(m == 0, F.date_format("ts", "dd-MM-yyyy HH:mm:ss"))
        .when(m == 1, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .when(m == 2, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .when(
            m == 3,
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        )
        .when(m == 4, F.date_format("ts", "dd/MM/yyyy HH:mm:ss"))
        .when(m == 5, F.date_format("ts", "yyyy/MM/dd HH:mm:ss"))
        .when(m == 6, F.concat(F.lit("garbage-"), F.col("event_id")))
        .alias("dt")
    )
    out = ev.select(
        cur.datetime_format_census(F.col("dt")).alias("fmt"),
        cur.datetime_parse_source(F.col("dt")).alias("src"),
        cur.normalize_datetime_cascade(F.col("dt")).alias("norm"),
    ).withColumn(
        "norm_epoch",
        F.unix_timestamp(
            F.to_timestamp("norm", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        ),
    )
    return out.groupBy("fmt", "src").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("norm").alias("n_norm"),
        F.coalesce(F.sum("norm_epoch"), F.lit(0))
        .cast("long")
        .alias("epoch_sum"),
    )


@query(
    "e8_publication_flatten",
    """
    WITH ev AS (
        SELECT event_id, user_id AS userId, event_type,
               strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS event_dataTime,
               CASE WHEN value > 150 THEN 2 WHEN value > 120 THEN 1
                    ELSE 0 END AS osdAlarmState,
               epoch_ms(ts)::BIGINT AS t_ms,
               (event_id % 4)::BIGINT AS n_dp
        FROM events
    ), dps AS (
        SELECT e.event_id,
               e.t_ms + i.i * 5000 AS datapoint_t,
               (50 + (e.event_id * 7 + i.i * 13) % 100)::BIGINT
                   AS datapoint_hr,
               ((e.event_id + i.i) % 3)::BIGINT AS datapoint_alarmState
        FROM ev e, unnest(generate_series(0, e.n_dp - 1)) AS i(i)
    )
    SELECT e.event_id, e.userId, e.event_type, e.event_dataTime,
           e.osdAlarmState,
           d.datapoint_t, d.datapoint_hr, d.datapoint_alarmState
    FROM ev e LEFT JOIN dps d ON d.event_id = e.event_id
    """,
    "makeOsdDb_refactor publication flattening "
    "(osdb_publication.py:130-196 publish_parquet "
    "flatten_datapoints=True): one row per datapoint carrying the "
    "event's base record; an event with NO datapoints still emits its "
    "base row with NULL datapoint columns — explode_outer, a narrow "
    "partition-local transform with zero shuffles (the reference "
    "buffers every record in one driver list before writing). n_dp = "
    "event_id % 4 exercises the empty-list branch on a quarter of the "
    "events. Oracle: LEFT JOIN against the unnested datapoint rows.",
)
def e8_publication_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators import curator as cur

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("userId"),
        "event_type",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "event_dataTime"
        ),
        F.when(F.col("value") > 150, 2)
        .when(F.col("value") > 120, 1)
        .otherwise(0)
        .cast("long")
        .alias("osdAlarmState"),
        F.expr("unix_micros(ts) div 1000").alias("t_ms"),
        (F.col("event_id") % 4).cast("long").alias("n_dp"),
    )
    ev = ev.withColumn(
        "datapoints",
        F.when(
            F.col("n_dp") > 0,
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("n_dp") - 1),
                lambda i: F.struct(
                    (F.col("t_ms") + i * 5000).alias("t"),
                    (
                        F.lit(50)
                        + F.pmod(F.col("event_id") * 7 + i * 13, F.lit(100))
                    ).cast("long").alias("hr"),
                    F.pmod(F.col("event_id") + i, F.lit(3))
                    .cast("long")
                    .alias("alarmState"),
                ),
            ),
        ).otherwise(F.expr("array()").cast(
            "array<struct<t:bigint,hr:bigint,alarmState:bigint>>"
        )),
    )
    flat = cur.flatten_for_publication(
        ev,
        dp_col="datapoints",
        event_cols=[
            "event_id",
            "userId",
            "event_type",
            "event_dataTime",
            "osdAlarmState",
        ],
        dp_fields=["t", "hr", "alarmState"],
    )
    return flat.select(
        "event_id",
        "userId",
        "event_type",
        "event_dataTime",
        "osdAlarmState",
        F.col("datapoint_t"),
        F.col("datapoint_hr"),
        F.col("datapoint_alarmState"),
    )


def _p13_hash_sql() -> str:
    from openseizuredatabase_spark.operators.curator import (
        event_field_hash_sql,
    )

    return event_field_hash_sql(
        [("id", "num"), ("userId", "num"), ("dataTime", "str"),
         ("type", "str")]
    )


_P13_ORACLE_TMPL = """
    WITH RECURSIVE base AS (
        SELECT event_id AS id,
               CASE WHEN event_id % 11 = 0 THEN NULL
                    ELSE user_id END AS userId,
               event_type AS type,
               CASE event_id % 3
                    WHEN 0 THEN strftime(ts, '%d-%m-%Y %H:%M:%S')
                    WHEN 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
                    ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS dataTime,
               CASE WHEN event_id % 23 = 0 THEN NULL
                    WHEN value > 150 THEN 2 WHEN value > 120 THEN 1
                    ELSE 0 END AS osdAlarmState,
               CASE WHEN event_id % 13 = 0 THEN NULL
                    WHEN event_id % 17 = 0 THEN '7'
                    ELSE CASE event_id % 4 WHEN 0 THEN '[]'
                         WHEN 1 THEN '[{"t": 1, "v": 2}]'
                         WHEN 2 THEN '[{"t": 1, "v": 2}, {"t": 3, "v": 4}]'
                         ELSE '[1, 2, 3]' END END AS dp_json,
               (event_id % 19 = 0) AS cfg_invalid,
               epoch(date_trunc('second', ts))::BIGINT * 1000 AS t_ms
        FROM events
    ), allv AS (
        SELECT *, id * 2 + 1 AS pos FROM base
        UNION ALL
        SELECT id, userId, type, dataTime,
               CASE WHEN id % 23 = 0 THEN NULL ELSE 2 END AS osdAlarmState,
               dp_json, cfg_invalid, t_ms, id * 2 AS pos
        FROM base WHERE id % 12 = 1
    ), valid AS (
        SELECT * FROM allv
        WHERE NOT cfg_invalid
          AND userId IS NOT NULL AND type IS NOT NULL
          AND osdAlarmState IS NOT NULL
          AND dp_json IS NOT NULL AND dp_json LIKE '[%'
          AND json_array_length(dp_json) >= 2
    ), norm AS (
        SELECT id, userId, type, osdAlarmState, t_ms, pos,
               strftime(to_timestamp(t_ms // 1000),
                        '%Y-%m-%dT%H:%M:%SZ') AS dataTime
        FROM valid
    ), hashed AS (
        SELECT *, {HASH} AS event_hash FROM norm
    ), kept AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY event_hash
                                         ORDER BY pos) AS rn
            FROM hashed) WHERE rn = 1
    ), ev AS (
        SELECT id AS event_id, userId AS user_id, type, t_ms,
               osdAlarmState AS alarm_state,
               (id % 5 = 0) AS is_existing,
               CASE WHEN id % 7 = 0 THEN 'seizure noted'
                    WHEN id % 7 = 3 THEN 'checked.'
                    ELSE '' END AS d0,
               (2 + id % 3)::BIGINT AS n_dp
        FROM kept WHERE lower(type) <> 'signup'
    ), grp AS MATERIALIZED (
        SELECT *, (sum(CASE WHEN gap_ms IS NULL
                             OR gap_ms > 3600000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY t_ms, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1)::BIGINT AS group_id
        FROM (SELECT *, t_ms - lag(t_ms) OVER (
                  PARTITION BY user_id ORDER BY t_ms, event_id) AS gap_ms
              FROM ev)
    ), sel AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id, group_id
                   ORDER BY (CASE WHEN is_existing THEN 0 ELSE 1 END),
                            -alarm_state,
                            -(CASE WHEN trim(d0) <> '' THEN 1 ELSE 0 END),
                            t_ms, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, group_id)::BIGINT
                   AS n_members
        FROM grp
    ), ids AS (
        SELECT user_id, group_id, list(event_id::VARCHAR) AS id_strs
        FROM grp GROUP BY 1, 2
    ), dps AS (
        SELECT g.user_id, g.group_id,
               (g.t_ms - (g.t_ms % 300000)) + i.i * 300000
                   + (g.event_id % 7) * 25 AS dp_t,
               g.event_id * 10 + i.i AS dp_v
        FROM grp g, unnest(generate_series(0, g.n_dp - 1)) AS i(i)
    ), gdp AS (
        SELECT user_id, group_id, count(*)::BIGINT AS n_dp_before,
               sum(dp_t)::BIGINT AS raw_t, sum(dp_v)::BIGINT AS raw_v
        FROM dps GROUP BY 1, 2
    ), {WALK}, grouped_out AS (
        SELECT s.user_id, s.group_id, s.event_id AS rep_event_id,
               s.n_members,
               CASE WHEN s.n_members > 1 THEN f.n
                    ELSE g.n_dp_before END AS n_dp_after,
               CASE WHEN s.n_members > 1 THEN f.t_sum
                    ELSE g.raw_t END AS dp_t_sum,
               CASE WHEN s.n_members > 1 THEN f.v_sum
                    ELSE g.raw_v END AS dp_v_sum,
               CASE WHEN s.n_members > 1 THEN array_to_string(list_sort(
                   list_filter(i.id_strs,
                               x -> x <> s.event_id::VARCHAR)), ', ')
               END AS merged_ids
        FROM sel s
        JOIN gdp g ON g.user_id = s.user_id AND g.group_id = s.group_id
        JOIN folded f ON f.user_id = s.user_id AND f.group_id = s.group_id
        JOIN ids i ON i.user_id = s.user_id AND i.group_id = s.group_id
        WHERE s.rn = 1
    ), excl AS (
        -- closed-form sums over i in [0, n): the arithmetic series of
        -- the grid+jitter datapoint synthesis
        SELECT userId AS user_id, -1::BIGINT AS group_id,
               id AS rep_event_id, 1::BIGINT AS n_members,
               n AS n_dp_after,
               (n * (t_ms - (t_ms % 300000))
                + 300000 * (n * (n - 1) // 2)
                + n * ((id % 7) * 25))::BIGINT AS dp_t_sum,
               (n * id * 10 + (n * (n - 1) // 2))::BIGINT AS dp_v_sum,
               NULL AS merged_ids
        FROM (SELECT *, (2 + id % 3)::BIGINT AS n FROM kept)
        WHERE lower(type) = 'signup'
    )
    SELECT * FROM grouped_out UNION ALL SELECT * FROM excl
"""


@query(
    "p13_curator_pipeline",
    _P13_ORACLE_TMPL.replace("{HASH}", _p13_hash_sql())
    .replace("{WALK}", WALK),
    "The refactored curator's FULL pipeline "
    "(makeOsdDb_refactored_wrapper.py:507-579 process flow) as ONE lazy "
    "Spark plan: [1] validate_events_batch rule cascade drops defective "
    "events (e6 semantics incl. the config-invalid list; the datapoint "
    "count is the PARSED json_array_length at min_datapoints=2, so the "
    "single-object dp_json branch — whose internal comma fools textual "
    "counts — is dropped, making the downstream population "
    "parse-count-sensitive), [2] "
    "normalize_events_batch rewrites every dataTime to ISO-Z through "
    "the known-format cascade (e7), [3+4] remove_duplicate_events "
    "collapses re-downloaded copies by canonical field hash computed "
    "over the NORMALIZED dataTime — keep-first by download position, "
    "and the surviving copy's non-hash fields (a forced alarmState=2 on "
    "clones) flow into [5] apply_sliding_window_grouping's alarm_first "
    "selection (d17 semantics; signup events stand in for the NDA "
    "exclusion and pass through ungrouped as group_id -1). Every phase "
    "is observable in the output: validation changes the population, "
    "normalization feeds the hash, dedup decides which alarmState the "
    "selector sees, grouping/merge produces the rows. One plan: "
    "validation+normalize are narrow projections, dedup is one shuffle "
    "on the digest, grouping one shuffle on (user, chain).",
)
def p13_curator_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators import curator as cur

    base = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 11 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("userId"),
        F.col("event_type").alias("type"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.date_format("ts", "dd-MM-yyyy HH:mm:ss"),
        )
        .when(
            F.col("event_id") % 3 == 1,
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        )
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("dataTime"),
        F.when(F.col("event_id") % 23 == 0, None)
        .when(F.col("value") > 150, 2)
        .when(F.col("value") > 120, 1)
        .otherwise(0)
        .cast("long")
        .alias("osdAlarmState"),
        F.when(F.col("event_id") % 13 == 0, None)
        .when(F.col("event_id") % 17 == 0, "7")
        .otherwise(
            F.when(F.col("event_id") % 4 == 0, "[]")
            .when(F.col("event_id") % 4 == 1, '[{"t": 1, "v": 2}]')
            .when(
                F.col("event_id") % 4 == 2,
                '[{"t": 1, "v": 2}, {"t": 3, "v": 4}]',
            )
            .otherwise("[1, 2, 3]")
        )
        .alias("dp_json"),
        (F.col("event_id") % 19 == 0).alias("cfg_invalid"),
    )
    allv = base.withColumn("pos", F.col("id") * 2 + 1).unionByName(
        base.filter(F.col("id") % 12 == 1)
        .withColumn(
            "osdAlarmState",
            F.when(F.col("id") % 23 == 0, None).otherwise(2).cast("long"),
        )
        .withColumn("pos", F.col("id") * 2)
    )

    # [1] validation: first-failing-rule cascade, keep the valid rows
    reason, _missing = cur.validation_rule_tags(
        ["userId", "type", "osdAlarmState"],
        dp_json_col="dp_json",
        min_datapoints=2,
        invalid_flag=F.col("cfg_invalid"),
        id_col="id",
    )
    valid = allv.filter(reason.isNull())

    # [2] normalization: known-format cascade -> ISO-Z; t_ms from the
    # PARSED string (the oracle derives it structurally — cross-check)
    norm = valid.withColumn(
        "dataTime", cur.normalize_datetime_cascade(F.col("dataTime"))
    ).withColumn(
        "t_ms",
        F.unix_timestamp(
            F.to_timestamp("dataTime", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        ).cast("long")
        * 1000,
    )

    # [3+4] field-hash dedup over the normalized record, keep-first
    kept = cur.dedup_by_field_hash(
        norm,
        [("id", "num"), ("userId", "num"), ("dataTime", "str"),
         ("type", "str")],
        pos_col="pos",
        keep="first",
    ).drop("event_hash", "n_copies", "rn", "dp_json", "cfg_invalid", "pos")

    # [5] merge-datapoints proximity grouping (d17 parameterization)
    ev = kept.select(
        F.col("id").alias("event_id"),
        F.col("userId").alias("user_id"),
        "type",
        "t_ms",
        F.col("osdAlarmState").alias("alarm_state"),
        (F.col("id") % 5 == 0).alias("is_existing"),
        F.when(F.col("id") % 7 == 0, "seizure noted")
        .when(F.col("id") % 7 == 3, "checked.")
        .otherwise("")
        .alias("desc"),
        (F.lit(2) + F.col("id") % 3).cast("long").alias("n_dp"),
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
    ).drop("n_dp")
    merged = cur.merge_proximity_groups(
        ev,
        ["user_id"],
        ts_col="t_ms",
        id_col="event_id",
        alarm_col="alarm_state",
        desc_col="desc",
        dp_col="datapoints",
        dp_time_field="t",
        threshold=3_600_000,  # unit-agnostic: t_ms is epoch-millis
        tolerance_ms=100,
        existing_col="is_existing",
        exclude_types=["signup"],
        type_col="type",
        keep_group_id=True,
    )
    ids = F.col("_merged_from_event_ids")
    others = F.array_sort(
        F.transform(
            F.filter(ids, lambda i: i != F.col("event_id")),
            lambda i: i.cast("string"),
        )
    )
    zero = F.lit(0).cast("long")
    return merged.select(
        "user_id",
        F.coalesce(F.col("group_id"), F.lit(-1)).cast("long").alias(
            "group_id"
        ),
        F.col("event_id").alias("rep_event_id"),
        F.coalesce("_merged_event_count", F.lit(1))
        .cast("long")
        .alias("n_members"),
        F.size("datapoints").cast("long").alias("n_dp_after"),
        F.aggregate(
            "datapoints", zero, lambda a, x: a + x["t"]
        ).alias("dp_t_sum"),
        F.aggregate(
            "datapoints", zero, lambda a, x: a + x["v"]
        ).alias("dp_v_sum"),
        F.when(ids.isNotNull(), F.array_join(others, ", ")).alias(
            "merged_ids"
        ),
    )


@query(
    "d19_merge_grouped_mostdp",
    _D17_ORACLE.replace("{PREC}", _D17_PREC_MOSTDP),
    "d17's merge grouping under the 'most_datapoints' selection "
    "strategy (event_grouping.py:208-212): existing events still "
    "outrank everything, then the member with the most datapoints "
    "wins (Python max keeps the FIRST maximum → earliest (t, id) "
    "tiebreak). Same chain, merge, provenance and desc-annotation "
    "machinery — only the min_by precedence struct changes, which the "
    "oracle mirrors as a different ORDER BY. The synthetic n_dp = "
    "2 + id%3 varies within chains, so the strategy picks genuinely "
    "different representatives than alarm_first (oracle-visible).",
)
def d19_merge_grouped_mostdp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _merge_grouped_query(spark, sf_dir, "most_datapoints")
