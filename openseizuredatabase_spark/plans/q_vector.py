"""Similarity-search / ANN queries over `embeddings` (V*).

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
from openseizuredatabase_spark.sources.width import rows_width

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)
from openseizuredatabase_spark.plans.q_shared import (  # noqa: F401
    _sampled_hier_ctes,
    _EMB_DIM,
    _quantized_dot,
    _v5_ctes,
)

_QDOT = "round(e.embedding[{i}]::DOUBLE * q.qe[{i}]::DOUBLE * 1e6)::BIGINT"
_QNRM_A = "round(e.embedding[{i}]::DOUBLE * e.embedding[{i}]::DOUBLE * 1e6)::BIGINT"
_QNRM_Q = "round(q.qe[{i}]::DOUBLE * q.qe[{i}]::DOUBLE * 1e6)::BIGINT"


@query(
    "v1_cosine_topk",
    f"""
    WITH q AS (
        SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
        FROM embeddings WHERE vec_id = 0
    ), terms AS (
        SELECT e.vec_id,
               sum({_QDOT.format(i='i')}) AS dp,
               sum({_QNRM_A.format(i='i')}) AS na,
               sum({_QNRM_Q.format(i='i')}) AS nq
        FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
              FROM embeddings) e,
             q, unnest(generate_series(1, {_EMB_DIM})) AS g(i)
        GROUP BY e.vec_id
    )
    SELECT vec_id, round(dp / (sqrt(na::DOUBLE) * sqrt(nq::DOUBLE)), 6) AS cosine_sim
    FROM terms WHERE vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
    "Brute-force cosine top-k vs a query vector (ANN baseline): "
    "zip_with/aggregate JVM-side; quantized-integer accumulation for "
    "engine-independent results. The scan is embarrassingly parallel; "
    "top-k is a tiny final reduce.",
)
def v1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _ts(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    # single-row query-parameter lookup (NOT a data-path collect): a
    # local Arrow read with predicate pushdown, memoized — no Spark job
    # runs to fetch a one-row parameterization
    qvec = [
        float(x)
        for x in tables.lookup_param_row(
            sf_dir, "embeddings", "vec_id", 0, "embedding"
        )
    ]
    # one sql-parsed literal array, not 64 F.lit py4j calls
    qlit = F.expr(
        "array(" + ", ".join(f"{float(x)!r}D" for x in qvec) + ")"
    )
    dp = _quantized_dot(F.col("emb_d"), qlit)
    na = _quantized_dot(F.col("emb_d"), F.col("emb_d"))
    # the query self-norm is a constant over the already-fetched qvec:
    # compute it driver-side (no extra Spark job). Decimal(repr(v))
    # HALF_UP reproduces Spark's Round-on-double exactly (BigDecimal
    # .valueOf uses the same shortest-decimal representation as repr).
    from decimal import ROUND_HALF_UP, Decimal

    nq_val = sum(
        int(Decimal(repr(x * x * 1e6)).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for x in (float(v) for v in qvec)
    )
    nq = F.lit(int(nq_val)).cast("long")
    return (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(
                dp / (F.sqrt(na.cast("double")) * F.sqrt(nq.cast("double"))), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


def _v2_oracle() -> str:
    """LSH bucket histogram oracle: planes rendered as literal arrays."""
    from openseizuredatabase_spark.functions.vectors import hyperplane

    n_bits = 8
    plane_rows = []
    for j in range(n_bits):
        comps = hyperplane(42, j, _EMB_DIM)
        arr = "[" + ", ".join(repr(c) for c in comps) + "]"
        plane_rows.append(f"({j}, {arr}::DOUBLE[])")
    return f"""
    WITH planes(j, p) AS (VALUES {', '.join(plane_rows)}),
    bits AS (
        SELECT e.vec_id, pl.j,
               CASE WHEN (
                   SELECT sum(round(e.embedding[i]::DOUBLE * pl.p[i] * 1e6)::BIGINT)
                   FROM unnest(generate_series(1, {_EMB_DIM})) AS g(i)
               ) >= 0 THEN 1 ELSE 0 END AS bit
        FROM embeddings e, planes pl
    ), buckets AS (
        SELECT vec_id, sum(bit * (2 ** (7 - j)))::BIGINT AS bucket
        FROM bits GROUP BY vec_id
    )
    SELECT bucket, count(*) AS n FROM buckets GROUP BY bucket
    """


@query(
    "v2_lsh_buckets",
    _v2_oracle(),
    "Random-hyperplane LSH bucketing (8-bit signatures, planes derived "
    "deterministically from md5): the scale path for ANN — candidate "
    "generation becomes an equi-join on bucket instead of O(n²).",
)
def v2_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.vectors import hyperplane

    emb = _ts(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    # ONE pass over the embedding accumulating all 8 projections in an
    # array accumulator (vs 8 independent aggregate walks: ~20% faster
    # warm, 2x faster cold from the smaller codegen). The quantized
    # per-term integers are identical either way, so the oracle's
    # per-bit sums match exactly.
    planes = [hyperplane(42, j, _EMB_DIM) for j in range(8)]
    # ONE sql-parsed literal array instead of 512 F.lit py4j round trips
    # (~0.3 s off every plan build; repr(float) round-trips exactly and
    # the D suffix keeps each element DoubleType, same as F.lit)
    flat = F.expr(
        "array(" + ", ".join(f"{c!r}D" for p in planes for c in p) + ")"
    )
    acc0 = F.expr("array(" + ", ".join(["0L"] * 8) + ")")
    sums = F.aggregate(
        F.sequence(F.lit(0), F.lit(_EMB_DIM - 1)),
        acc0,
        lambda acc, i: F.transform(
            acc,
            lambda s, j: s
            + F.round(
                F.element_at(F.col("emb_d"), i + 1)
                * F.element_at(flat, j * _EMB_DIM + i + 1)
                * 1e6,
                0,
            ).cast("long"),
        ),
    )
    bucket = F.aggregate(
        F.zip_with(
            sums,
            F.array(*[F.lit(1 << (7 - j)) for j in range(8)]),
            lambda s, w: F.when(s >= 0, w).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda a, x: a + x,
    )
    return (
        emb.select(bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "v3_cosine_near_dup",
    f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
        FROM embeddings
    ), norms AS (
        SELECT vec_id, emb,
               (SELECT sum(round(emb[i]::DOUBLE * emb[i]::DOUBLE * 1e6)::BIGINT)
                FROM unnest(generate_series(1, {_EMB_DIM})) AS g(i)) AS nsq
        FROM e
    ), grp AS (
        SELECT vec_id, emb, nsq,
               vec_id % greatest(16, (SELECT count(*) FROM embeddings) // 128)
                   AS bucket
        FROM norms
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               (SELECT sum(round(a.emb[i]::DOUBLE * b.emb[i]::DOUBLE * 1e6)::BIGINT)
                FROM unnest(generate_series(1, {_EMB_DIM})) AS g(i)) AS dp,
               a.nsq AS na, b.nsq AS nb
        FROM grp a JOIN grp b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(dp / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6) AS cosine_sim
    FROM pairs
    WHERE dp / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)) >= 0.3
    """,
    "Embedding-cosine near-dup detection: bucketed candidate generation "
    "(id-mod partitioning keeps the oracle deterministic; production path "
    "uses the v2 LSH buckets) + exact quantized-dot rerank ≥ threshold. "
    "The bucket count scales with table size (max(16, n/128)) so the "
    "per-bucket pairwise rerank stays O(n·128), not O(n²/const) — the "
    "difference between a linear and a quadratic plan at lake scale.",
)
def v3_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-bucket applyInPandas: numpy computes the SAME quantized sums
    # (per-term round(x*y*1e6) then integer-exact summation), ~10x faster
    # than interpreted zip_with/aggregate lambdas over every pair
    import numpy as np
    import pandas as pd

    # bucket count tracks table size: ~128 vectors per bucket keeps the
    # within-bucket pairwise rerank linear in n. The row count comes from
    # parquet FOOTER metadata (local file read via table_meta) — no Spark
    # job runs for sizing; at lake scale the same number comes from table
    # catalog statistics.
    n_rows, _ = table_meta(sf_dir, "embeddings", spark)
    modulus = max(16, n_rows // 128)
    emb0 = _ts(spark, sf_dir, "embeddings")
    emb = emb0.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        (F.col("vec_id") % modulus).alias("bucket"),
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        mat = np.vstack(pdf["emb"].to_numpy())
        nsq = np.round(mat * mat * 1e6).sum(axis=1)
        order = np.argsort(ids)
        ids, mat, nsq = ids[order], mat[order], nsq[order]
        rows = []
        for i in range(len(ids) - 1):
            dps = np.round(mat[i] * mat[i + 1 :] * 1e6).sum(axis=1)
            sims = dps / (np.sqrt(nsq[i]) * np.sqrt(nsq[i + 1 :]))
            keep = sims >= 0.3
            for j_rel in np.flatnonzero(keep):
                rows.append((ids[i], ids[i + 1 + j_rel], round(sims[j_rel], 6)))
        return pd.DataFrame(rows, columns=["id_a", "id_b", "cosine_sim"])

    return emb.groupBy("bucket").applyInPandas(
        per_bucket, "id_a long, id_b long, cosine_sim double"
    )


def _v5_oracle() -> str:
    return (
        _v5_ctes()
        + """, members AS (
        SELECT cid, count(*) AS n_members, min(vec_id) AS min_id
        FROM a2 GROUP BY cid
    ), csum AS (
        SELECT cid, sum(c)::BIGINT AS c_sum FROM c2 GROUP BY cid
    )
    SELECT m.cid, m.n_members, m.min_id, c.c_sum
    FROM members m JOIN csum c ON m.cid = c.cid
    """
    )


def _v6_oracle() -> str:
    return (
        _v5_ctes()
        + """, qv AS (
        SELECT dim, v FROM q WHERE vec_id = 0
    ), cd AS (
        SELECT c.cid, sum((c.c - qv.v) * (c.c - qv.v)) AS cdist
        FROM c2 c JOIN qv USING (dim) GROUP BY c.cid
    ), probe AS (
        SELECT cid FROM (
            SELECT cid, row_number() OVER (ORDER BY cdist, cid) AS rn
            FROM cd) WHERE rn <= 2
    ), cand AS (
        SELECT a.vec_id, a.cid FROM a2 a JOIN probe p ON a.cid = p.cid
        WHERE a.vec_id <> 0
    ), dists AS (
        SELECT c.vec_id, c.cid,
               sum((q.v - qv.v) * (q.v - qv.v))::BIGINT AS dist
        FROM cand c
        JOIN q ON q.vec_id = c.vec_id
        JOIN qv ON q.dim = qv.dim
        GROUP BY c.vec_id, c.cid
    )
    SELECT vec_id, cid, dist FROM dists ORDER BY dist, vec_id LIMIT 10
    """
    )


@query(
    "v6_ivf_probe_exact",
    _v6_oracle(),
    "IVF ANN probe over the deterministic quantizer (the v4 search re-"
    "expressed oracle-exact): rank centroids by integer distance to the "
    "query, keep the 2 nearest, rerank only those clusters' members by "
    "exact integer distance, lowest-id tie-breaks. At lake scale "
    "cluster_id is the partition key, so the probe filter IS partition "
    "pruning — the scan touches n_probe/k of the corpus; the rerank is "
    "candidates x dim integer ops plus one TakeOrdered.",
)
def v6_ivf_probe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.ann import ivf_probe_exact

    emb = _t(spark, sf_dir, "embeddings")
    qvec = tables.lookup_param_row(
        sf_dir, "embeddings", "vec_id", 0, "embedding"
    )
    return ivf_probe_exact(
        emb, qvec, k=8, iters=2, n_probe=2, top_k=10
    )


@query(
    "v5_kmeans_exact",
    _v5_oracle(),
    "Deterministic KMeans (2 Lloyd rounds) — the IVF coarse quantizer "
    "(functions/ann.build_ivf's role) re-expressed with CROSS-ENGINE "
    "EXACT integer semantics: quantized coordinates, integer squared "
    "distances, lowest-id tie-breaks, portable floor-division centroid "
    "updates. MLlib KMeans is float/engine-specific (v4 stays "
    "rows-only); this variant makes the clustering itself "
    "value-hash-checkable. The k x dim codebook lives on the driver. "
    "Up to ann._KMEANS_DRIVER_ROW_CAP vectors, one bounded Arrow "
    "collect of the raw double arrays brings them to the driver, which "
    "quantizes them in numpy, runs the rounds and the assignment and "
    "returns a literal frame. Above it, the raw vectors are spread and "
    "pinned, each round is one vectorized mapInArrow pass (quantize, "
    "argmin, partial sums) plus one small aggregation, and a final "
    "mapInArrow pass assigns.",
)
def v5_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.ann import kmeans_exact

    emb = _t(spark, sf_dir, "embeddings")
    assign, cents = kmeans_exact(emb, k=8, iters=2, quant=1000)
    members = assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_id"),
    )
    csum = cents.groupBy("cid").agg(F.sum("c").alias("c_sum"))
    return members.join(csum, "cid").select(
        "cid", "n_members", "min_id", "c_sum"
    )


def _v18_oracle() -> str:
    d = _EMB_DIM
    sd = d // 4  # 4 subspaces
    floor_div = "((s - (((s % n) + n) % n)) / n)::BIGINT"
    samp_hash = seeded_md5_long_sql("q.vec_id::VARCHAR", 13)
    return f"""
    WITH nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
    pp AS (SELECT greatest(1, 2000000 // n) AS fpm FROM nn),
    q AS MATERIALIZED (
        SELECT vec_id, g.i - 1 AS dim, (g.i - 1) // {sd} AS sub,
               round(embedding[g.i]::DOUBLE * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), sq AS MATERIALIZED (
        -- the SQL twin of the data-adaptive hash sample: rate from
        -- count(*) (= the parquet-footer row count), seed ids riding
        SELECT q.* FROM q, pp
        WHERE q.vec_id <= 8 OR ({samp_hash}) % 1000 < pp.fpm
    ), c0 AS (
        SELECT vec_id AS cid, sub, dim, v AS c FROM sq
        WHERE vec_id BETWEEN 1 AND 8
    ), d1 AS (
        SELECT sq.vec_id, sq.sub, c.cid,
               sum((sq.v - c.c) * (sq.v - c.c)) AS dist
        FROM sq JOIN c0 c ON sq.dim = c.dim
        GROUP BY sq.vec_id, sq.sub, c.cid
    ), a1 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d1) WHERE rn = 1
    ), s1 AS (
        SELECT a.cid, sq.dim, sum(sq.v) AS s, count(*) AS n
        FROM sq JOIN a1 a ON sq.vec_id = a.vec_id AND sq.sub = a.sub
        GROUP BY a.cid, sq.dim
    ), c1 AS (
        SELECT cid, dim // {sd} AS sub, dim, {floor_div} AS c FROM s1
    ), d2 AS (
        SELECT sq.vec_id, sq.sub, c.cid,
               sum((sq.v - c.c) * (sq.v - c.c)) AS dist
        FROM sq JOIN c1 c ON sq.dim = c.dim
        GROUP BY sq.vec_id, sq.sub, c.cid
    ), a2 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d2) WHERE rn = 1
    ), s2 AS (
        SELECT a.cid, sq.dim, sum(sq.v) AS s, count(*) AS n
        FROM sq JOIN a2 a ON sq.vec_id = a.vec_id AND sq.sub = a.sub
        GROUP BY a.cid, sq.dim
    ), c2 AS MATERIALIZED (
        SELECT cid, dim // {sd} AS sub, dim, {floor_div} AS c FROM s2
    ), d3 AS (
        -- single encode pass: EVERY corpus vector against the
        -- POST-update codebooks (pq_train_encode's closing assignment)
        SELECT q.vec_id, q.sub, c.cid,
               sum((q.v - c.c) * (q.v - c.c)) AS dist
        FROM q JOIN c2 c ON q.dim = c.dim
        GROUP BY q.vec_id, q.sub, c.cid
    ), a3 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d3) WHERE rn = 1
    )
    SELECT vec_id,
           sum((cid::BIGINT) << (4 * sub))::BIGINT AS packed_code,
           count(*)::BIGINT AS n_sub
    FROM a3 GROUP BY vec_id
    """


@query(
    "v18_pq_sampled_train",
    _v18_oracle(),
    "Product quantization at the production parameterization "
    "(ann.pq_train_encode with train_df — the path real corpora use): "
    "codebooks train on a ~2000-row deterministic hash sample (Lloyd "
    "training is n_train*k_sub*d per round; the full-corpus term is "
    "the single encode pass only): the sample trains on the driver "
    "after one bounded Arrow collect, then EVERY corpus vector encodes "
    "against the post-update codebooks in one mapInArrow pass over the "
    "scan. Output packs each vector's "
    "n_sub codes into one integer (4 bits per subspace). The oracle "
    "replays the data-adaptive sample IN SQL — keep rate from "
    "count(*), the portable seeded-md5 slice, sampled Lloyd rounds, "
    "full-corpus encode — so the production path itself is value-hash "
    "gated (round-6; was rows-only); sampled-vs-full agreement stays "
    "pinned in tests/test_ann.py.",
)
def v18_pq_sampled_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.ann import pq_train_encode

    emb = _t(spark, sf_dir, "embeddings")
    n_rows, _ = table_meta(sf_dir, "embeddings", spark)
    frac_pm = max(1, (2000 * 1000) // n_rows)  # per-mille keep rate
    samp = emb.filter(
        (F.col("vec_id") <= 8)  # k_sub seed ids must be in the sample
        | (seeded_md5_long(F.col("vec_id").cast("string"), 13) % 1000
           < frac_pm)
    )
    codes, _ = pq_train_encode(
        emb, n_sub=4, k_sub=8, dim=_EMB_DIM, train_df=samp
    )
    return (
        codes.groupBy("vec_id")
        .agg(
            F.sum(F.expr("shiftleft(CAST(cid AS BIGINT), 4 * sub)"))
            .alias("packed_code"),
            F.count(F.lit(1)).alias("n_sub"),
        )
    )


@query(
    "v19_hier_assign_scaled",
    _sampled_hier_ctes()
    + """
    SELECT cid, count(*)::BIGINT AS n_members,
           sum(vec_id)::BIGINT AS id_sum
    FROM ap GROUP BY cid
    """,
    "Two-level centroid assignment at its crossover parameterization "
    "(ann.hierarchical_assign as t24_semdedup_scaled deploys it): "
    "k grows with the corpus (~625-vector clusters), g ~ sqrt(k) "
    "minimizes the n*(g + k/g)*d assignment work, and centroids train "
    "on a ~5000-row deterministic hash sample — the whole clustering "
    "is O(sample*k*d + n*sqrt(k)*d), sub-linear in n*k where the flat "
    "path (v7's fixed-k oracle twin) is O(n*k*d). The oracle replays "
    "the data-adaptive parameterization IN SQL (k/g/sample rate from "
    "count(*) — the twin of the parquet-footer read), so the "
    "production path is value-hash gated (round-6; was rows-only); "
    "two-level-vs-flat and sampled-vs-full agreement stay pinned in "
    "tests/test_ann.py.",
)
def v19_hier_assign_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.ann import hierarchical_assign

    emb = _t(spark, sf_dir, "embeddings")
    n_rows, _ = table_meta(sf_dir, "embeddings", spark)
    k = max(8, n_rows // 625)
    g = max(3, int(k**0.5))
    frac_pm = max(1, (5000 * 1000) // n_rows)
    samp = emb.filter(
        (F.col("vec_id") <= k)
        | (seeded_md5_long(F.col("vec_id").cast("string"), 31) % 1000
           < frac_pm)
    )
    assign, _ = hierarchical_assign(
        emb, k=k, g=g, iters=2, quant=1000, train_df=samp
    )
    return assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("id_sum"),
    )


def _v7_oracle() -> str:
    return (
        _v5_ctes()
        + """
    , seeds AS (
        SELECT cid AS gid, dim, c AS cg FROM c2 WHERE cid <= 3
    ), cgd AS (
        SELECT c2.cid, s.gid,
               sum((c2.c - s.cg) * (c2.c - s.cg)) AS d
        FROM c2 JOIN seeds s USING (dim) GROUP BY c2.cid, s.gid
    ), cgrp AS (
        SELECT cid, gid FROM (
            SELECT cid, gid, row_number() OVER (
                PARTITION BY cid ORDER BY d, gid) AS rn
            FROM cgd) WHERE rn = 1
    ), vgd AS (
        SELECT q.vec_id, s.gid,
               sum((q.v - s.cg) * (q.v - s.cg)) AS d
        FROM q JOIN seeds s USING (dim) GROUP BY q.vec_id, s.gid
    ), vg AS (
        SELECT vec_id, gid FROM (
            SELECT vec_id, gid, row_number() OVER (
                PARTITION BY vec_id ORDER BY d, gid) AS rn
            FROM vgd) WHERE rn = 1
    ), cand AS (
        SELECT c2.cid, c2.dim, c2.c, g.gid
        FROM c2 JOIN cgrp g ON c2.cid = g.cid
    ), fd AS (
        SELECT q.vec_id, cd.cid,
               sum((q.v - cd.c) * (q.v - cd.c)) AS d
        FROM q
        JOIN vg ON q.vec_id = vg.vec_id
        JOIN cand cd ON cd.gid = vg.gid AND cd.dim = q.dim
        GROUP BY q.vec_id, cd.cid
    ), ap AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM fd) WHERE rn = 1
    )
    SELECT count(*) AS n_total,
           sum(CASE WHEN ap.cid = a2.cid THEN 1 ELSE 0 END)::BIGINT
               AS n_match
    FROM ap JOIN a2 ON ap.vec_id = a2.vec_id
    """
    )


@query(
    "v7_hierarchical_assign",
    _v7_oracle(),
    "Two-level centroid assignment (ann.hierarchical_assign) vs the "
    "flat Lloyd assignment, as an agreement summary — the production "
    "remedy for n*k*d assignment work when k scales with the corpus "
    "(t24's regime): k centroids group under g=3 coarse centers (a "
    "centroid-table-only pass), each vector picks a coarse group "
    "(n*g*d) then the exact argmin among ONLY that group's centroids "
    "(n*k/g*d expected) — O(n*sqrt(k)*d) total at g~sqrt(k). Integer "
    "semantics throughout, so approximation error is purely geometric "
    "and the agreement count is bit-stable; the oracle replays BOTH "
    "assignment paths in SQL.",
)
def v7_hierarchical_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.ann import (
        hierarchical_assign,
        kmeans_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    approx, _ = hierarchical_assign(emb, k=8, g=3, iters=2, quant=1000)
    exact, _ = kmeans_exact(emb, k=8, iters=2, quant=1000)
    j = approx.withColumnRenamed("cid", "cid_a").join(
        exact.withColumnRenamed("cid", "cid_e"), "vec_id"
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("cid_a") == F.col("cid_e"), 1).otherwise(0)
        ).alias("n_match"),
    )


def _v8_oracle() -> str:
    floor_div = "((s - (((s % n) + n) % n)) / n)::BIGINT"
    d = _EMB_DIM
    sd = d // 16  # 16 subspaces
    return f"""
    WITH q AS (
        SELECT vec_id, g.i - 1 AS dim, (g.i - 1) // {sd} AS sub,
               round(embedding[g.i]::DOUBLE * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), c0 AS (
        SELECT vec_id AS cid, sub, dim, v AS c FROM q
        WHERE vec_id BETWEEN 1 AND 32
    ), d1 AS (
        SELECT q.vec_id, q.sub, c.cid,
               sum((q.v - c.c) * (q.v - c.c)) AS dist
        FROM q JOIN c0 c ON q.dim = c.dim
        GROUP BY q.vec_id, q.sub, c.cid
    ), a1 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d1) WHERE rn = 1
    ), s1 AS (
        SELECT a.cid, q.dim, sum(q.v) AS s, count(*) AS n
        FROM q JOIN a1 a ON q.vec_id = a.vec_id AND q.sub = a.sub
        GROUP BY a.cid, q.dim
    ), c1 AS (
        SELECT cid, dim // {sd} AS sub, dim, {floor_div} AS c FROM s1
    ), d2 AS (
        SELECT q.vec_id, q.sub, c.cid,
               sum((q.v - c.c) * (q.v - c.c)) AS dist
        FROM q JOIN c1 c ON q.dim = c.dim
        GROUP BY q.vec_id, q.sub, c.cid
    ), a2 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d2) WHERE rn = 1
    ), s2 AS (
        SELECT a.cid, q.dim, sum(q.v) AS s, count(*) AS n
        FROM q JOIN a2 a ON q.vec_id = a.vec_id AND q.sub = a.sub
        GROUP BY a.cid, q.dim
    ), c2 AS (
        SELECT cid, dim // {sd} AS sub, dim, {floor_div} AS c FROM s2
    ), d3 AS (
        -- final encode pass: codes assigned against the POST-update
        -- codebooks, consistent with what ADC reads (pq_train_encode)
        SELECT q.vec_id, q.sub, c.cid,
               sum((q.v - c.c) * (q.v - c.c)) AS dist
        FROM q JOIN c2 c ON q.dim = c.dim
        GROUP BY q.vec_id, q.sub, c.cid
    ), a3 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d3) WHERE rn = 1
    ), qv AS (
        SELECT dim, v FROM q WHERE vec_id = 0
    ), tab AS (
        SELECT c.sub, c.cid, sum((c.c - qv.v) * (c.c - qv.v)) AS dsub
        FROM c2 c JOIN qv ON c.dim = qv.dim GROUP BY c.sub, c.cid
    ), adc AS (
        SELECT a.vec_id, sum(t.dsub)::BIGINT AS adc_dist
        FROM a3 a JOIN tab t ON t.sub = a.sub AND t.cid = a.cid
        WHERE a.vec_id <> 0 GROUP BY a.vec_id
    ), topadc AS (
        SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    ), exact AS (
        SELECT q.vec_id, sum((q.v - qv.v) * (q.v - qv.v))::BIGINT AS dist
        FROM q JOIN qv ON q.dim = qv.dim
        WHERE q.vec_id <> 0 GROUP BY q.vec_id
    ), ex10 AS (
        SELECT vec_id FROM exact ORDER BY dist, vec_id LIMIT 10
    )
    SELECT t.vec_id, t.adc_dist, (e.vec_id IS NOT NULL) AS in_exact10
    FROM topadc t LEFT JOIN ex10 e ON t.vec_id = e.vec_id
    """


@query(
    "v8_pq_adc",
    _v8_oracle(),
    "Product-quantization ANN (Jégou et al. 2011) with asymmetric "
    "distance computation, cross-engine exact end to end: 16 subspaces "
    "× 32 integer codewords trained per subspace by kmeans_exact's "
    "Lloyd core (functions/ann.py pq_train_encode): up to "
    "ann._KMEANS_DRIVER_ROW_CAP vectors one bounded Arrow collect is "
    "the whole training and the codes return as a driver-held frame; "
    "above it each round is one mapInArrow pass plus one small "
    "aggregation. Then dist(q,x) ≈ "
    "Σ_sub table[sub, code(x,sub)] where the 512-cell query table "
    "broadcasts and the ADC pass is one equi-join + one sum over the "
    "CODES column — the original vectors are never rescanned, which at "
    "100 TB is a ~20× narrower read than the embedding column (the "
    "memory-bound regime IVF probes can't reach). Output rides the "
    "exact top-10 membership flag, so the driver hash pins recall@10 "
    "of the compressed index, not just its distances. (The synthetic "
    "near-uniform embeddings are PQ's adversarial case — distance "
    "concentration — so the measured recall@10 = 5 with 80-bit codes "
    "is the honest ceiling here, vs 1-2 for 12-bit codes; clustered "
    "real-embedding corpora sit far above it.)",
)
def v8_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import ann

    emb = _t(spark, sf_dir, "embeddings")
    codes, books = ann.pq_train_encode(emb, n_sub=16, k_sub=32, dim=_EMB_DIM)
    q = emb.select(
        "vec_id",
        F.posexplode(ann.quantize_col(F.col("embedding"), 1000)).alias(
            "dim", "v"
        ),
    )
    qv = q.filter(F.col("vec_id") == 0).select("dim", "v")
    top = ann.pq_adc_topk(
        codes.filter(F.col("vec_id") != 0), books, qv
    )
    qvr = qv.withColumnRenamed("v", "qv")
    diff = F.col("v") - F.col("qv")
    ex10 = (
        q.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvr), "dim")
        .groupBy("vec_id")
        .agg(F.sum(diff * diff).alias("dist"))
        .orderBy("dist", "vec_id")
        .limit(10)
        .select("vec_id", F.lit(True).alias("in_exact10"))
    )
    return top.join(ex10, "vec_id", "left").select(
        "vec_id",
        "adc_dist",
        F.coalesce("in_exact10", F.lit(False)).alias("in_exact10"),
    )


def _v9_oracle() -> str:
    d = _EMB_DIM
    code = (
        "CASE WHEN vmax > vmin THEN "
        "round(((v - vmin) * 255.0) / (vmax - vmin))::BIGINT "
        "ELSE 0 END"
    )
    return f"""
    WITH q AS (
        SELECT vec_id, g.i - 1 AS dim, embedding[g.i]::DOUBLE AS v
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), stats AS (
        SELECT dim, min(v) AS vmin, max(v) AS vmax FROM q GROUP BY dim
    ), codes AS (
        SELECT q.vec_id, q.dim, {code} AS code
        FROM q JOIN stats USING (dim)
    ), qc AS (
        SELECT dim, code AS qcode FROM codes WHERE vec_id = 0
    ), dist AS (
        SELECT c.vec_id,
               sum((c.code - qc.qcode) * (c.code - qc.qcode))::BIGINT
                   AS sq_dist
        FROM codes c JOIN qc USING (dim)
        WHERE c.vec_id <> 0 GROUP BY c.vec_id
    ), topsq AS (
        SELECT vec_id, sq_dist FROM dist ORDER BY sq_dist, vec_id LIMIT 10
    ), qi AS (
        SELECT vec_id, dim, round(v * 1000)::BIGINT AS vq FROM q
    ), qv AS (
        SELECT dim, vq FROM qi WHERE vec_id = 0
    ), exact AS (
        SELECT qi.vec_id,
               sum((qi.vq - qv.vq) * (qi.vq - qv.vq))::BIGINT AS dist
        FROM qi JOIN qv USING (dim)
        WHERE qi.vec_id <> 0 GROUP BY qi.vec_id
    ), ex10 AS (
        SELECT vec_id FROM exact ORDER BY dist, vec_id LIMIT 10
    )
    SELECT t.vec_id, t.sq_dist, (e.vec_id IS NOT NULL) AS in_exact10
    FROM topsq t LEFT JOIN ex10 e ON t.vec_id = e.vec_id
    """


@query(
    "v9_sq8_rerank",
    _v9_oracle(),
    "Scalar-quantization (int8) ANN screen, cross-engine exact: per "
    "dimension the corpus min/max train a 64-row codebook (one 64-key "
    "map-side-combined aggregate — constant state at any corpus size), "
    "each float32 component maps to round(255·(x−min)/(max−min)) and "
    "candidate distance is the pure-integer Σ(code−qcode)² — "
    "order-free, so the value hash pins it exactly. The codes column "
    "is 8 bits/dim = 4× narrower than the float32 embeddings, so at "
    "100 TB the screen reads a quarter of the bytes and stays in "
    "whole-stage codegen; the exact-top-10 membership flag rides along "
    "so the driver hash also pins recall@10 of the compressed screen "
    "(complements v8's PQ/ADC path: SQ8 is the higher-recall, "
    "lower-compression point on the same curve). Replaces brute-force "
    "float rescans the reference does in pandas (nearest-neighbour "
    "passes in user_tools analysis scripts).",
)
def v9_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    stats = q.groupBy("dim").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    code = F.when(
        F.col("vmax") > F.col("vmin"),
        F.round(
            ((F.col("v") - F.col("vmin")) * 255.0)
            / (F.col("vmax") - F.col("vmin")),
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    codes = q.join(F.broadcast(stats), "dim").select(
        "vec_id", "dim", code.alias("code")
    )
    qc = codes.filter(F.col("vec_id") == 0).select(
        "dim", F.col("code").alias("qcode")
    )
    diff = F.col("code") - F.col("qcode")
    topsq = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qc), "dim")
        .groupBy("vec_id")
        .agg(F.sum(diff * diff).alias("sq_dist"))
        .orderBy("sq_dist", "vec_id")
        .limit(10)
    )
    qi = q.select(
        "vec_id", "dim", F.round(F.col("v") * 1000, 0).cast("long").alias("vq")
    )
    qv = qi.filter(F.col("vec_id") == 0).select(
        "dim", F.col("vq").alias("qvq")
    )
    ediff = F.col("vq") - F.col("qvq")
    ex10 = (
        qi.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), "dim")
        .groupBy("vec_id")
        .agg(F.sum(ediff * ediff).alias("dist"))
        .orderBy("dist", "vec_id")
        .limit(10)
        .select("vec_id", F.lit(True).alias("in_exact10"))
    )
    return topsq.join(ex10, "vec_id", "left").select(
        "vec_id",
        "sq_dist",
        F.coalesce("in_exact10", F.lit(False)).alias("in_exact10"),
    )


def _v10_oracle() -> str:
    floor_div = "((s - (((s % n) + n) % n)) / n)::BIGINT"
    sd = _EMB_DIM // 16  # 16 subspaces
    return (
        _v5_ctes()
        + f""", pq AS (
        SELECT vec_id, dim, dim // {sd} AS sub, v FROM q
    ), p0 AS (
        SELECT vec_id AS cid, sub, dim, v AS c FROM pq
        WHERE vec_id BETWEEN 1 AND 32
    ), pd1 AS (
        SELECT pq.vec_id, pq.sub, c.cid,
               sum((pq.v - c.c) * (pq.v - c.c)) AS dist
        FROM pq JOIN p0 c ON pq.dim = c.dim
        GROUP BY pq.vec_id, pq.sub, c.cid
    ), pa1 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM pd1) WHERE rn = 1
    ), ps1 AS (
        SELECT a.cid, pq.dim, sum(pq.v) AS s, count(*) AS n
        FROM pq JOIN pa1 a ON pq.vec_id = a.vec_id AND pq.sub = a.sub
        GROUP BY a.cid, pq.dim
    ), p1 AS (
        SELECT cid, dim // {sd} AS sub, dim, {floor_div} AS c FROM ps1
    ), pd2 AS (
        SELECT pq.vec_id, pq.sub, c.cid,
               sum((pq.v - c.c) * (pq.v - c.c)) AS dist
        FROM pq JOIN p1 c ON pq.dim = c.dim
        GROUP BY pq.vec_id, pq.sub, c.cid
    ), pa2 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM pd2) WHERE rn = 1
    ), ps2 AS (
        SELECT a.cid, pq.dim, sum(pq.v) AS s, count(*) AS n
        FROM pq JOIN pa2 a ON pq.vec_id = a.vec_id AND pq.sub = a.sub
        GROUP BY a.cid, pq.dim
    ), p2 AS (
        SELECT cid, dim // {sd} AS sub, dim, {floor_div} AS c FROM ps2
    ), pd3 AS (
        -- final encode pass against the POST-update PQ codebooks
        -- (pq_train_encode's consistent-codes semantics)
        SELECT pq.vec_id, pq.sub, c.cid,
               sum((pq.v - c.c) * (pq.v - c.c)) AS dist
        FROM pq JOIN p2 c ON pq.dim = c.dim
        GROUP BY pq.vec_id, pq.sub, c.cid
    ), pa3 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM pd3) WHERE rn = 1
    ), qv AS (
        SELECT dim, v FROM q WHERE vec_id = 0
    ), cd AS (
        SELECT c.cid, sum((c.c - qv.v) * (c.c - qv.v)) AS cdist
        FROM c2 c JOIN qv USING (dim) GROUP BY c.cid
    ), probe AS (
        SELECT cid FROM (
            SELECT cid, row_number() OVER (ORDER BY cdist, cid) AS rn
            FROM cd) WHERE rn <= 2
    ), cand AS (
        SELECT a.vec_id, a.cid AS coarse FROM a2 a
        JOIN probe p ON a.cid = p.cid
        WHERE a.vec_id <> 0
    ), tab AS (
        SELECT c.sub, c.cid, sum((c.c - qv.v) * (c.c - qv.v)) AS dsub
        FROM p2 c JOIN qv ON c.dim = qv.dim GROUP BY c.sub, c.cid
    ), adc AS (
        SELECT a.vec_id, sum(t.dsub)::BIGINT AS adc_dist
        FROM pa3 a
        JOIN cand ON a.vec_id = cand.vec_id
        JOIN tab t ON t.sub = a.sub AND t.cid = a.cid
        GROUP BY a.vec_id
    ), topadc AS (
        SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    ), exact AS (
        SELECT q.vec_id, sum((q.v - qv.v) * (q.v - qv.v))::BIGINT AS dist
        FROM q JOIN qv USING (dim)
        WHERE q.vec_id <> 0 GROUP BY q.vec_id
    ), ex10 AS (
        SELECT vec_id FROM exact ORDER BY dist, vec_id LIMIT 10
    )
    SELECT t.vec_id, c.coarse AS cid, t.adc_dist,
           (e.vec_id IS NOT NULL) AS in_exact10
    FROM topadc t
    JOIN cand c ON t.vec_id = c.vec_id
    LEFT JOIN ex10 e ON t.vec_id = e.vec_id
    """
    )


@query(
    "v10_ivf_pq",
    _v10_oracle(),
    "IVF-PQ search (IVFADC, Jégou et al. 2011 §IV — FAISS's "
    "``IVFx,PQy``, the production ANN index): v6's coarse quantizer "
    "routes the query to its 2 nearest cells, ranked on the driver "
    "from the driver-held codebook, and v8's PQ/ADC scores "
    "ONLY those cells' members from their codes (both trained by "
    "one Lloyd core, each behind one bounded collect) — the two "
    "compressions multiply, so at 100 TB the scan touches n_probe/k "
    "of the corpus (partition pruning when cluster_id keys the lake "
    "layout) AND reads the ~20x narrower codes column. The oracle "
    "composes the full v5 kmeans CTEs with the full per-subspace PQ "
    "training CTEs and replays routing + ADC end to end; exact-top-10 "
    "membership flags ride along so the driver hash pins the recall "
    "of the COMPOSED index, which is what a user actually deploys "
    "(functions/ann.ivf_pq_topk).",
)
def v10_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import ann

    emb = _t(spark, sf_dir, "embeddings")
    qvec = tables.lookup_param_row(
        sf_dir, "embeddings", "vec_id", 0, "embedding"
    )
    top = ann.ivf_pq_topk(
        emb, qvec, k=8, iters=2, n_probe=2, n_sub=16, k_sub=32,
        dim=_EMB_DIM,
    )
    q = emb.select(
        "vec_id",
        F.posexplode(ann.quantize_col(F.col("embedding"), 1000)).alias(
            "dim", "v"
        ),
    )
    qv = q.filter(F.col("vec_id") == 0).select(
        "dim", F.col("v").alias("qv")
    )
    diff = F.col("v") - F.col("qv")
    ex10 = (
        q.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), "dim")
        .groupBy("vec_id")
        .agg(F.sum(diff * diff).alias("dist"))
        .orderBy("dist", "vec_id")
        .limit(10)
        .select("vec_id", F.lit(True).alias("in_exact10"))
    )
    return top.join(ex10, "vec_id", "left").select(
        "vec_id",
        "cid",
        "adc_dist",
        F.coalesce("in_exact10", F.lit(False)).alias("in_exact10"),
    )


@query(
    "v12_cluster_quality",
    """
    WITH q AS (
        SELECT label, vec_id, g.i - 1 AS dim,
               round(embedding[g.i]::DOUBLE * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, 64)) AS g(i)
    ), s AS (
        SELECT label, dim, sum(v)::BIGINT AS sv, count(*)::BIGINT AS n
        FROM q GROUP BY label, dim
    ), c AS (
        SELECT label, dim,
               ((sv - (((sv % n) + n) % n)) / n)::BIGINT AS c FROM s
    ), dist AS (
        SELECT q.vec_id, q.label,
               CAST(round(sqrt(sum((q.v - c.c) * (q.v - c.c))::DOUBLE)
                          * 1000000) AS BIGINT) AS dq
        FROM q JOIN c ON q.label = c.label AND q.dim = c.dim
        GROUP BY q.vec_id, q.label
    ), scat AS (
        SELECT label, count(*)::BIGINT AS n_members,
               ((sum(dq)::BIGINT
                 - (((sum(dq)::BIGINT % count(*)) + count(*)) % count(*)))
                / count(*))::BIGINT AS s_q
        FROM dist GROUP BY label
    ), m AS (
        SELECT a.label AS la, b.label AS lb,
               CAST(round(sqrt(sum((a.c - b.c) * (a.c - b.c))::DOUBLE)
                          * 1000000) AS BIGINT) AS m_q
        FROM c a JOIN c b ON a.dim = b.dim AND a.label <> b.label
        GROUP BY a.label, b.label
    ), r AS (
        SELECT m.la AS lbl,
               max(round((sa.s_q + sb.s_q)::DOUBLE / m.m_q, 6)) AS db_comp
        FROM m JOIN scat sa ON sa.label = m.la
               JOIN scat sb ON sb.label = m.lb
        GROUP BY m.la
    )
    SELECT s.label::BIGINT AS label, s.n_members, s.s_q, r.db_comp
    FROM scat s JOIN r ON r.lbl = s.label
    """,
    "Cluster-quality metrics (Davies-Bouldin components over the "
    "labeled embedding clusters — the evaluation step after v5/v7 "
    "clustering or any partitioned ANN build): per-cluster integer "
    "centroid (v5's portable floor-division), micro-int scatter "
    "(mean member→centroid distance; sqrt is IEEE correctly rounded "
    "so the quantized distance is bit-stable cross-engine), pairwise "
    "centroid separation, and db_comp = max_j (s_i+s_j)/m_ij — the "
    "classic 'worst neighbor' score per cluster. Centroids are k×dim "
    "rows and BROADCAST to both the member-distance probe and the "
    "k² separation join; the only data-scale pass is the one "
    "(vec, label) aggregation.",
)
def v12_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import ann

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("label").cast("long").alias("label"),
        "vec_id",
        F.posexplode(ann.quantize_col(F.col("embedding"), 1000)).alias(
            "dim", "v"
        ),
    )

    def _floordiv(s: F.Column, n: F.Column) -> F.Column:
        return ((s - (((s % n) + n) % n)) / n).cast("long")

    s = q.groupBy("label", "dim").agg(
        F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n")
    )
    c = s.select(
        "label", "dim", _floordiv(F.col("sv"), F.col("n")).alias("c")
    )
    diff = F.col("v") - F.col("c")
    dist = (
        q.join(F.broadcast(c), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum(diff * diff).cast("double")) * 1000000, 0
            )
            .cast("long")
            .alias("dq")
        )
    )
    scat = dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        _floordiv(F.sum("dq"), F.count(F.lit(1))).alias("s_q"),
    )
    ca, cb = c.alias("ca"), c.alias("cb")
    cd = F.col("ca.c") - F.col("cb.c")
    m = (
        ca.join(
            F.broadcast(cb),
            (F.col("ca.dim") == F.col("cb.dim"))
            & (F.col("ca.label") != F.col("cb.label")),
        )
        .groupBy(
            F.col("ca.label").alias("la"), F.col("cb.label").alias("lb")
        )
        .agg(
            F.round(F.sqrt(F.sum(cd * cd).cast("double")) * 1000000, 0)
            .cast("long")
            .alias("m_q")
        )
    )
    sa = scat.select(
        F.col("label").alias("la"), F.col("s_q").alias("sa_q")
    )
    sb = scat.select(
        F.col("label").alias("lb"), F.col("s_q").alias("sb_q")
    )
    r = (
        m.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .groupBy(F.col("la").alias("lbl"))
        .agg(
            F.max(
                F.round(
                    (F.col("sa_q") + F.col("sb_q")).cast("double")
                    / F.col("m_q"),
                    6,
                )
            ).alias("db_comp")
        )
    )
    return scat.join(r, scat["label"] == r["lbl"]).select(
        "label", "n_members", "s_q", "db_comp"
    )


def _v13_oracle() -> str:
    d = _EMB_DIM
    return f"""
    WITH q AS (
        SELECT vec_id, g.i - 1 AS dim,
               round(embedding[g.i] * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), qv AS (
        SELECT dim, v AS qv FROM q WHERE vec_id = 0
    ), dist AS (
        SELECT q.vec_id,
               sum((q.v - qv.qv) * (q.v - qv.qv))::BIGINT AS dist_full,
               sum(CASE WHEN q.dim < 16
                   THEN (q.v - qv.qv) * (q.v - qv.qv) ELSE 0 END)::BIGINT
                   AS dist_pre
        FROM q JOIN qv USING (dim) WHERE q.vec_id <> 0
        GROUP BY q.vec_id
    ), full10 AS (
        SELECT vec_id, dist_full,
               row_number() OVER (ORDER BY dist_full, vec_id) AS rank
        FROM dist ORDER BY dist_full, vec_id LIMIT 10
    ), pre10 AS (
        SELECT vec_id FROM dist ORDER BY dist_pre, vec_id LIMIT 10
    )
    SELECT f.rank, f.vec_id, f.dist_full,
           (p.vec_id IS NOT NULL) AS in_prefix10
    FROM full10 f LEFT JOIN pre10 p ON f.vec_id = p.vec_id
    """


@query(
    "v13_mrl_recall",
    _v13_oracle(),
    "Matryoshka-embedding retrieval evaluation (Kusupati et al. 2022 "
    "— the truncate-the-embedding trick production vector stores use "
    "to cut index cost 4×): exact integer top-10 under the FULL "
    "64-dim L2 vs top-10 under the first-16-dims prefix, reporting "
    "which full neighbors the truncated index would keep. ONE "
    "posexplode pass computes both distances (the prefix distance is "
    "a CASE-guarded partial of the same sum — no second scan); both "
    "top-10s are TakeOrdered (partial per partition, never a global "
    "sort). The dims-as-rows layout is the v9/v10 discipline: "
    "quantized int64 coordinates make both engines' sums bit-equal.",
)
def v13_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import ann

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(ann.quantize_col(F.col("embedding"), 1000)).alias(
            "dim", "v"
        ),
    )
    qv = q.filter(F.col("vec_id") == 0).select(
        "dim", F.col("v").alias("qv")
    )
    diff = F.col("v") - F.col("qv")
    dist = (
        q.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(diff * diff).cast("long").alias("dist_full"),
            F.sum(F.when(F.col("dim") < 16, diff * diff).otherwise(0))
            .cast("long")
            .alias("dist_pre"),
        )
    )
    full10 = (
        dist.orderBy("dist_full", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "dist_full",
            F.row_number()
            .over(Window.orderBy("dist_full", "vec_id"))
            .alias("rank"),
        )
    )
    pre10 = (
        dist.orderBy("dist_pre", "vec_id")
        .limit(10)
        .select("vec_id", F.lit(True).alias("in_prefix10"))
    )
    return full10.join(pre10, "vec_id", "left").select(
        "rank",
        "vec_id",
        "dist_full",
        F.coalesce("in_prefix10", F.lit(False)).alias("in_prefix10"),
    )


def _v14_oracle(rounds: int = 3) -> str:
    d = _EMB_DIM
    fdiv = lambda x, dd: f"((({x}) - (({x}) % ({dd}))) / ({dd}))"  # noqa: E731
    its = []
    for r in range(1, rounds + 1):
        its.append(f"""dt{r} AS (
        SELECT q.vec_id, sum(q.xv * v.vm)::BIGINT AS dp
        FROM q JOIN v{r - 1} v ON q.dim = v.dim
        GROUP BY q.vec_id
    ), s{r} AS (
        SELECT q.dim, {fdiv('sum(d.dp * q.xv)', '100000000')}::BIGINT
            AS sq
        FROM q JOIN dt{r} d ON q.vec_id = d.vec_id
        GROUP BY q.dim
    ), n{r} AS (
        SELECT sqrt(sum(sq * sq)::DOUBLE) AS nrm FROM s{r}
    ), v{r} AS (
        SELECT s.dim,
               CAST(round(s.sq * 8000 / n.nrm) AS BIGINT) AS vm
        FROM s{r} s CROSS JOIN n{r} n
    )""")
    return f"""
    WITH q AS (
        SELECT vec_id, g.i - 1 AS dim,
               round(embedding[g.i] * 1000)::BIGINT AS xv
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), v0 AS (
        SELECT g.i - 1 AS dim, 1000::BIGINT AS vm
        FROM unnest(generate_series(1, {d})) AS g(i)
    ), {', '.join(its)}
    SELECT dim, vm FROM v{rounds}
    """


@query(
    "v14_pca_power_iteration",
    _v14_oracle(),
    "Top principal direction of the embedding table by power "
    "iteration — the distributed-PCA primitive (covariance-free "
    "X^T(Xv) form, the Krylov step every large-scale spectral method "
    "builds on; used in practice to de-bias embeddings by removing "
    "the dominant component). Each of the 3 unrolled rounds is two "
    "corpus-shape aggregations: per-row dots d = Xv (v is a 64-row "
    "broadcast), then per-dim sums s = X^T d — never a materialized "
    "covariance matrix (64² would be fine here, but d² at real widths "
    "is exactly what this formulation avoids). Cross-engine exactness "
    "at every step: coordinates are milli-ints, the dots and back-"
    "projections are exact int64 sums (order-free), s is floor-"
    "divided by 1e8 so Σsq² stays in int64 (the norm's sqrt input is "
    "EXACT — no float summation-order hazard), and renormalization "
    "is one IEEE multiply-divide-round per dim. The exploded "
    "coordinate frame is pinned once; per-round state is the 64-row "
    "vector.",
)
def v14_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-11 shape (guide §2.4 + §4.2, the kmeans_exact codebook
    # pattern): the iterated vector v is dim-sized — metadata — so it
    # lives on the DRIVER between rounds, and each power-iteration round
    # is ONE shuffle-free vectorized numpy pass over the pinned
    # quantized-array frame fusing d = Xv and the per-dim partials of
    # s = Xᵀd (the historical shape ran a broadcast join + vec_id
    # aggregation, then a shuffle-hash join + dim aggregation — two
    # corpus shuffles per round). Arithmetic is identical: dots and
    # back-projections are exact order-free int64 sums whether reduced
    # by numpy or a hash aggregate; the floor-division, the exact
    # int64 norm, and the one IEEE multiply-divide-HALF_UP-round per
    # dim run on the driver with the same operation sequence the JVM
    # expressions used; the round is ann._np_quantize, bit-equal to
    # Spark's BigDecimal HALF_UP.
    import math

    import numpy as np
    from pyspark.sql import types as T

    from openseizuredatabase_spark.functions.ann import (
        _arrow_batch,
        _np_length_groups,
        _np_quantize,
        quantize_col,
    )

    emb = _ts(spark, sf_dir, "embeddings")
    qa = pin(
        emb.select("vec_id", quantize_col(F.col("embedding"), 1000).alias("__v"))
    )
    part_schema = T.StructType(
        [
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
        ]
    )

    def xtxv_pass(warr):
        """One corpus pass: per-batch partial Σ dp·xv per dim, where
        dp = Σ xv·vm over the vector's own dims (dims are dense array
        prefixes, so a length-L vector dots against warr[:L]).
        ``warr`` None means the all-1000 initial vector."""

        def run(it):
            for batch in it:
                max_l = 0
                acc = None
                for L, mat, _ in _np_length_groups(batch, "__v"):
                    w = (
                        np.full(L, 1000, dtype=np.int64)
                        if warr is None
                        else warr[:L]
                    )
                    dp = mat @ w
                    back = (mat * dp[:, None]).sum(axis=0)
                    if acc is None or L > max_l:
                        grown = np.zeros(L, dtype=np.int64)
                        if acc is not None:
                            grown[: max_l] += acc
                        acc, max_l = grown, L
                    acc[:L] += back
                if acc is not None:
                    # dims are dense prefixes, so every dim < max_l is
                    # present in this batch — emit all of them (zeros
                    # included: presence defines the output dim set)
                    yield _arrow_batch(
                        zip(range(max_l), acc.tolist()), part_schema
                    )

        return (
            qa.mapInArrow(run, schema=part_schema)
            .groupBy("dim")
            .agg(F.sum("s").alias("s"))
            .collect()
        )

    def _truncdiv(x: int, dd: int) -> int:
        # Spark/DuckDB (x - x % dd) / dd with C-style remainder ==
        # integer division truncating toward zero
        return -((-x) // dd) if x < 0 else x // dd

    warr = None
    vm_rows: list = []
    for _ in range(3):
        totals = xtxv_pass(warr)
        sq = {r["dim"]: _truncdiv(r["s"], 100_000_000) for r in totals}
        nrm = math.sqrt(float(sum(v * v for v in sq.values())))
        dims = sorted(sq)
        vms = _np_quantize([float(sq[d] * 8000) / nrm for d in dims], 1)
        vm_rows = list(zip(dims, vms.tolist()))
        warr = np.zeros(len(vm_rows), dtype=np.int64)
        for d, vm in vm_rows:
            warr[d] = vm
    return literal_df(spark, vm_rows, "dim int, vm bigint")


_V15_EPS6 = 20000  # eps = 0.02 in micro-units
_V15_MINPTS = 4
# the 4 lexicographically forward grid offsets (dx, dy): with same-cell
# pairs, each unordered pair of neighbouring cells is searched once
_V15_FORWARD = ((0, 1), (1, -1), (1, 0), (1, 1))


def _v15_oracle() -> str:
    e2 = _V15_EPS6 * _V15_EPS6
    return f"""
    WITH RECURSIVE p AS (
        SELECT vec_id,
               CAST(round(embedding[1]::DOUBLE * 1000000) AS BIGINT) AS x,
               CAST(round(embedding[2]::DOUBLE * 1000000) AS BIGINT) AS y
        FROM embeddings
    ), nbr AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM p a JOIN p b
          ON (a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y) <= {e2}
    ), core AS (
        SELECT ia AS vec_id FROM nbr GROUP BY ia
        HAVING count(*) >= {_V15_MINPTS}
    ), eg AS (
        SELECT n.ia AS a, n.ib AS b FROM nbr n
        JOIN core ca ON n.ia = ca.vec_id
        JOIN core cb ON n.ib = cb.vec_id
        WHERE n.ia <> n.ib
    ), reach(id, r) AS (
        SELECT vec_id, vec_id FROM core
        UNION
        SELECT reach.id, e.b FROM reach JOIN eg e ON reach.r = e.a
    ), comps AS (
        SELECT id, min(r)::BIGINT AS comp FROM reach GROUP BY id
    ), border AS (
        SELECT n.ia AS vec_id, min(c.comp)::BIGINT AS comp
        FROM nbr n
        JOIN comps c ON n.ib = c.id
        WHERE n.ia NOT IN (SELECT vec_id FROM core)
        GROUP BY n.ia
    ), core_per AS (
        SELECT comp AS cluster, count(*)::BIGINT AS n_core
        FROM comps GROUP BY comp
    ), border_per AS (
        SELECT comp AS cluster, count(*)::BIGINT AS n_border
        FROM border GROUP BY comp
    ), noise AS (
        SELECT count(*)::BIGINT AS n FROM p
        WHERE vec_id NOT IN (SELECT id FROM comps)
          AND vec_id NOT IN (SELECT vec_id FROM border)
    )
    SELECT c.cluster, c.n_core,
           coalesce(b.n_border, 0)::BIGINT AS n_border,
           (c.n_core + coalesce(b.n_border, 0))::BIGINT AS n_total
    FROM core_per c LEFT JOIN border_per b ON c.cluster = b.cluster
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS cluster, CAST(0 AS BIGINT) AS n_core,
           CAST(0 AS BIGINT) AS n_border, n AS n_total
    FROM noise
    """


@query(
    "v15_dbscan_grid",
    _v15_oracle(),
    "Grid-blocked DBSCAN over the embedding table's first two "
    "dimensions (density clustering with noise — the clustering "
    "family's answer to what v5's k-means cannot do: arbitrary-shape "
    "clusters and an explicit outlier verdict; eps=0.02, minPts=4 "
    "including self). Scale design: the eps-neighborhood graph comes "
    "from cell-size-eps grid blocking — each point is tested only "
    "against its own cell and the 4 forward neighbor cells (the same "
    "never-O(n^2) rule as v3's buckets and j10's pigeonholes), and "
    "the grid guarantees candidate completeness since an eps-ball "
    "cannot leave adjacent cells. Distances are exact micro-unit "
    "integers; cores, core-core edges and components are all integer "
    "decisions, so the full cluster assignment is value-hash oracled "
    "against a recursive-CTE closure over the naive quadratic join — "
    "the oracle deliberately takes the rewrite's replaced plan. "
    "Border points adopt the min cluster among their core neighbors; "
    "noise is reported as cluster -1. Two paths, one cap: the points "
    "are collected once, straight off the scan, under dedup's "
    "connected-components "
    "edge cap, and when the grid's candidate pairs (counted from the "
    "cell sizes) also fit under it, the whole clustering runs on the "
    "driver — vectorized pair expansion per cell pair, the same "
    "union-find as the components finisher — and returns a literal. "
    "Otherwise the points are spread by the rows rule and pinned, and "
    "the distributed plan runs: a blocked equi-join over "
    "the 5 offsets, then dedup.connected_components (driver "
    "union-find up to the same cap, star contraction above it). The "
    "cap at -1 forces both distributed steps.",
)
def v15_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double") * 1000000, 0)
        .cast("long")
        .alias("x"),
        F.round(F.element_at("embedding", 2).cast("double") * 1000000, 0)
        .cast("long")
        .alias("y"),
    )
    return _v15_dbscan(p)


def _np_ranges(starts, lens):
    """The concatenated ranges ``starts[i] .. starts[i] + lens[i] - 1``."""
    import numpy as np

    ends = np.cumsum(lens)
    return np.arange(ends[-1] if len(ends) else 0) + np.repeat(
        starts - (ends - lens), lens
    )


def _v15_cells(cx, cy):
    """Grid blocking of the collected points, vectorised: the point
    order sorted by cell, each cell's start and size in that order, and
    the (cell, neighbour cell) index pairs over the 4 forward offsets —
    the cells the distributed join pairs, found by ``searchsorted``."""
    import numpy as np

    ux, ix = np.unique(cx, return_inverse=True)
    uy, iy = np.unique(cy, return_inverse=True)
    ny = len(uy)
    key = ix * ny + iy
    order = np.argsort(key, kind="stable")
    cells, start, size = np.unique(
        key[order], return_index=True, return_counts=True
    )
    gx, gy = ux[cells // ny], uy[cells % ny]

    def find(sorted_vals, want):
        # index of each wanted value in sorted_vals, -1 where absent
        j = np.minimum(np.searchsorted(sorted_vals, want), len(sorted_vals) - 1)
        return np.where(sorted_vals[j] == want, j, -1)

    src, dst = [], []
    for dx, dy in _V15_FORWARD:
        jx, jy = find(ux, gx + dx), find(uy, gy + dy)
        ok = (jx >= 0) & (jy >= 0)
        j = find(cells, jx * ny + jy)
        ok &= j >= 0
        src.append(np.nonzero(ok)[0])
        dst.append(j[ok])
    return order, start, size, np.concatenate(src), np.concatenate(dst)


def _v15_candidates(size, src, dst) -> int:
    """Grid candidate pairs from ``_v15_cells``: same-cell pairs once,
    plus every pair across a cell and a forward neighbour cell."""
    return int((size * (size - 1) // 2).sum() + (size[src] * size[dst]).sum())


def _v15_driver_rows(tbl, cap: int):
    """v15's result rows from the collected points ``tbl`` (vec_id, x,
    y, cx, cy), or ``None`` when the grid's candidate pairs exceed
    ``cap``. The candidate set is the distributed join's — same-cell
    pairs once, plus each cell against its 4 forward cells — counted
    from the cell sizes before any pair is built."""
    import numpy as np

    cols = [tbl.column(c) for c in ("vec_id", "x", "y", "cx", "cy")]
    if any(c.null_count for c in cols):
        return None
    ids, x, y, cx, cy = (c.to_numpy() for c in cols)
    n = len(ids)
    order, start, size, src, dst = _v15_cells(cx, cy)
    if _v15_candidates(size, src, dst) > cap:
        return None
    # forward pairs: every point of a cell against every point of its
    # forward cell, expanded with repeat (positions in `order`)
    a_pos = _np_ranges(start[src], size[src])
    nb = np.repeat(size[dst], size[src])
    pa = np.repeat(a_pos, nb)
    pb = _np_ranges(np.repeat(start[dst], size[src]), nb)
    # same-cell pairs: each position against the later ones in its cell
    rem = np.repeat(start + size, size) - np.arange(n) - 1
    pa = np.concatenate([pa, np.repeat(np.arange(n), rem)])
    pb = np.concatenate([pb, _np_ranges(np.arange(n) + 1, rem)])
    a, b = order[pa], order[pb]
    ddx, ddy = x[a] - x[b], y[a] - y[b]
    near = ddx * ddx + ddy * ddy <= _V15_EPS6 * _V15_EPS6
    a, b = a[near], b[near]
    # degree counts the point itself
    deg = 1 + np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    core = deg >= _V15_MINPTS
    both = core[a] & core[b]
    labels = dedup_ops._driver_cc_labels(
        zip(ids[a[both]].tolist(), ids[b[both]].tolist())
    )
    # a core with no core neighbour is its own cluster
    comp = ids.copy()
    core_idx = np.nonzero(core)[0]
    comp[core_idx] = [labels.get(i, i) for i in ids[core_idx].tolist()]
    # a border point takes the min component among its core neighbours
    ab, ba = core[b] & ~core[a], core[a] & ~core[b]
    bpt = np.concatenate([a[ab], b[ba]])
    bcomp = np.concatenate([comp[b[ab]], comp[a[ba]]])
    border = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(border, bpt, bcomp)
    border = border[np.unique(bpt)]
    clusters, n_core = np.unique(comp[core_idx], return_counts=True)
    n_border = np.zeros(len(clusters), dtype=np.int64)
    bc, bn = np.unique(border, return_counts=True)
    n_border[np.searchsorted(clusters, bc)] = bn
    rows = list(
        zip(clusters.tolist(), n_core.tolist(), n_border.tolist(),
            (n_core + n_border).tolist())
    )
    rows.append((-1, 0, 0, n - len(core_idx) - len(border)))
    return rows


def _v15_dbscan(p: DataFrame) -> DataFrame:
    """Grid-blocked DBSCAN over integer points ``p`` (vec_id, x, y)."""
    spark = p.sparkSession
    eps6 = _V15_EPS6
    e2 = eps6 * eps6
    cell = lambda c: F.floor(F.col(c).cast("double") / float(eps6)).cast(
        "long"
    )
    pc = p.select(
        "vec_id", "x", "y", cell("x").alias("cx"), cell("y").alias("cy")
    )
    # forward-half sweep (round-11, guide §2.2 "shuffle fewer bytes"):
    # the historical shape replicated every point to all 9 neighbor
    # cells, so each unordered candidate pair was shuffled and
    # distance-tested TWICE. Each unordered cell pair {C, C+δ} is now
    # covered exactly once — δ ranges over the 4 lexicographically
    # FORWARD offsets (one of ±δ each) — and same-cell pairs once via
    # ia < ib; mirroring the survivors rebuilds the identical directed
    # pair multiset (each ordered pair appeared exactly once before:
    # a-replica meets b in b's home cell only). 5n rows into the join
    # instead of 9n, half the distance tests, same nbr frame.
    # the gate reads the points straight off the scan: at or under the
    # connected-components edge cap in points AND in grid candidate
    # pairs the whole clustering runs on the driver, and the collect is
    # the only job
    cap = dedup_ops._CC_DRIVER_EDGE_CAP
    tbl = bounded_collect(pc, cap)
    if tbl is not None:
        rows = _v15_driver_rows(tbl, cap)
        if rows is not None:
            return rows_frame(
                spark, rows,
                "cluster long, n_core long, n_border long, n_total long",
            )
    # the point table is consumed by FIVE plan branches (three join
    # sides, the self-edge branch, and the noise anti-join); at any
    # scale re-deriving it means five parquet scans, so it is pinned.
    # The rows rule sizes it from the measured count: a repartition,
    # since a coalesce cannot widen a one-split scan
    n = tbl.num_rows if tbl is not None else pc.count()
    pc = pin(pc.repartition(rows_width(spark, n)))
    # a 4-row constant: a LocalRelation literal, NOT createDataFrame —
    # the RDD path schedules one Python-worker task per core to ship
    # four integers (measured 0.6 s of pure scheduling at sf0.1)
    offs = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(
            f"(CAST({dx} AS LONG), CAST({dy} AS LONG))"
            for dx, dy in _V15_FORWARD
        )
        + " AS t(dx, dy)"
    )
    a = pc.crossJoin(F.broadcast(offs)).select(
        F.col("vec_id").alias("ia"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("dx")).alias("kx"),
        (F.col("cy") + F.col("dy")).alias("ky"),
    )
    same = pc.select(
        F.col("vec_id").alias("ia"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("cx").alias("kx"),
        F.col("cy").alias("ky"),
    )
    b = pc.select(
        F.col("vec_id").alias("ib"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("kx"),
        F.col("cy").alias("ky"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    # the forward-half pair set is referenced TWICE (itself and its
    # mirror) and the eps-graph built from it feeds four consumers;
    # materialize the expensive blocked join once. The four pins of
    # this path are lazy: with the caps at -1 on Spark 4.1.2 (sf0.1,
    # local[4]) they ran 53–55 jobs against eager pins' 56–57 and a
    # warm median of 5.2 s against 6.5 s, though their jobs list more
    # stages (93–113 against 86–87); the count below is this pin's
    # first action
    half = pin(
        a.join(b, ["kx", "ky"])
        .unionByName(
            same.join(b, ["kx", "ky"]).filter(F.col("ia") < F.col("ib"))
        )
        .filter(dx * dx + dy * dy <= F.lit(e2))
        .select("ia", "ib")
    )
    half = half.coalesce(rows_width(spark, half.count()))
    # nbr is now a cheap narrow union over the cached half + pc — no
    # checkpoint needed: each consumer re-reads cache, not the join
    nbr = half.unionByName(
        half.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"))
    ).unionByName(
        pc.select(
            F.col("vec_id").alias("ia"), F.col("vec_id").alias("ib")
        )
    )
    # one row per core point; consumed by eg (twice), singles, and
    # the border anti-join
    core = pin(
        nbr.groupBy("ia")
        .agg(F.count(F.lit(1)).alias("n_nbr"))
        .filter(F.col("n_nbr") >= _V15_MINPTS)
        .select(F.col("ia").alias("vec_id"))
    )
    eg = (
        nbr.join(core.withColumnRenamed("vec_id", "ia"), "ia")
        .join(core.select(F.col("vec_id").alias("ib")), "ib")
        .filter(F.col("ia") != F.col("ib"))
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
        .distinct()
    )
    cc = dedup_ops.connected_components(eg)
    singles = core.join(
        cc.select(F.col("id").alias("vec_id")), "vec_id", "left_anti"
    ).select(F.col("vec_id").alias("id"), F.col("vec_id").alias("comp"))
    # comps feeds border adoption, the per-cluster census, and the
    # noise anti-join; cc is already a checkpointed label frame but the
    # union re-runs the singles anti-join per consumer — pin the union
    comps = pin(cc.unionByName(singles))
    # consumed by the border census and the noise anti-join
    border = pin(
        nbr.join(core.withColumnRenamed("vec_id", "ia"), "ia", "left_anti")
        .join(
            comps.select(
                F.col("id").alias("ib"), F.col("comp")
            ),
            "ib",
        )
        .groupBy("ia")
        .agg(F.min("comp").cast("long").alias("comp"))
    )
    core_per = comps.groupBy(F.col("comp").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_core")
    )
    border_per = border.groupBy(F.col("comp").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_border")
    )
    noise = (
        pc.select("vec_id")
        .join(comps.select(F.col("id").alias("vec_id")), "vec_id",
              "left_anti")
        .join(border.select(F.col("ia").alias("vec_id")), "vec_id",
              "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        .select(
            F.lit(-1).cast("long").alias("cluster"),
            F.lit(0).cast("long").alias("n_core"),
            F.lit(0).cast("long").alias("n_border"),
            "n_total",
        )
    )
    clusters = (
        core_per.join(border_per, "cluster", "left")
        .select(
            "cluster",
            "n_core",
            F.coalesce("n_border", F.lit(0)).cast("long").alias(
                "n_border"
            ),
            (F.col("n_core") + F.coalesce("n_border", F.lit(0)))
            .cast("long")
            .alias("n_total"),
        )
    )
    return clusters.unionByName(noise)


def _v16_signs() -> list[tuple[int, int, int]]:
    """Deterministic ±1 JL sign matrix (8 x 64), precomputed from md5 so
    it is a pure literal in BOTH engines (no dialect-specific hash
    rendering in the shared plan)."""
    import hashlib

    out = []
    for j in range(8):
        for i in range(64):
            h = int(
                hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:15], 16
            )
            out.append((j, i, 1 if h % 2 == 0 else -1))
    return out


def _v16_oracle() -> str:
    rows = ", ".join(f"({j}, {i}, {s})" for j, i, s in _v16_signs())
    proj_cols = ", ".join(
        f"sum(CASE WHEN s.j = {j} THEN s.sgn * x.xq ELSE 0 END)"
        f"::BIGINT AS y{j}"
        for j in range(8)
    )
    d8 = " + ".join(
        f"(a.y{j} - b.y{j}) * (a.y{j} - b.y{j})" for j in range(8)
    )
    return f"""
    WITH signs(j, i, sgn) AS (
        SELECT * FROM (VALUES {rows})
    ), x AS (
        SELECT vec_id, g.i AS i,
               CAST(round(embedding[g.i + 1]::DOUBLE * 1000000) AS BIGINT) AS xq
        FROM embeddings, unnest(generate_series(0, 63)) AS g(i)
    ), y AS (
        SELECT x.vec_id, {proj_cols}
        FROM x JOIN signs s ON s.i = x.i
        GROUP BY x.vec_id
    ), bkt AS (
        SELECT vec_id,
               ({md5_long_sql("'v16:' || vec_id::VARCHAR")}) % 64 AS b,
               vec_id AS vid
        FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM (SELECT vec_id, b,
                     row_number() OVER (PARTITION BY b
                                        ORDER BY vec_id) AS rn
              FROM bkt) a
        JOIN (SELECT vec_id, b,
                     row_number() OVER (PARTITION BY b
                                        ORDER BY vec_id) AS rn
              FROM bkt) b
          ON a.b = b.b AND b.rn = a.rn + 1
    ), d64 AS (
        SELECT p.id_a, p.id_b,
               sum((xa.xq - xb.xq) * (xa.xq - xb.xq))::BIGINT AS d64_sq
        FROM pairs p
        JOIN x xa ON xa.vec_id = p.id_a
        JOIN x xb ON xb.vec_id = p.id_b AND xb.i = xa.i
        GROUP BY p.id_a, p.id_b
    )
    SELECT d.id_a, d.id_b, d.d64_sq,
           CAST({d8} AS BIGINT) AS d8_sq,
           round((CAST({d8} AS DOUBLE) / 8.0)
                 / (CAST(d.d64_sq AS DOUBLE) / 64.0), 6) AS ratio
    FROM d64 d
    JOIN y a ON a.vec_id = d.id_a
    JOIN y b ON b.vec_id = d.id_b
    WHERE d.d64_sq > 0
    """


@query(
    "v16_jl_projection",
    _v16_oracle(),
    "Johnson-Lindenstrauss random-sign projection (64-d -> 8-d) with "
    "a distortion audit — the dimensionality-reduction primitive that "
    "makes downstream ANN (v2/v8/v10) cheaper, verified by the "
    "property JL actually promises: squared-distance ratios near 1. "
    "The +-1 sign matrix is md5-derived but PRECOMPUTED into a "
    "512-row literal table both engines share verbatim (no dialect "
    "hash text in the plan); projections are exact integer "
    "sign-sums of micro-quantized coordinates via one posexplode "
    "shuffle with the sign table broadcast. The audit pairs each "
    "vector with its hash-bucket successor (portable buckets, no "
    "global window, no n^2), computes exact-int d64^2 and d8^2, and "
    "reports the per-pair dimension-normalized ratio with ONE IEEE "
    "division rounded to 6 dp.",
)
def v16_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-11 shape (guide §2.4 + §4.1 higher-order functions): the
    # historical plan exploded every vector to 64 rows, joined the
    # 512-row sign table (x8 fan-out), aggregated back by vec_id, then
    # joined the exploded frame TWICE more for d64 and the y frame
    # twice for d8 — five shuffles of corpus-sized exploded rows. All
    # of that is per-row arithmetic: quantization is a `transform`,
    # each projection y_j an exact-int `zip_with`+`aggregate` against
    # a LITERAL sign array, and the bucket-successor pair is `lead()`
    # over the one window the query fundamentally needs. ONE Exchange
    # (the bucket window), zero joins, all WholeStageCodegen. Sums are
    # exact int64 and order-free, so results are byte-identical.
    from openseizuredatabase_spark.functions.hashing import md5_long

    sgn: list[list[int]] = [[0] * 64 for _ in range(8)]
    for j, i, s in _v16_signs():
        sgn[j][i] = s

    def _isum(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, v: acc + v
        )

    # one SQL string per projection row, ONE py4j call for the whole
    # 8-array (a per-element F.lit build is ~1000 py4j round trips —
    # measured 1.6 s of pure plan-construction latency)
    y_sql = "array({})".format(
        ", ".join(
            "aggregate(zip_with(xq, array({}), (x, s) -> x * s), "
            "0L, (acc, v) -> acc + v)".format(
                ", ".join(f"{s}L" for s in sgn[j])
            )
            for j in range(8)
        )
    )
    emb = _ts(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda xv: F.round(xv.cast("double") * 1000000, 0).cast(
                "long"
            ),
        ).alias("xq"),
        (
            md5_long(F.concat(F.lit("v16:"), F.col("vec_id").cast("string")))
            % 64
        ).alias("b"),
    ).withColumn("y", F.expr(y_sql))
    wb = Window.partitionBy("b").orderBy("vec_id")
    led = base.select(
        F.col("vec_id").alias("id_a"),
        "xq",
        "y",
        F.lead("vec_id").over(wb).alias("id_b"),
        F.lead("xq").over(wb).alias("xqb"),
        F.lead("y").over(wb).alias("yb"),
    ).filter(F.col("id_b").isNotNull())
    d64 = _isum(
        F.zip_with(
            F.col("xq"), F.col("xqb"), lambda p, q: (p - q) * (p - q)
        )
    ).cast("long")
    d8 = _isum(
        F.zip_with(
            F.col("y"), F.col("yb"), lambda p, q: (p - q) * (p - q)
        )
    ).cast("long")
    return (
        led.select(
            "id_a",
            "id_b",
            d64.alias("d64_sq"),
            d8.alias("d8_sq"),
            F.round(
                (d8.cast("double") / 8.0)
                / (d64.cast("double") / 64.0),
                6,
            ).alias("ratio"),
        )
        .filter(F.col("d64_sq") > 0)
    )


def _v17_query_vec() -> list[tuple[int, int]]:
    """Deterministic ±1 query vector (64-d) as literals (v16's sign
    pattern) for the RRF vector leg."""
    import hashlib

    return [
        (
            i,
            1
            if int(hashlib.md5(f"rrf:{i}".encode()).hexdigest()[:15], 16)
            % 2
            == 0
            else -1,
        )
        for i in range(64)
    ]


_V17_K = 60  # standard RRF damping constant
_V17_TERMS = ("data", "model", "sample")


def _v17_oracle() -> str:
    qv = ", ".join(f"({i}, {s})" for i, s in _v17_query_vec())
    lex_score = " + ".join(
        f"(len(regexp_extract_all(lower(text), '{w}')))"
        for w in _V17_TERMS
    )
    return f"""
    WITH qv(i, s) AS (
        SELECT * FROM (VALUES {qv})
    ), lex AS (
        SELECT doc_id, CAST({lex_score} AS BIGINT) AS score
        FROM documents
    ), lex_top AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS r
        FROM (SELECT * FROM lex ORDER BY score DESC, doc_id LIMIT 50)
    ), vx AS (
        SELECT vec_id AS doc_id, g.i AS i,
               CAST(round(embedding[g.i + 1]::DOUBLE * 1000000)
                    AS BIGINT) AS xq
        FROM embeddings, unnest(generate_series(0, 63)) AS g(i)
    ), vec AS (
        SELECT v.doc_id, CAST(sum(qv.s * v.xq) AS BIGINT) AS score
        FROM vx v JOIN qv ON qv.i = v.i GROUP BY v.doc_id
    ), vec_top AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS r
        FROM (SELECT * FROM vec ORDER BY score DESC, doc_id LIMIT 50)
    ), fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               l.r AS lex_rank, v.r AS vec_rank,
               CAST(coalesce(CAST(round(1000000.0
                        / CAST({_V17_K} + l.r AS DOUBLE)) AS BIGINT), 0)
                    + coalesce(CAST(round(1000000.0
                        / CAST({_V17_K} + v.r AS DOUBLE)) AS BIGINT), 0)
                    AS BIGINT) AS rrf_micro
        FROM lex_top l FULL OUTER JOIN vec_top v
          ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_micro FROM (
        SELECT *, row_number() OVER (
            ORDER BY rrf_micro DESC, doc_id) AS rn
        FROM fused
    ) WHERE rn <= 10
    """


@query(
    "v17_rrf_fusion",
    _v17_oracle(),
    "Reciprocal-rank fusion of a lexical and a vector ranking — THE "
    "hybrid-search combiner modern retrieval stacks run over exactly "
    "the two legs this engine already provides (t37's BM25-style "
    "lexical scores, v1's cosine ANN): rrf(d) = sum over lists of "
    "1/(60 + rank_d). Each leg retrieves a top-50 via distributed "
    "sort-limit (TakeOrdered — never a global single-partition window "
    "over the corpus) with (score, doc_id) determinism; ranks then "
    "come from row_number on the 50-row frames. The 1/(60+r) weights "
    "quantize to integer micro-units per leg BEFORE the order-free "
    "fusion sum, and docs missing from one list contribute zero from "
    "it (full outer join) — standard RRF-over-retrieved-lists "
    "semantics, every tie broken by doc_id in both engines.",
)
def v17_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = literal_df(spark, _v17_query_vec(), "i int, s long")
    lex_expr = None
    for w in _V17_TERMS:
        term = F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(w), 0)
        )
        lex_expr = term if lex_expr is None else lex_expr + term
    lex = _ts(spark, sf_dir, "documents").select(
        "doc_id", lex_expr.cast("long").alias("score")
    )

    def top50(scored: DataFrame) -> DataFrame:
        top = scored.orderBy(F.desc("score"), "doc_id").limit(50)
        w = Window.orderBy(F.desc("score"), "doc_id")
        return top.select(
            "doc_id", F.row_number().over(w).cast("long").alias("r")
        )

    lex_top = top50(lex)
    vx = (
        _ts(spark, sf_dir, "embeddings")
        .select(
            F.col("vec_id").alias("doc_id"),
            F.posexplode("embedding").alias("i", "xv"),
        )
        .select(
            "doc_id",
            "i",
            F.round(F.col("xv").cast("double") * 1000000, 0)
            .cast("long")
            .alias("xq"),
        )
    )
    vec = (
        vx.join(F.broadcast(qv), "i")
        .groupBy("doc_id")
        .agg(F.sum(F.col("s") * F.col("xq")).cast("long").alias("score"))
    )
    vec_top = top50(vec)
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.expr(
            f"CAST(round(1000000.0 / CAST({_V17_K} + {c} AS DOUBLE))"
            " AS BIGINT)"
        ),
        F.lit(0),
    )
    fused = (
        lex_top.withColumnRenamed("r", "lex_rank")
        .join(
            vec_top.withColumnRenamed("r", "vec_rank"),
            "doc_id",
            "full_outer",
        )
        .select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            (contrib("lex_rank") + contrib("vec_rank"))
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    wr = Window.orderBy(F.desc("rrf_micro"), "doc_id")
    return (
        fused.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lex_rank", "vec_rank", "rrf_micro")
    )


def _v20_oracle() -> str:
    return (
        _v5_ctes()
        + """, qv AS (
        SELECT dim, v FROM q WHERE vec_id = 0
    ), cd AS (
        SELECT c.cid, sum((c.c - qv.v) * (c.c - qv.v)) AS cdist
        FROM c2 c JOIN qv USING (dim) GROUP BY c.cid
    ), probe AS (
        SELECT cid FROM (
            SELECT cid, row_number() OVER (ORDER BY cdist, cid) AS rn
            FROM cd) WHERE rn <= 2
    ), cells AS (
        SELECT cid, count(*)::BIGINT AS n_members FROM a2 GROUP BY cid
    ), tot AS (
        SELECT count(*)::BIGINT AS total_files FROM cells
    )
    SELECT c.cid, c.n_members, 1::BIGINT AS n_files, t.total_files
    FROM cells c JOIN probe p USING (cid), tot t
    """
    )


@query(
    "v20_ivf_partition_pruning",
    _v20_oracle(),
    "IVF cells as a PHYSICAL lake layout — the claim v6/v10 make "
    "('cluster_id is the partition key, so the probe IS partition "
    "pruning') executed for real: the corpus is WRITTEN as a parquet "
    "lake partitioned by the deterministic coarse quantizer's cid "
    "(one file per cell — repartition(col) pins each cell to one "
    "task), the query routes to its n_probe=2 nearest cells "
    "(centroid table is metadata-sized; the cell-id routing is the "
    "planner-side step every IVF index performs), and the pruned "
    "scan's per-cell file count comes from input_file_name() over "
    "the files actually read. The oracle replays clustering + "
    "routing and pins n_files=1 per probed cell and the total cell "
    "count, so a mis-partitioned or unpruned layout hash-fails. At "
    "100 TB the total-file inventory comes from the manifest, not a "
    "scan — here it is read once from the written layout's listing.",
)
def v20_ivf_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from openseizuredatabase_spark.functions import ann

    emb = _t(spark, sf_dir, "embeddings")
    assign, book = ann._kmeans(emb, "embedding", "vec_id", 8, 2, 1000)
    base = tempfile.mkdtemp(prefix="v20_ivf_lake_")
    (
        assign.join(emb, "vec_id")
        .repartition(F.col("cid"))
        .write.partitionBy("cid")
        .mode("overwrite")
        .parquet(base)
    )
    lake = spark.read.parquet(base)
    total_files = len(lake.inputFiles())

    # planner-side routing: rank the 8 driver-held centroids against
    # the query vector and take the n_probe cell ids (metadata-sized —
    # the step every IVF index performs at plan time)
    qvec = tables.lookup_param_row(
        sf_dir, "embeddings", "vec_id", 0, "embedding"
    )
    probe_ids = ann._probe_cids(book, ann._np_quantize(qvec, 1000), 2)
    pruned = lake.filter(F.col("cid").isin(probe_ids)).withColumn(
        "_file", F.input_file_name()
    )
    return (
        pruned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.countDistinct("_file").cast("long").alias("n_files"),
        )
        .withColumn("total_files", F.lit(total_files).cast("long"))
        .select("cid", "n_members", "n_files", "total_files")
    )


@query(
    "v21_ann_query_batch",
    f"""
    WITH q AS (
        SELECT vec_id, g.i - 1 AS dim,
               round(embedding[g.i]::DOUBLE * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, {_EMB_DIM})) AS g(i)
    ), qry AS (
        SELECT vec_id AS qid, dim, v FROM q WHERE vec_id < 10
    ), corp AS (
        SELECT vec_id, dim, v FROM q WHERE vec_id >= 10
    ), d AS (
        SELECT qry.qid, corp.vec_id,
               sum((qry.v - corp.v) * (qry.v - corp.v))::BIGINT AS dist
        FROM qry JOIN corp USING (dim) GROUP BY qry.qid, corp.vec_id
    )
    SELECT qid, vec_id, dist FROM (
        SELECT qid, vec_id, dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist, vec_id) AS rn
        FROM d) WHERE rn <= 3
    """,
    "BATCHED ANN serving — every prior v-entry answers ONE query "
    "vector; production indexes answer batches, and the batch changes "
    "the plan shape: the 10-query quantized matrix BROADCASTS (query "
    "batches are kilobytes), each corpus vector scores all queries in "
    "one pass over its array (zip_with integer distance, no "
    "per-query rescan), and per-query top-3 is a (qid)-partitioned "
    "rank window. Integer distances, lowest-id ties — value-hash "
    "exact. At 100 TB this is the brute-force rerank stage of "
    "IVF-batch serving: candidates x queries with the query side "
    "broadcast, corpus side scanned once.",
)
def v21_ann_query_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import ann

    emb = _t(spark, sf_dir, "embeddings")
    qa = ann.quantize_col(F.col("embedding"), 1000)
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("qid"), qa.alias("qv"))
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", qa.alias("cv"))
    dist = F.aggregate(
        F.zip_with(
            F.col("cv"), F.col("qv"), lambda c, q: (c - q) * (c - q)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = corpus.crossJoin(F.broadcast(queries)).select(
        "qid", "vec_id", dist.alias("dist")
    )
    w = Window.partitionBy("qid").orderBy("dist", "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", "dist")
    )


def _v22_oracle() -> str:
    base = QUERIES["v3_cosine_near_dup"].oracle
    return f"""
    WITH pairs AS ({base}),
    sym AS (
        SELECT id_a AS vec_id, id_b AS neg_id, cosine_sim FROM pairs
        UNION ALL
        SELECT id_b AS vec_id, id_a AS neg_id, cosine_sim FROM pairs
    ), banded AS (
        SELECT vec_id, neg_id, cosine_sim FROM sym
        WHERE cosine_sim >= 0.3 AND cosine_sim < 0.8
    )
    SELECT vec_id, rank, neg_id, cosine_sim FROM (
        SELECT vec_id, neg_id, cosine_sim,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine_sim DESC, neg_id) AS rank
        FROM banded
    ) WHERE rank <= 2
    """


@query(
    "v22_hard_negatives",
    _v22_oracle(),
    "Hard-negative mining for contrastive/embedding training (the DPR/"
    "SimCSE negative-selection step): per vector, the top-2 SIMILAR-BUT-"
    "NOT-DUPLICATE neighbors — candidates from v3's bucketed cosine "
    "pair generator (reused verbatim as a composition: bounded per-"
    "bucket rerank, never all-pairs), kept in the hard band "
    "[0.3, 0.8) (above is a near-duplicate that semantic dedup would "
    "collapse and would poison the loss as a false negative; below is "
    "an easy negative the model learns nothing from), symmetrized so "
    "both ends of a pair see each other, then a per-vector top-k "
    "window partitioned by vec_id. The corpus-scale cost is v3's "
    "candidate stage; the band filter and window ride its output.",
)
def v22_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = v3_cosine_near_dup(spark, sf_dir)
    sym = pairs.select(
        F.col("id_a").alias("vec_id"),
        F.col("id_b").alias("neg_id"),
        "cosine_sim",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("vec_id"),
            F.col("id_a").alias("neg_id"),
            "cosine_sim",
        )
    )
    banded = sym.filter(
        (F.col("cosine_sim") >= 0.3) & (F.col("cosine_sim") < 0.8)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine_sim"), F.asc("neg_id")
    )
    return (
        banded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("vec_id", "rank", "neg_id", "cosine_sim")
    )


_V23_PROBES = (1, 2, 4, 8)


def _v23_oracle() -> str:
    probes = ", ".join(str(p) for p in _V23_PROBES)
    return f"""
    WITH q AS (
        SELECT vec_id, g.i - 1 AS dim,
               round(embedding[g.i]::DOUBLE * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, {_EMB_DIM})) AS g(i)
    ), qry AS (
        SELECT vec_id AS qid, dim, v FROM q WHERE vec_id < 5
    ), cents AS (
        SELECT vec_id AS cid, dim, v FROM q WHERE vec_id BETWEEN 10 AND 17
    ), corp AS (
        SELECT vec_id, dim, v FROM q WHERE vec_id >= 10
    ), assign AS (
        SELECT vec_id, cid FROM (
            SELECT corp.vec_id, cents.cid,
                   row_number() OVER (PARTITION BY corp.vec_id ORDER BY
                       sum((corp.v - cents.v) * (corp.v - cents.v)), cents.cid
                   ) AS rn
            FROM corp JOIN cents USING (dim)
            GROUP BY corp.vec_id, cents.cid
        ) WHERE rn = 1
    ), qcell AS (
        SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY
                   dist, cid) AS crank
        FROM (
            SELECT qry.qid, cents.cid,
                   sum((qry.v - cents.v) * (qry.v - cents.v))::BIGINT AS dist
            FROM qry JOIN cents USING (dim)
            GROUP BY qry.qid, cents.cid
        )
    ), qdist AS (
        SELECT qry.qid, corp.vec_id,
               sum((qry.v - corp.v) * (qry.v - corp.v))::BIGINT AS dist
        FROM qry JOIN corp USING (dim)
        GROUP BY qry.qid, corp.vec_id
    ), exact10 AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM qdist) WHERE rn <= 10
    ), probes AS (
        SELECT unnest([{probes}]) AS np
    ), cand AS (
        SELECT probes.np, qcell.qid, assign.vec_id
        FROM probes
        JOIN qcell ON qcell.crank <= probes.np
        JOIN assign ON assign.cid = qcell.cid
    ), approx10 AS (
        SELECT np, qid, vec_id FROM (
            SELECT c.np, c.qid, c.vec_id,
                   row_number() OVER (PARTITION BY c.np, c.qid
                       ORDER BY d.dist, c.vec_id) AS rn
            FROM cand c JOIN qdist d
              ON d.qid = c.qid AND d.vec_id = c.vec_id
        ) WHERE rn <= 10
    ), hits AS (
        SELECT a.np, a.qid, count(*)::BIGINT AS n_hit
        FROM approx10 a JOIN exact10 e
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY a.np, a.qid
    ), scans AS (
        SELECT np, qid, count(*)::BIGINT AS n_scanned FROM cand
        GROUP BY np, qid
    )
    SELECT s.np::BIGINT AS n_probe,
           sum(s.n_scanned)::BIGINT AS scanned,
           sum(coalesce(h.n_hit, 0))::BIGINT AS hits,
           CAST(round(sum(coalesce(h.n_hit, 0))
                / (10.0 * count(*)) * 1000000) AS BIGINT) AS recall_micro
    FROM scans s LEFT JOIN hits h ON h.np = s.np AND h.qid = s.qid
    GROUP BY s.np
    """


@query(
    "v23_nprobe_sweep",
    _v23_oracle(),
    "IVF nprobe tuning sweep — the recall-vs-cost curve every IVF "
    "deployment measures before fixing its probe count (t43's LSH "
    "eval, for the coarse-quantizer tier): deterministic 8-cell IVF "
    "(seed centroids, integer quantized distances, lowest-id ties), "
    "5 held-out queries, and for EVERY nprobe in 1/2/4/8 the recall@10 "
    "against the exact top-10 plus the candidate-scan cost. The whole "
    "sweep is ONE plan: cell ranks and exact distances are computed "
    "once, the 4-row probe grid joins on crank <= np (the m43 grid "
    "discipline — fan the grid out over the ranked frame, not the "
    "corpus), so adding probe points costs nothing but the tiny join. "
    "At lake scale cand is the partition-pruned scan v20 proved "
    "physically; here its SIZE is the measured cost column.",
)
def v23_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions import ann

    emb = _t(spark, sf_dir, "embeddings")
    qa = ann.quantize_col(F.col("embedding"), 1000)
    qry = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), qa.alias("qv")
    )
    cents = emb.filter(F.col("vec_id").between(10, 17)).select(
        F.col("vec_id").alias("cid"), qa.alias("cv")
    )
    corp = emb.filter(F.col("vec_id") >= 10).select("vec_id", qa.alias("xv"))

    def idist(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    wv = Window.partitionBy("vec_id").orderBy("cdist", "cid")
    assign = (
        corp.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", idist("xv", "cv").alias("cdist"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    wq = Window.partitionBy("qid").orderBy("qcdist", "cid")
    qcell = (
        qry.crossJoin(F.broadcast(cents))
        .select("qid", "cid", idist("qv", "cv").alias("qcdist"))
        .withColumn("crank", F.row_number().over(wq))
        .select("qid", "cid", "crank")
    )
    qdist = corp.crossJoin(F.broadcast(qry)).select(
        "qid", "vec_id", idist("xv", "qv").alias("dist")
    )
    we = Window.partitionBy("qid").orderBy("dist", "vec_id")
    exact10 = (
        qdist.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= 10)
        .select("qid", F.col("vec_id").alias("evid"))
    )
    probes = literal_df(spark, [(p,) for p in _V23_PROBES], "np long")
    cand = (
        probes.crossJoin(qcell)
        .filter(F.col("crank") <= F.col("np"))
        .join(assign, "cid")
        .select("np", "qid", "vec_id")
    )
    wa = Window.partitionBy("np", "qid").orderBy("dist", "vec_id")
    approx10 = (
        cand.join(qdist, ["qid", "vec_id"])
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= 10)
        .select("np", "qid", "vec_id")
    )
    hits = (
        approx10.join(
            exact10,
            (approx10.qid == exact10.qid)
            & (approx10.vec_id == exact10.evid),
        )
        .groupBy(approx10.np, approx10.qid)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
        .select(F.col("np").alias("hnp"), F.col("qid").alias("hqid"), "n_hit")
    )
    scans = cand.groupBy("np", "qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_scanned")
    )
    joined = scans.join(
        hits,
        (scans.np == F.col("hnp")) & (scans.qid == F.col("hqid")),
        "left",
    )
    return joined.groupBy("np").agg(
        F.sum("n_scanned").cast("long").alias("scanned"),
        F.sum(F.coalesce("n_hit", F.lit(0))).cast("long").alias("hits"),
        F.round(
            F.sum(F.coalesce("n_hit", F.lit(0)))
            / (10.0 * F.count(F.lit(1)))
            * 1000000,
            0,
        )
        .cast("long")
        .alias("recall_micro"),
    ).select(
        F.col("np").cast("long").alias("n_probe"),
        "scanned", "hits", "recall_micro",
    )
