"""Helpers shared by more than one query-family module."""

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
from openseizuredatabase_spark.sources.lake import morton_sql
from openseizuredatabase_spark.sources import tables
from openseizuredatabase_spark.sources.tables import load_table, table_meta
from openseizuredatabase_spark.sources.width import cores

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)



# ---------------------------------------------------------------------------
# Similarity search over `embeddings` (ANN building blocks)
# ---------------------------------------------------------------------------
#
# Cross-engine float discipline: dot products are accumulated as EXACT
# integers — each term is round(a_i*b_i*1e6)::bigint (the double product of
# two float32s is bit-identical in any IEEE engine; rounding it to a
# micro-unit integer makes the SUM order-independent). The final similarity
# is one double division + sqrt on identical integers → bit-identical.

_EMB_DIM = 64


def _quantized_dot(a, b):
    """Spark: sum_i round(a_i*b_i*1e6) as bigint — order-independent."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.round(x * y * 1e6, 0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_N3_P = "1.0 / (1.0 + exp(-((value - 150) / 25.0)))"


def _v5_ctes() -> str:
    d = _EMB_DIM
    floor_div = "((s - (((s % n) + n) % n)) / n)::BIGINT"
    return f"""
    WITH q AS (
        SELECT vec_id, g.i - 1 AS dim,
               round(embedding[g.i]::DOUBLE * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), c0 AS (
        SELECT vec_id AS cid, dim, v AS c FROM q WHERE vec_id BETWEEN 1 AND 8
    ), d1 AS (
        SELECT q.vec_id, c.cid, sum((q.v - c.c) * (q.v - c.c)) AS dist
        FROM q JOIN c0 c USING (dim) GROUP BY q.vec_id, c.cid
    ), a1 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d1) WHERE rn = 1
    ), s1 AS (
        SELECT a.cid, q.dim, sum(q.v) AS s, count(*) AS n
        FROM q JOIN a1 a ON q.vec_id = a.vec_id GROUP BY a.cid, q.dim
    ), c1 AS (
        SELECT cid, dim, {floor_div} AS c FROM s1
    ), d2 AS (
        SELECT q.vec_id, c.cid, sum((q.v - c.c) * (q.v - c.c)) AS dist
        FROM q JOIN c1 c USING (dim) GROUP BY q.vec_id, c.cid
    ), a2 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d2) WHERE rn = 1
    ), s2 AS (
        SELECT a.cid, q.dim, sum(q.v) AS s, count(*) AS n
        FROM q JOIN a2 a ON q.vec_id = a.vec_id GROUP BY a.cid, q.dim
    ), c2 AS (
        SELECT cid, dim, {floor_div} AS c FROM s2
    )"""


def _sampled_hier_ctes() -> str:
    """CTE prelude replaying the PRODUCTION clustering path in SQL:
    data-adaptive k/g/sample-rate computed from count(*) (the SQL twin
    of the table_meta parquet-footer read), Lloyd training (2 rounds,
    kmeans_exact integer semantics) on the seeded-hash sample only, then
    the two-level hierarchical assignment of the FULL corpus. Shared by
    v19_hier_assign_scaled and t24_semdedup_scaled — ends with ``ap``
    (vec_id, cid), the production assignment."""
    d = _EMB_DIM
    floor_div = "((s - (((s % n) + n) % n)) / n)::BIGINT"
    samp_hash = seeded_md5_long_sql("q.vec_id::VARCHAR", 31)
    return f"""
    WITH nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
    pp AS (
        SELECT greatest(8, n // 625) AS k,
               greatest(3, floor(sqrt(greatest(8, n // 625)::DOUBLE))
                           ::BIGINT) AS g,
               greatest(1, 5000000 // n) AS fpm
        FROM nn
    ), q AS MATERIALIZED (
        SELECT vec_id, g.i - 1 AS dim,
               round(embedding[g.i]::DOUBLE * 1000)::BIGINT AS v
        FROM embeddings, unnest(generate_series(1, {d})) AS g(i)
    ), sq AS MATERIALIZED (
        SELECT q.* FROM q, pp
        WHERE q.vec_id <= pp.k
           OR ({samp_hash}) % 1000 < pp.fpm
    ), c0 AS (
        SELECT vec_id AS cid, dim, v AS c FROM sq, pp
        WHERE vec_id BETWEEN 1 AND pp.k
    ), d1 AS (
        SELECT sq.vec_id, c.cid, sum((sq.v - c.c) * (sq.v - c.c)) AS dist
        FROM sq JOIN c0 c USING (dim) GROUP BY sq.vec_id, c.cid
    ), a1 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d1) WHERE rn = 1
    ), s1 AS (
        SELECT a.cid, sq.dim, sum(sq.v) AS s, count(*) AS n
        FROM sq JOIN a1 a ON sq.vec_id = a.vec_id GROUP BY a.cid, sq.dim
    ), c1 AS (
        SELECT cid, dim, {floor_div} AS c FROM s1
    ), d2 AS (
        SELECT sq.vec_id, c.cid, sum((sq.v - c.c) * (sq.v - c.c)) AS dist
        FROM sq JOIN c1 c USING (dim) GROUP BY sq.vec_id, c.cid
    ), a2 AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d2) WHERE rn = 1
    ), s2 AS (
        SELECT a.cid, sq.dim, sum(sq.v) AS s, count(*) AS n
        FROM sq JOIN a2 a ON sq.vec_id = a.vec_id GROUP BY a.cid, sq.dim
    ), c2 AS MATERIALIZED (
        SELECT cid, dim, {floor_div} AS c FROM s2
    ), seeds AS (
        SELECT cid AS gid, dim, c AS cg FROM c2, pp WHERE cid <= pp.g
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
    ), ap AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM fd) WHERE rn = 1
    )"""


def _ham18_sql(a: str, b: str) -> str:
    """Hamming distance over 18 fixed positions as an explicit integer
    sum (portable — no reliance on an engine hamming builtin)."""
    return (
        "("
        + " + ".join(
            f"(CASE WHEN substr({a}, {p}, 1) <> substr({b}, {p}, 1)"
            " THEN 1 ELSE 0 END)"
            for p in range(1, 19)
        )
        + ")"
    )


def _ham18(a: F.Column, b: F.Column) -> F.Column:
    out = F.lit(0)
    for p in range(1, 19):
        out = out + F.when(
            F.substring(a, p, 1) != F.substring(b, p, 1), 1
        ).otherwise(0)
    return out


def _pigeonhole_keys_sql(src: str) -> str:
    """Interleaved digit-class blocking keys over the 9-digit payload of
    the fixed-format c_name (positions 10-18): class k holds positions
    {10+k, 13+k, 16+k}. Hamming <= 2 touches <= 2 of the 3 classes, so
    every qualifying pair shares at least one untouched class — the
    pigeonhole/PassJoin candidate rule. Interleaving (not contiguous
    3-digit segments) matters: sequential ids keep HIGH digits constant,
    so contiguous segments collapse into a few hot blocks, while every
    interleaved class contains one of the fastest-varying low digits."""
    return f"""
        SELECT id, name, blk, g.i AS cls,
               concat(substr(name, 10 + g.i, 1),
                      substr(name, 13 + g.i, 1),
                      substr(name, 16 + g.i, 1)) AS val
        FROM {src}, unnest(generate_series(0, 2)) AS g(i)
    """


def _pigeonhole_keys(c: DataFrame) -> DataFrame:
    rows = []
    for k in range(3):
        rows.append(
            c.select(
                "id",
                "name",
                "blk",
                F.lit(k).alias("cls"),
                F.concat(
                    F.substring("name", 10 + k, 1),
                    F.substring("name", 13 + k, 1),
                    F.substring("name", 16 + k, 1),
                ).alias("val"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _ham_candidates(c: DataFrame, max_dist: int) -> DataFrame:
    """Distinct (id_a, id_b, dist) pairs with hamming <= max_dist via
    pigeonhole blocking — never the O(block²) nation join.

    The key frame is hash-repartitioned on the blocking key to the
    session's parallelism BEFORE the self-join: the frame is tiny by
    BYTES (AQE's size-based coalescing collapses it to 1-3 partitions)
    but the join stage is CPU-dense — it enumerates every same-block
    pair and runs the 18-position Hamming verifier on each — so
    byte-based coalescing starves every core but one (observed: one
    task owning the whole verify stage). Both join sides are the same
    repartitioned frame, so the exchange is shared (ReusedExchange),
    not doubled; at lake scale a blocked self-join hash-shuffles on the
    block key anyway, so the plan shape is unchanged — only the
    partition COUNT is pinned to parallelism instead of bytes."""
    k = _pigeonhole_keys(c)
    k = k.repartition(cores(c.sparkSession), "blk", "cls", "val")
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
    dist = _ham18(F.col("name_a"), F.col("name_b"))
    return cand.select(
        "id_a", "id_b", dist.cast("long").alias("dist")
    ).filter(F.col("dist") <= max_dist)


def _reps_sql() -> str:
    """Exact-duplicate collapse: identical (block, name) records group
    under their min-id representative BEFORE any fuzzy work — the
    fuzzy stage's cost then depends on DISTINCT entities, not records
    (clone-heavy data otherwise forces R² genuine zero-distance pairs
    through the verifier)."""
    return """
        SELECT blk, name, min(id) AS id, count(*)::BIGINT AS grp_n
        FROM c GROUP BY blk, name
    """


def tolerance_walk_sql(keys: str, src: str = "dps", tol: int = 100) -> str:
    """Recursive-CTE rendering of the chained tolerance-dedup fold
    (event_grouping.py:71-83 — keep a datapoint only when it is >= tol
    past the last KEPT one) for DuckDB oracles.

    Chosen over ``list_reduce``: DuckDB 1.0's lambda fold proved
    NONDETERMINISTIC inside large multi-CTE window pipelines (the same
    fold returned n=9 and n=11 for one fixed 12-element list across
    runs of the s25 oracle — isolated repros are stable, so it is a
    vectorized-execution interaction, not a semantics question). The
    recursive CTE walks row-numbered datapoints one step per iteration
    — the bit-exact w10/c13 discipline; depth = max datapoints per
    group, fine at oracle scale. Expects a ``{src}`` CTE with columns
    ``keys, dp_t, dp_v``; appends ndps/walk/folded where ``folded`` has
    ``keys, n, t_sum, v_sum``. The enclosing WITH must be RECURSIVE.
    """
    cols = [c.strip() for c in keys.split(",")]
    k = ", ".join(cols)
    wk = ", ".join(f"w.{c}" for c in cols)
    on = " AND ".join(f"d.{c} = w.{c}" for c in cols)
    return f"""
    ndps AS (
        SELECT {k}, dp_t, dp_v,
               row_number() OVER (PARTITION BY {k}
                                  ORDER BY dp_t, dp_v) AS rn,
               count(*) OVER (PARTITION BY {k})::BIGINT AS m
        FROM {src}
    ), walk AS (
        SELECT {k}, rn, m, dp_t AS last_t, 1::BIGINT AS n,
               dp_t AS t_sum, dp_v AS v_sum
        FROM ndps WHERE rn = 1
        UNION ALL
        SELECT {wk}, d.rn, w.m,
               CASE WHEN d.dp_t - w.last_t < {tol}
                    THEN w.last_t ELSE d.dp_t END,
               CASE WHEN d.dp_t - w.last_t < {tol}
                    THEN w.n ELSE w.n + 1 END,
               CASE WHEN d.dp_t - w.last_t < {tol}
                    THEN w.t_sum ELSE w.t_sum + d.dp_t END,
               CASE WHEN d.dp_t - w.last_t < {tol}
                    THEN w.v_sum ELSE w.v_sum + d.dp_v END
        FROM walk w JOIN ndps d ON {on} AND d.rn = w.rn + 1
    ), folded AS (
        SELECT {k}, n, t_sum, v_sum FROM walk WHERE rn = m
    )
    """
