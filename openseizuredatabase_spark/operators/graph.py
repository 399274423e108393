"""Iterative graph algorithms with cross-engine-exact integer
semantics.

Reference basis: the reference has no graph operators; LLM data
pipelines do — web-graph authority (PageRank / harmonic centrality over
the host graph) is a standard corpus-quality signal (e.g. Common Crawl
host rankings consumed by RefinedWeb-style filters). The repo's dedup
connected-components (operators/dedup.py) covers reachability; this
module adds the weighted-power-iteration family.

Determinism: ranks are BIGINT micro-units, every redistribution uses
the portable floor-division identity (x − x % d) / d on positive
operands, and the damping mix is integer percent arithmetic — so a SQL
engine unrolling the same iterations reproduces ranks bit-for-bit.

Scale shape per iteration: one equi-join of the edge list with the
rank frame on the source key and one aggregation by destination —
the classic distributed power-iteration step. Rank state is one row
per node (never driver-side); lineage is truncated per round so
iteration N's plan does not replay rounds 1..N−1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openseizuredatabase_spark.sources.width import rows_width


def integer_pagerank(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over a weighted edge list (u, v, w), fixed ``iters``
    power iterations in exact integer arithmetic.

    r_{t+1}(v) = (1−d)·scale + d · Σ_{u→v} ⌊r_t(u)·w(u,v) / W(u)⌋

    with d applied as integer percent (⌊damping_pct·Σ/100⌋). Nodes are
    the edge sources; a symmetric edge list therefore covers every
    connected node and leaves no dangling mass. Returns (node, w_out,
    rank_micro).
    """
    # The caller's edge list can carry an expensive lineage (e.g. t36's
    # shingle pair join); wout, the join below, and every power
    # iteration all re-execute it unless it is pinned ONCE up front
    # (the t41 lesson, SCALE.md session 4b). Checkpointing pins the
    # pre-AQE shuffle partitioning, so re-derive the loop width from
    # the materialized edge count by the rows rule (sources/width.py).
    from openseizuredatabase_spark.lineage import pin

    # lazy pin whose first action IS the width census (one
    # materialization job instead of eager-checkpoint + count = two —
    # round-12, the CC census pattern)
    edges = pin(edges)
    spark = edges.sparkSession
    n_part = rows_width(spark, edges.count())
    edges = edges.coalesce(n_part)
    wout = edges.groupBy("u").agg(F.sum("w").cast("long").alias("wu"))
    e = edges.join(wout, "u")
    nodes = wout.select(F.col("u").alias("node"), "wu")
    ranks = nodes.select(
        "node", F.lit(scale).cast("long").alias("r")
    )
    base = (scale * (100 - damping_pct)) // 100
    for _ in range(iters):
        j = e.join(ranks, e["u"] == ranks["node"])
        x = F.col("r") * F.col("w")
        contrib = ((x - (x % F.col("wu"))) / F.col("wu")).cast("long")
        agg = j.groupBy(F.col("v").alias("node")).agg(
            F.sum(contrib).cast("long").alias("c")
        )
        y = F.lit(damping_pct) * F.coalesce(F.col("c"), F.lit(0))
        ranks = (
            nodes.select("node")
            .join(agg, "node", "left")
            .select(
                "node",
                (F.lit(base) + (y - (y % 100)) / 100)
                .cast("long")
                .alias("r"),
            )
        )
        # One row per node — truncate so round N+1 doesn't replay 1..N.
        # With e pinned above, replay is linear (not exponential), so a
        # small graph skips the per-round materialization job and lets
        # Catalyst run all rounds as ONE unrolled job; a big graph still
        # truncates to keep task lineage and plan size bounded.
        if n_part > 1 or iters > 6:
            ranks = ranks.localCheckpoint(eager=False)
    return (
        ranks.join(nodes, "node")
        .select("node", F.col("wu").alias("w_out"), F.col("r").alias("rank_micro"))
    )


def hits_scores(
    edges: DataFrame,
    iters: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Weighted HITS (Kleinberg 1999, "Authoritative sources in a
    hyperlinked environment") over a directed edge list (u, v, w),
    fixed ``iters`` rounds in exact integer arithmetic:

        auth(v) = Σ_{u→v} hub(u)·w,  then renormalize to [0, scale]
        hub(u)  = Σ_{u→v} auth(v)·w, then renormalize

    with renormalization floor(x·scale / max(x)) — the portable
    floor-division identity, bit-stable on any engine (max instead of
    the usual L2 norm keeps everything integer; the fixed point is the
    same principal eigenvector direction).

    Returns (node, role 'hub'|'auth', score_micro) for every edge
    source and destination.

    Scale shape: each half-step is one edges⋈scores equi-join + one
    destination-key aggregation (score state is one row per node), plus
    a 1-row max broadcast — the t36 power-iteration layout. Overflow
    bound: the pre-normalization product x·scale must stay under 2^63,
    i.e. max node degree · scale² < 9.2e18 → degree < 9e6 at the
    default micro scale; drop ``scale`` to 1e4 for hotter graphs (the
    lm.py gradient-bound discipline)."""
    from openseizuredatabase_spark.lineage import pin

    # lazy pin whose first action IS the width census (one
    # materialization job instead of eager-checkpoint + count = two —
    # round-12, the CC census pattern); loop width by the rows rule
    edges = pin(edges)
    spark = edges.sparkSession
    edges = edges.coalesce(rows_width(spark, edges.count()))

    def renorm(raw: DataFrame, col: str) -> DataFrame:
        m = raw.agg(F.max(col).alias("m"))
        y = F.col(col) * F.lit(scale)
        return raw.crossJoin(F.broadcast(m)).select(
            "node",
            ((y - y % F.col("m")) / F.col("m")).cast("long").alias(col),
        )

    hubs = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.lit(scale).cast("long").alias("h")
    )
    auths = None
    for _ in range(iters):
        a_raw = (
            edges.join(hubs, edges["u"] == hubs["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.col("h") * F.col("w")).cast("long").alias("a"))
        )
        auths = renorm(a_raw, "a").localCheckpoint(eager=False)
        h_raw = (
            edges.join(auths, edges["v"] == auths["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum(F.col("a") * F.col("w")).cast("long").alias("h"))
        )
        hubs = renorm(h_raw, "h").localCheckpoint(eager=False)
    return hubs.select(
        F.lit("hub").alias("role"), "node", F.col("h").alias("score_micro")
    ).unionByName(
        auths.select(
            F.lit("auth").alias("role"),
            "node",
            F.col("a").alias("score_micro"),
        )
    )
