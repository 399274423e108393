"""Semantic pins for the round-4 lakehouse/linkage/hygiene operators —
properties the value-hash oracles can't state directly (completeness
against brute force, bin-packing invariants, known-graph counts)."""

import pytest
from pyspark.sql import functions as F

from openseizuredatabase_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"


def test_t42_prefix_filter_is_complete_vs_brute_force(spark):
    """PPJoin's guarantee: the prefix-filtered pair set equals the
    brute-force all-pairs result at the same θ — nothing dropped."""
    from openseizuredatabase_spark.functions import text as text_fns

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = docs.select(
        "doc_id", text_fns.tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 5)
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 5),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("t"), i + 1, 5)
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    brute = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c"))
            >= 0.5
        )
        .select("id_a", "id_b")
    )
    brute_pairs = {(r.id_a, r.id_b) for r in brute.collect()}
    pp = QUERIES["t42_prefix_filter_join"].fn(spark, SF)
    pp_pairs = {(r.id_a, r.id_b) for r in pp.collect()}
    assert pp_pairs == brute_pairs
    assert len(pp_pairs) > 0  # the corpus has planted near-dups


def test_w14_bins_conserve_files_and_respect_boundaries(spark):
    plan = QUERIES["w14_compaction_plan"].fn(spark, SF)
    rows = plan.collect()
    # every (day, bin) starts at a 4096-boundary of the running sum, so a
    # bin's bytes can overshoot 4096 only via its LAST file (greedy
    # next-boundary packing): bytes_before_last_file < 4096 per bin
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_files_direct = (
        ev.groupBy(F.col("ts").cast("date"), "event_type").count().count()
    )
    assert sum(r.n_files for r in rows) == n_files_direct
    n_rows_direct = ev.count()
    assert sum(r.bin_rows for r in rows) == n_rows_direct
    for r in rows:
        assert r.bin_id >= 0
        assert r.undersized == (r.bin_bytes < 2048)


def test_t41_known_graph_triangle_and_chain(spark):
    # triangle {1,2,3} + pendant 4: vertex 1-3 have 1 triangle each and
    # coefficient 1.0 except vertex 3 (degree 3 via the pendant: 1/3)
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], ["a", "b"]
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c3"),
        )
    )
    out = {tuple(r) for r in tri.collect()}
    assert out == {(1, 2, 3)}


def test_t41_registry_coefficients_bounded(spark):
    rows = QUERIES["t41_triangle_count"].fn(spark, SF).collect()
    assert all(0.0 <= r.clustering_coef <= 1.0 for r in rows)
    assert any(r.n_tri > 0 for r in rows)  # digit-family cliques exist


def test_d7_merge_equals_direct(spark):
    merged = QUERIES["d7_incremental_agg"].fn(spark, SF)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    direct = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
            "sum_c"
        ),
        F.min(F.unix_micros("ts")).alias("min_us"),
        F.max(F.unix_micros("ts")).alias("max_us"),
    )
    m = {r.event_type: (r.n, r.sum_c, r.min_us, r.max_us)
         for r in merged.collect()}
    d = {r.event_type: (r.n, r.sum_c, r.min_us, r.max_us)
         for r in direct.collect()}
    assert m == d


def test_j10_best_match_is_minimal_distance(spark):
    rows = QUERIES["j10_fuzzy_blocked_join"].fn(spark, SF).collect()
    assert len(rows) > 0
    assert all(0 <= r.best_dist <= 2 for r in rows)
    assert all(r.n_cand >= 1 for r in rows)
    assert all(r.grp_n >= 1 for r in rows)
    assert all(r.best_id > r.rep_id for r in rows)  # oriented pairs


def test_j10_pigeonhole_candidates_are_complete(spark):
    """The 3-class interleaved blocking must surface EVERY same-nation
    pair at Hamming <= 2 — compared against the O(block²) brute join."""
    from openseizuredatabase_spark.plans.q_shared import (
        _ham18,
        _ham_candidates,
    )

    c = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("blk"),
        )
    )
    a, b = c.alias("a"), c.alias("b")
    brute = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(_ham18(F.col("a.name"), F.col("b.name")) <= 2)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    brute_pairs = {(r.id_a, r.id_b) for r in brute.collect()}
    got = {
        (r.id_a, r.id_b)
        for r in _ham_candidates(c, max_dist=2).collect()
    }
    assert got == brute_pairs
    assert len(got) > 0


def test_t39_short_docs_pass_through(spark):
    out = QUERIES["t39_intradoc_dedup"].fn(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.filter(F.length(F.trim("text")) > 0).count()
    assert out.count() == n_docs  # no doc silently dropped
    kept_le_total = out.filter(F.col("n_kept") > F.col("n_chunks")).count()
    assert kept_le_total == 0
    assert out.filter(F.col("n_kept") < F.col("n_chunks")).count() > 0


def _xy2d(n, x, y):
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_z2_hilbert_kernel_matches_reference_and_is_hilbert(spark):
    from openseizuredatabase_spark.sources.lake import hilbert_frame

    # full 32x32 grid: Spark kernel == pure-Python xy2d, bijective, and
    # consecutive keys are grid-adjacent (the property Morton lacks)
    pts = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = hilbert_frame(df, F.col("x"), F.col("y"), "hkey", bits=5)
    got = {(r.x, r.y): r.hkey for r in out.collect()}
    assert got == {(x, y): _xy2d(32, x, y) for x, y in pts}
    inv = {v: k for k, v in got.items()}
    assert len(inv) == 1024
    for d in range(1023):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_z3_skipping_is_sound(spark):
    # soundness: rows_matched must be <= rows_scanned per day (a skipped
    # file can never contain a matching row)
    rows = QUERIES["z3_zone_map_skipping"].fn(spark, SF).collect()
    for r in rows:
        assert r.rows_matched <= r.rows_scanned
        assert r.n_skipped <= r.n_files
        assert r.rows_scanned <= r.rows_total
    assert sum(r.n_skipped for r in rows) > 0
