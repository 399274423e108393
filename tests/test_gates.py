"""Driver-side gates against the distributed paths they replace.

v15's driver DBSCAN is checked against its distributed plan (forced by
the shared connected-components cap at -1) on synthetic point frames;
n10's relational Bradley-Terry plan is forced onto its oracle; and an
inventory scan requires every module-level ``_*_CAP`` gate constant in
the package to be forced to -1 by some test.
"""

import os
import pathlib
import random
import re

import pytest

import openseizuredatabase_spark
from openseizuredatabase_spark.operators import dedup as dedup_ops
from openseizuredatabase_spark.plans import q_stats, q_vector
from openseizuredatabase_spark.plans.oracle_check import _duckdb_conn, compare_query
from openseizuredatabase_spark.plans.registry import QUERIES

EPS = q_vector._V15_EPS6


def _cc_spy(monkeypatch):
    """Record each connected_components call (the distributed DBSCAN's
    component step; the driver path never calls it)."""
    calls = []
    real = dedup_ops.connected_components

    def spy(pairs):
        calls.append(pairs)
        return real(pairs)

    monkeypatch.setattr(dedup_ops, "connected_components", spy)
    return calls


def _dbscan(spark, pts):
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "vec_id long, x long, y long",
    )
    return sorted(tuple(r) for r in q_vector._v15_dbscan(df).collect())


def _both_paths(spark, monkeypatch, pts):
    """The driver path's rows, asserted equal to the distributed path's."""
    calls = _cc_spy(monkeypatch)
    driver = _dbscan(spark, pts)
    assert not calls, "the default cap must take the driver path"
    monkeypatch.setattr(dedup_ops, "_CC_DRIVER_EDGE_CAP", -1)
    distributed = _dbscan(spark, pts)
    assert calls, "cap -1 must take the distributed path"
    assert driver == distributed
    return driver


def test_v15_pair_at_exactly_eps_and_duplicate_coordinates(spark, monkeypatch):
    # ids 0-2 share one coordinate; id 3 sits exactly eps away in the
    # next cell, so all four have degree 4 (self included) only under
    # the `<=` test; id 4 is eps + 1 from id 3 and stays noise
    pts = [(0, 0)] * 3 + [(EPS, 0), (2 * EPS + 1, 0)]
    assert _both_paths(spark, monkeypatch, pts) == [
        (-1, 0, 0, 1), (0, 4, 0, 4)
    ]


def test_v15_negative_coordinates_across_cell_boundaries(spark, monkeypatch):
    # four points in the four cells around the origin (both diagonal
    # forward offsets), plus a border point exactly eps to the left
    pts = [(-1, -1), (1, 1), (-1, 1), (1, -1), (-EPS - 1, -1)]
    assert _both_paths(spark, monkeypatch, pts) == [
        (-1, 0, 0, 0), (0, 4, 1, 5)
    ]


def test_v15_border_touching_two_clusters_takes_min(spark, monkeypatch):
    # cluster of ids 0-3 around x = 2 eps, cluster of ids 4-7 around
    # x = 0; id 8 touches one core of each and has degree 3
    half = EPS // 2
    pts = (
        [(2 * EPS, 0)] + [(2 * EPS + half, 0)] * 3
        + [(0, 0)] + [(-half, 0)] * 3
        + [(EPS, 0)]
    )
    assert _both_paths(spark, monkeypatch, pts) == [
        (-1, 0, 0, 0), (0, 4, 1, 5), (4, 4, 0, 4)
    ]


def test_v15_no_cores_gives_only_the_noise_row(spark, monkeypatch):
    pts = [(0, 0), (EPS, 0), (10 * EPS, -10 * EPS)]
    assert _both_paths(spark, monkeypatch, pts) == [(-1, 0, 0, 3)]


def test_v15_random_points_match(spark, monkeypatch):
    rng = random.Random(7)
    centres = [(rng.randint(-5, 5) * EPS, rng.randint(-5, 5) * EPS)
               for _ in range(6)]
    pts = [
        (cx + rng.randint(-2 * EPS, 2 * EPS), cy + rng.randint(-2 * EPS, 2 * EPS))
        for cx, cy in (rng.choice(centres) for _ in range(300))
    ]
    rows = _both_paths(spark, monkeypatch, pts)
    assert sum(r[3] for r in rows) == len(pts)


def test_v15_candidates_over_cap_fall_back_after_the_collect(
    spark, monkeypatch
):
    # five points in one cell: 10 same-cell candidate pairs
    pts = [(i, 2 * i) for i in range(5)]
    want = [(-1, 0, 0, 0), (0, 5, 0, 5)]
    calls = _cc_spy(monkeypatch)
    monkeypatch.setattr(dedup_ops, "_CC_DRIVER_EDGE_CAP", 10)
    assert _dbscan(spark, pts) == want
    assert not calls
    # the 5 points fit under the cap, their 10 candidates do not
    monkeypatch.setattr(dedup_ops, "_CC_DRIVER_EDGE_CAP", 9)
    assert _dbscan(spark, pts) == want
    assert calls


def _sf01(sf_dir):
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 lake not generated")
    return sf01


def test_v15_default_cap_takes_the_driver_path(spark, sf_dir, monkeypatch):
    """At sf0.01 v15 matches its oracle without a connected_components
    call (the cap -1 run in tests/test_operators.py must make one)."""
    sf01 = _sf01(sf_dir)
    calls = _cc_spy(monkeypatch)
    ok, msg = compare_query(
        spark, _duckdb_conn(sf01), QUERIES["v15_dbscan_grid"], sf01
    )
    assert ok, msg
    assert not calls


def test_n10_forced_relational_plan_matches_oracle(spark, sf_dir, monkeypatch):
    sf01 = _sf01(sf_dir)
    monkeypatch.setattr(q_stats, "_BT_DRIVER_CELL_CAP", -1)
    ok, msg = compare_query(
        spark, _duckdb_conn(sf01), QUERIES["n10_bradley_terry"], sf01
    )
    assert ok, msg


def test_every_cap_constant_is_forced_by_a_test():
    pkg = pathlib.Path(openseizuredatabase_spark.__file__).parent
    caps = sorted(
        {
            m.group(1)
            for path in pkg.rglob("*.py")
            for m in re.finditer(
                r"^(_[A-Z0-9_]*_CAP)\s*=", path.read_text(), re.M
            )
        }
    )
    assert caps, "no gate constants found"
    tests = "\n".join(
        p.read_text()
        for p in pathlib.Path(__file__).parent.glob("test_*.py")
    )
    unforced = [
        c for c in caps if not re.search(rf'"{c}",\s*-1\)', tests)
    ]
    assert not unforced, unforced


@pytest.mark.parametrize(
    "name",
    ["v5_kmeans_exact", "v8_pq_adc", "v15_dbscan_grid", "v18_pq_sampled_train"],
)
def test_driver_path_build_is_one_unshuffled_job(spark, sf_dir, monkeypatch, name):
    """Under the caps, building v5, v8, v15 or v18 runs exactly one job — the
    gate's bounded collect — which writes no shuffle bytes, and the
    frame the gate reads carries no lambda function (quantization runs
    in numpy on the driver, not in an interpreted ``transform``) and
    no pin (it reads the scan itself). The sf0.1 lake is the first
    whose embeddings a spread would widen. A warm-up build first takes
    the one-off parquet schema job of a fresh session's first read."""
    import uuid

    from openseizuredatabase_spark.functions import ann

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    lake = sf01 if os.path.isdir(sf01) else sf_dir
    QUERIES[name].fn(spark, lake)
    gated = []
    for mod in (ann, q_vector):
        real = mod.bounded_collect

        def spy(df, cap, real=real):
            gated.append(df)
            return real(df, cap)

        monkeypatch.setattr(mod, "bounded_collect", spy)
    sc = spark.sparkContext
    group = f"gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name].fn(spark, lake)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    store = jsc.statusStore()
    stages = sc.statusTracker().getJobInfo(jobs[0]).stageIds
    assert sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages) == 0
    assert len(gated) == 1
    plan = gated[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan.lower(), plan
    assert "LogicalRDD" not in plan, plan
