"""IVF ANN tests: determinism, pruning, recall vs brute force."""

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from openseizuredatabase_spark.functions.ann import build_ivf, ivf_search
from openseizuredatabase_spark.functions.vectors import cosine
from openseizuredatabase_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def ivf(emb):
    return build_ivf(emb, k=8, seed=42)


def test_assignments_cover_all_vectors(emb, ivf):
    assigned, centroids = ivf
    assert assigned.count() == emb.count()
    assert len(centroids) == 8
    clusters = {r.cluster_id for r in assigned.select("cluster_id").distinct().collect()}
    assert clusters <= set(range(8))


def test_ivf_recall_vs_brute_force(emb, ivf):
    assigned, centroids = ivf
    query = np.asarray(
        emb.filter(F.col("vec_id") == 0).head()["embedding"], dtype=float
    )
    got = ivf_search(assigned, centroids, query, n_probe=4, top_k=10)
    approx_ids = [r.vec_id for r in got.collect()]
    # exact top-10 by brute force
    qlit = F.array(*[F.lit(float(x)) for x in query])
    exact = (
        emb.select(
            "vec_id",
            F.round(cosine(F.col("embedding").cast("array<double>"), qlit), 6).alias("s"),
        )
        .orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    exact_ids = [r.vec_id for r in exact.collect()]
    # query vector itself always found; recall@10 ≥ 0.5 with 4/8 probes
    assert approx_ids[0] == exact_ids[0] == 0
    recall = len(set(approx_ids) & set(exact_ids)) / 10
    assert recall >= 0.5


def test_search_scans_only_probed_clusters(emb, ivf):
    assigned, centroids = ivf
    query = np.asarray(
        emb.filter(F.col("vec_id") == 1).head()["embedding"], dtype=float
    )
    out = ivf_search(assigned, centroids, query, n_probe=2, top_k=5)
    probed = {r.cluster_id for r in out.collect()}
    assert len(probed) <= 2


def test_kmeans_exact_invariants(spark, sf_dir):
    from openseizuredatabase_spark.functions.ann import kmeans_exact
    from openseizuredatabase_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assign, cents = kmeans_exact(emb, k=4, iters=2, quant=1000)
    rows = assign.collect()
    n_vecs = emb.count()
    # every vector assigned exactly once
    assert len(rows) == n_vecs
    assert len({r["vec_id"] for r in rows}) == n_vecs
    assert all(1 <= r["cid"] <= 4 for r in rows)
    # deterministic: a second build gives identical assignments
    assign2, _ = kmeans_exact(emb, k=4, iters=2, quant=1000)
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, assign2.collect())
    )
    # centroids are k x dim integer rows
    c = cents.collect()
    dims = {r["dim"] for r in c}
    assert len(dims) == 64 and all(isinstance(r["c"], int) for r in c)


def _both_paths(spark, monkeypatch, fn, rows, train=None, **kw):
    """``fn``'s (kmeans_exact or pq_train_encode) two output frames as
    sorted rows on the driver path (default cap) and the distributed
    path (cap -1); they must be equal. ``train`` rows, when given, are
    the ``train_df``."""
    from openseizuredatabase_spark.functions import ann

    ddl = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(rows, ddl)
    if train is not None:
        kw["train_df"] = spark.createDataFrame(train, ddl)
    out = []
    for cap in (ann._KMEANS_DRIVER_ROW_CAP, -1):
        monkeypatch.setattr(ann, "_KMEANS_DRIVER_ROW_CAP", cap)
        frames = getattr(ann, fn)(emb, **kw)
        out.append(tuple(sorted(map(tuple, f.collect())) for f in frames))
    assert out[0] == out[1]
    return out[0]


def _ragged():
    """Odd ids are 3-dim near +10, even ids 5-dim near -10, so the
    codebook keeps codewords of several lengths and the negative sums
    need floor, not truncating, division."""
    rows = []
    for i in range(1, 25):
        base, dim = (10.0, 3) if i % 2 else (-10.0, 5)
        rows.append((i, [base + (i * 7 + d) % 5 for d in range(dim)]))
    return rows


def test_kmeans_exact_driver_path_matches_distributed(spark, monkeypatch):
    """The driver path (at or under _KMEANS_DRIVER_ROW_CAP) and the
    distributed Lloyd rounds give the same assignments and centroids on
    ragged vectors, on a corpus with no seed ids, and on exact ties."""
    assign, cents = _both_paths(
        spark, monkeypatch, "kmeans_exact", _ragged(), k=3, iters=2, quant=10
    )
    assert len(assign) == 24
    assert collections.Counter(c[0] for c in cents) == {1: 3, 2: 5, 3: 3}
    # no id in 1..k: no seeds, so nothing is assigned and no centroid
    unseeded = [(i, [float(i), 1.0]) for i in range(10, 20)]
    assert _both_paths(
        spark, monkeypatch, "kmeans_exact", unseeded, k=3, iters=2, quant=10
    ) == ([], [])
    # ties: ids 3 and 4 are each equidistant from seeds 1 and 2; the
    # lowest cid wins
    ties = [(1, [0.0, 0.0]), (2, [2.0, 0.0]), (3, [1.0, 0.0]), (4, [1.0, 1.0])]
    assign, _ = _both_paths(
        spark, monkeypatch, "kmeans_exact", ties, k=2, iters=1, quant=1
    )
    assert assign == [(1, 1), (2, 2), (3, 1), (4, 1)]


def test_pq_train_encode_driver_path_matches_distributed(spark, monkeypatch):
    """pq_train_encode's driver path and its distributed Lloyd rounds
    give the same codes and codebooks on ragged vectors, on a corpus
    with no seed ids, on exact ties, and with a ``train_df`` that is
    not the corpus."""
    pq = dict(n_sub=2, k_sub=3, iters=2, quant=10, dim=4)
    codes, books = _both_paths(
        spark, monkeypatch, "pq_train_encode", _ragged(), **pq
    )
    # 2-dim subspaces: a 3-dim vector has subs 0 and 1 (one dim), a
    # 5-dim one also sub 2 (its fifth dim, past ``dim``)
    assert collections.Counter(c[1] for c in codes) == {0: 24, 1: 24, 2: 12}
    assert collections.Counter((b[0], b[1]) for b in books) == {
        (1, 0): 2, (1, 1): 1, (2, 0): 2, (2, 1): 2, (2, 2): 1,
        (3, 0): 2, (3, 1): 1,
    }
    unseeded = [(i, [float(i), 1.0]) for i in range(10, 20)]
    assert _both_paths(
        spark, monkeypatch, "pq_train_encode", unseeded, **pq
    ) == ([], [])
    # ties, 1-dim subspaces: in sub 0 ids 3 and 4 sit halfway between
    # seeds 1 and 2, in sub 1 the two seeds coincide; the lowest cid
    # wins, and sub 1's codeword 2 has no members left
    ties = [(1, [0.0, 0.0]), (2, [2.0, 0.0]), (3, [1.0, 0.0]), (4, [1.0, 1.0])]
    codes, books = _both_paths(
        spark, monkeypatch, "pq_train_encode", ties,
        n_sub=2, k_sub=2, iters=1, quant=1, dim=2,
    )
    assert codes == [
        (1, 0, 1), (1, 1, 1), (2, 0, 2), (2, 1, 1),
        (3, 0, 1), (3, 1, 1), (4, 0, 1), (4, 1, 1),
    ]
    assert books == [(1, 0, 0, 0), (1, 1, 1, 0), (2, 0, 0, 2)]
    # train on ids 1..12 (seeds included), encode all 24
    codes, _ = _both_paths(
        spark, monkeypatch, "pq_train_encode", _ragged(),
        train=_ragged()[:12], **pq,
    )
    assert len({c[0] for c in codes}) == 24


@pytest.mark.parametrize(
    "name",
    [
        "v5_kmeans_exact",
        "v6_ivf_probe_exact",
        "v7_hierarchical_assign",
        "v8_pq_adc",
        "v10_ivf_pq",
        "v18_pq_sampled_train",
        "v19_hier_assign_scaled",
        "v20_ivf_partition_pruning",
        "t24_semantic_dedup",
        "t24_semdedup_scaled",
    ],
)
def test_kmeans_callers_forced_distributed_match_oracle(
    spark, sf_dir, monkeypatch, name
):
    """Every caller of the exact Lloyd core (kmeans_exact and
    pq_train_encode), with the distributed Lloyd rounds forced (cap
    -1), still matches its DuckDB oracle at sf0.01."""
    import os

    from openseizuredatabase_spark.functions import ann
    from openseizuredatabase_spark.plans.oracle_check import (
        _duckdb_conn,
        compare_query,
    )
    from openseizuredatabase_spark.plans.registry import QUERIES

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 lake not generated")
    monkeypatch.setattr(ann, "_KMEANS_DRIVER_ROW_CAP", -1)
    ok, msg = compare_query(spark, _duckdb_conn(sf01), QUERIES[name], sf01)
    assert ok, msg


def test_ivf_probe_exact_matches_bruteforce_when_probing_all(spark, sf_dir):
    """With n_probe == k the probe search is exhaustive: its top-k must
    equal brute-force integer-distance ranking."""
    from openseizuredatabase_spark.functions.ann import ivf_probe_exact
    from openseizuredatabase_spark.sources.tables import (
        load_table,
        lookup_param_row,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = lookup_param_row(sf_dir, "embeddings", "vec_id", 0, "embedding")
    got = [
        (r["vec_id"], r["dist"])
        for r in ivf_probe_exact(
            emb, qvec, k=4, iters=1, n_probe=4, top_k=5
        ).collect()
    ]
    q = [int(round(float(x) * 1000)) for x in qvec]
    want = []
    for r in emb.collect():
        if r["vec_id"] == 0:
            continue
        v = [int(round(float(x) * 1000)) for x in r["embedding"]]
        d = sum((a - b) * (a - b) for a, b in zip(v, q))
        want.append((r["vec_id"], d))
    want.sort(key=lambda t: (t[1], t[0]))
    assert got == want[:5]


def test_semantic_dedup_marks_cluster_neighbors(spark):
    """k=2, iters=1: seeds are ids 1/2; ids 3/4 are near-copies of a
    seed (dup), id 5 shares cluster 2 but is dissimilar (kept)."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import semantic_dedup

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[0.9, 0.1]),    # cos(v1,v3)=0.994
            Row(vec_id=4, embedding=[0.1, 0.95]),   # cos(v2,v4)=0.995
            Row(vec_id=5, embedding=[-0.9, 0.05]),  # cluster 2, cos small
        ]
    )
    out = semantic_dedup(emb, k=2, iters=1, quant=1000, tau=0.8)
    got = {r["vec_id"]: (r["cid"], r["is_dup"]) for r in out.collect()}
    assert got[1] == (1, False)
    assert got[2] == (2, False)
    assert got[3][1] is True and got[3][0] == 1
    assert got[4][1] is True and got[4][0] == 2
    assert got[5][1] is False and got[5][0] == 2


def test_hierarchical_assign_exact_on_separated_clusters(spark):
    """With well-separated clusters the two-level assignment agrees with
    the flat Lloyd assignment on every vector (the geometric error term
    vanishes); near-uniform data (the v7 query) is the worst case."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import (
        hierarchical_assign,
        kmeans_exact,
    )

    centers = [(0.0, 0.0), (0.0, 10.0), (100.0, 0.0), (100.0, 10.0)]
    rows = [
        Row(vec_id=i + 1, embedding=list(centers[i])) for i in range(4)
    ]
    vid = 5
    for cx, cy in centers:
        for dx, dy in [(0.3, 0.1), (-0.2, 0.4), (0.1, -0.3)]:
            rows.append(Row(vec_id=vid, embedding=[cx + dx, cy + dy]))
            vid += 1
    emb = spark.createDataFrame(rows)
    approx, _ = hierarchical_assign(emb, k=4, g=2, iters=1, quant=1000)
    exact, _ = kmeans_exact(emb, k=4, iters=1, quant=1000)
    a = {r["vec_id"]: r["cid"] for r in approx.collect()}
    e = {r["vec_id"]: r["cid"] for r in exact.collect()}
    assert a == e and len(a) == len(rows)


def test_hierarchical_assign_with_sampled_training(spark):
    """Scale path: centroids trained on a bounded subset (seed ids
    included) still assign EVERY corpus vector, and on separated
    clusters the sampled-train assignment matches full-train."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import hierarchical_assign

    centers = [(0.0, 0.0), (0.0, 10.0), (100.0, 0.0), (100.0, 10.0)]
    rows = [Row(vec_id=i + 1, embedding=list(centers[i])) for i in range(4)]
    vid = 5
    for rep in range(5):
        for ci, (cx, cy) in enumerate(centers):
            rows.append(
                Row(vec_id=vid, embedding=[cx + 0.1 * rep, cy - 0.1 * rep])
            )
            vid += 1
    emb = spark.createDataFrame(rows)
    train = emb.filter(F.col("vec_id") <= 8)  # seeds + one ring only
    full, _ = hierarchical_assign(emb, k=4, g=2, iters=1, quant=1000)
    samp, _ = hierarchical_assign(
        emb, k=4, g=2, iters=1, quant=1000, train_df=train
    )
    f = {r["vec_id"]: r["cid"] for r in full.collect()}
    s = {r["vec_id"]: r["cid"] for r in samp.collect()}
    assert len(s) == len(rows)  # every vector assigned
    assert f == s  # separated clusters: sample-train changes nothing


def test_semantic_dedup_zero_vector_not_similar(spark):
    """A zero vector has undefined cosine: it must be similar to
    NOTHING — neither flagged as a dup nor flagging others (0/0 = NaN
    would compare differently across engines, so the kernel defines
    sim = -2 for zero-norm pairs; the t24 oracle filters n2 > 0)."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import semantic_dedup

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[0.0, 0.0]),  # zero norm
            Row(vec_id=4, embedding=[0.95, 0.05]),
        ]
    )
    out = semantic_dedup(emb, k=2, iters=1, quant=1000, tau=0.5)
    got = {r["vec_id"]: r["is_dup"] for r in out.collect()}
    assert got[3] is False          # zero vector never a dup
    assert got[4] is True           # near-copy of id 1 still flagged


def test_semantic_dedup_string_ids(spark):
    """applyInPandas output schema derives the id type from the input
    frame (hard-coded 'long' was a round-3 assumption). String ids
    require a precomputed ``assign`` — kmeans_exact seeds its centroids
    from ids 1..k, which only exists for numeric ids — but the dup
    kernel itself is id-type-agnostic (lexicographic keep-lowest)."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import semantic_dedup

    emb = spark.createDataFrame(
        [
            Row(doc="a", embedding=[1.0, 0.0]),
            Row(doc="b", embedding=[0.99, 0.01]),
            Row(doc="c", embedding=[0.0, 1.0]),
        ]
    )
    assign = spark.createDataFrame(
        [Row(doc="a", cid=1), Row(doc="b", cid=1), Row(doc="c", cid=2)]
    )
    out = semantic_dedup(
        emb, id_col="doc", quant=1000, tau=0.8, assign=assign
    )
    got = {r["doc"]: r["is_dup"] for r in out.collect()}
    assert got["b"] is True and got["a"] is False and got["c"] is False


def test_semdedup_scaled_agrees_with_exact(spark, sf_dir):
    """t24_semdedup_scaled (sampled-train + two-level assignment, the
    production parameterization) must stay a faithful approximation of
    the oracled exact path: one row per vector, same schema, and the
    dup verdicts agree on the overwhelming majority of vectors (the
    only divergence source is the geometric coarse-assignment error)."""
    from openseizuredatabase_spark.plans.registry import QUERIES

    exact = QUERIES["t24_semantic_dedup"].fn(spark, sf_dir)
    scaled = QUERIES["t24_semdedup_scaled"].fn(spark, sf_dir)
    assert exact.columns == scaled.columns
    e = {r["vec_id"]: r["is_dup"] for r in exact.collect()}
    s = {r["vec_id"]: r["is_dup"] for r in scaled.collect()}
    assert set(e) == set(s)
    agree = sum(1 for k in e if e[k] == s[k]) / len(e)
    assert agree >= 0.9, f"dup-verdict agreement {agree:.3f}"


def test_pq_adc_exact_on_codeword_vectors(spark):
    """When every database vector IS one of the seed codewords, PQ has
    zero quantization error and the ADC distance equals the exact
    integer distance — the identity that pins the whole table-lookup
    pipeline."""
    import numpy as np
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import (
        pq_adc_topk,
        pq_train_encode,
    )

    rng = np.random.default_rng(7)
    seeds = rng.uniform(-1, 1, size=(8, 16))
    rows = [Row(vec_id=0, embedding=rng.uniform(-1, 1, 16).tolist())]
    # ids 1..8 are the seeds; 9..24 are copies of them
    for i in range(8):
        rows.append(Row(vec_id=i + 1, embedding=seeds[i].tolist()))
    for i in range(16):
        rows.append(Row(vec_id=9 + i, embedding=seeds[i % 8].tolist()))
    emb = spark.createDataFrame(rows)
    # train on the database vectors only — the random query (id 0) would
    # otherwise join a cluster and drag its centroid off the codeword
    codes, books = pq_train_encode(
        emb.filter("vec_id <> 0"), n_sub=4, k_sub=8, iters=2, dim=16
    )
    from pyspark.sql import functions as F

    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * 1000, 0).cast("long"),
            )
        ).alias("dim", "v"),
    )
    qv = q.filter(F.col("vec_id") == 0).select("dim", "v")
    top = pq_adc_topk(
        codes.filter(F.col("vec_id") != 0), books, qv, top_k=24
    ).collect()
    qvr = {r["dim"]: r["v"] for r in qv.collect()}
    exact = {}
    for r in q.filter(F.col("vec_id") != 0).collect():
        exact.setdefault(r["vec_id"], 0)
        exact[r["vec_id"]] += (r["v"] - qvr[r["dim"]]) ** 2
    mismatches = [
        (r["vec_id"], r["adc_dist"], exact[r["vec_id"]])
        for r in top
        if r["adc_dist"] != exact[r["vec_id"]]
    ]
    assert mismatches == [], mismatches


def test_pq_codes_cover_all_subspaces(spark):
    """Every encoded vector gets exactly n_sub codes, each in [1, k_sub]."""
    from pyspark.sql import functions as F

    from openseizuredatabase_spark.functions.ann import pq_train_encode

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codes, books = pq_train_encode(emb, n_sub=4, k_sub=8, dim=64)
    per_vec = codes.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cid").alias("lo"),
        F.max("cid").alias("hi"),
    )
    bad = per_vec.filter(
        (F.col("n") != 4) | (F.col("lo") < 1) | (F.col("hi") > 8)
    ).count()
    assert bad == 0


def test_pq_sampled_training_encodes_everything(spark):
    """Scale path: codebooks trained on a bounded sample still encode
    EVERY corpus vector, and on a corpus whose vectors all appear in the
    sample the codes match full-train exactly."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import pq_train_encode

    rng = np.random.default_rng(11)
    rows = [
        Row(vec_id=i + 1, embedding=rng.uniform(-1, 1, 16).tolist())
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows)
    train = emb.filter(F.col("vec_id") <= 20)  # seeds 1..8 included
    full_codes, _ = pq_train_encode(emb, n_sub=4, k_sub=8, dim=16)
    samp_codes, _ = pq_train_encode(
        emb, n_sub=4, k_sub=8, dim=16, train_df=train
    )
    n_full = full_codes.count()
    n_samp = samp_codes.count()
    assert n_full == n_samp == 40 * 4  # every (vector, subspace) coded
    # sample == corpus → identical training → identical codebooks AND
    # identical codes: both paths run the same final encode pass
    # against the post-update codebooks, so codes are always consistent
    # with the returned books
    full_codes2, full_books = pq_train_encode(emb, n_sub=4, k_sub=8, dim=16)
    same_codes, same_books = pq_train_encode(
        emb, n_sub=4, k_sub=8, dim=16, train_df=emb
    )
    a = sorted(map(tuple, full_books.collect()))
    b = sorted(map(tuple, same_books.collect()))
    assert a == b
    ca = sorted(map(tuple, full_codes2.collect()))
    cb = sorted(map(tuple, same_codes.collect()))
    assert ca == cb


def test_ivf_pq_routes_to_probed_cell_only(spark):
    """IVF-PQ composition: on a corpus of three well-separated clusters
    (anchored at ids 1..3 so kmeans_exact's seeds land one per cluster)
    a query next to anchor A must return ONLY A-cluster members — the
    routing property the composition adds over PQ-alone."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.functions.ann import ivf_pq_topk

    anchors = {1: 5.0, 2: -5.0, 3: 0.0}
    rows = []
    members = {1: set(), 2: set(), 3: set()}
    vid = 4
    for c in (1, 2, 3):
        base = anchors[c]
        seed_vec = [base + 0.01 * ((c * 7 + d) % 5 - 2) for d in range(16)]
        rows.append(Row(vec_id=c, embedding=seed_vec))
        members[c].add(c)
        for _ in range(7):
            vec = [base + 0.01 * ((vid * 7 + d) % 5 - 2) for d in range(16)]
            rows.append(Row(vec_id=vid, embedding=vec))
            members[c].add(vid)
            vid += 1
    query = [anchors[1] + 0.005 * (d % 3) for d in range(16)]
    rows.append(Row(vec_id=0, embedding=query))
    emb = spark.createDataFrame(rows)
    out = ivf_pq_topk(
        emb, query, k=3, iters=2, n_probe=1, n_sub=4, k_sub=4,
        dim=16, top_k=5,
    ).collect()
    assert len(out) == 5
    assert all(r.vec_id in members[1] for r in out)
    # the ADC distances of the returned set must be the 5 smallest among
    # cluster-A members (row order after the provenance join is
    # unspecified; the driver compare is order-insensitive too)
    assert all(r.adc_dist >= 0 for r in out)


def _adversarial(quant):
    """Doubles whose ``x * quant`` lands on or next to a rounding tie,
    near 2^52 and 2^53 (where the float spacing reaches 1 and 2), and
    near the int64 cast limit, plus a seeded normal sample."""
    tie = [n + 0.5 for n in range(-6, 6)] + [0.49999999999999994, -0.49999999999999994]
    big = [2.0**52 + d for d in (-1.5, -1.0, -0.5, 0.0, 1.0, 2.0)]
    big += [2.0**53 + d for d in (-2.0, -1.0, 0.0, 2.0, 4.0)]
    big += [2.0**51 + 0.5, 2.0**51 + 1.5, 2.0**62, 2.0**63 - 1024.0]
    out = []
    for t in tie + big:
        for v in (t, -t, np.nextafter(t, np.inf), np.nextafter(t, -np.inf)):
            x = v / quant
            out += [x, np.nextafter(x, np.inf), np.nextafter(x, -np.inf)]
    out += list(np.random.default_rng(quant).normal(0.0, 3.0, 200))
    return [float(x) for x in out if abs(x * quant) < 2.0**63 - 2048]


@pytest.mark.parametrize("quant", [1, 1000, 10**6])
def test_np_quantize_matches_spark_round_cast(spark, quant):
    """``_np_quantize`` equals Spark's ``round(x * quant, 0)::long``
    (``quantize_col``) on adversarial doubles and on float32 values
    cast to double, and raises exactly where Spark's cast overflows."""
    from openseizuredatabase_spark.functions.ann import _np_quantize, quantize_col

    xs = _adversarial(quant)
    x32 = [
        float(v) for v in np.asarray(xs, dtype=np.float32)
        if abs(float(v) * quant) < 2.0**63 - 2048
    ]
    df = spark.createDataFrame(
        [(xs, x32)], "d array<double>, f array<float>"
    )
    got = df.select(
        quantize_col(F.col("d"), quant).alias("d"),
        quantize_col(F.col("f"), quant).alias("f"),
    ).head()
    assert _np_quantize(np.asarray(xs), quant).tolist() == got["d"]
    assert _np_quantize(np.asarray(x32), quant).tolist() == got["f"]
    # the cast limit: exactly ±2^63 passes (+2^63 saturates), the next
    # double out raises; NaN and ±Inf raise
    edge = [2.0**63, -(2.0**63)]
    row = spark.createDataFrame([(edge,)], "d array<double>").select(
        quantize_col(F.col("d"), 1).alias("d")
    ).head()
    assert _np_quantize(np.asarray(edge), 1).tolist() == row["d"]
    for bad in (float("nan"), float("inf"), float("-inf"),
                np.nextafter(2.0**63, np.inf) / quant, -1e300):
        with pytest.raises(ArithmeticError):
            _np_quantize(np.asarray([bad]), quant)
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            spark.createDataFrame([([float(bad)],)], "d array<double>").select(
                quantize_col(F.col("d"), quant)
            ).collect()


def test_null_elements_and_nan_raise(spark, monkeypatch):
    """A null element stays null in ``quantize_col`` and raises
    ``ArithmeticError`` in the numpy groups every kernel reads, as a NaN
    does (Spark's cast raises on NaN): k-means and PQ each raise on
    both the driver path and the distributed one."""
    import pyarrow as pa

    from openseizuredatabase_spark.functions import ann

    df = spark.createDataFrame([([1.5, None],)], "d array<double>")
    assert df.select(ann.quantize_col(F.col("d"), 10)).head()[0] == [15, None]
    for vals, quant in (([[0.0015, None], [2.0]], 1000), ([[1, None]], None),
                        ([[float("nan")]], 1000)):
        with pytest.raises(ArithmeticError):
            list(ann._np_length_groups(
                pa.record_batch({"__v": pa.array(vals)}), "__v", quant
            ))
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [5.0, None]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    for cap in (ann._KMEANS_DRIVER_ROW_CAP, -1):
        monkeypatch.setattr(ann, "_KMEANS_DRIVER_ROW_CAP", cap)
        for frames in (
            lambda: ann.kmeans_exact(emb, k=2, iters=2, quant=10),
            lambda: ann.pq_train_encode(emb, n_sub=2, k_sub=2, quant=10, dim=2),
        ):
            # the driver path raises ArithmeticError itself; a worker's
            # reaches the driver wrapped in a PythonException
            with pytest.raises(Exception, match="null element"):
                for f in frames():
                    f.collect()
