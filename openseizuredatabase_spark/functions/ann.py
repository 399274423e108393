"""Approximate nearest-neighbor search over embedding columns.

Three tiers, ordered by scale:
1. brute force (v1 query): full-scan cosine — exact, embarrassingly
   parallel, the baseline every ANN variant is measured against.
2. random-hyperplane LSH buckets (functions/vectors.py) — stateless,
   cheap, no training; candidate generation via bucket equi-join.
3. IVF (this module): MLlib KMeans coarse quantizer; vectors are
   assigned to their nearest centroid partition, a query probes only the
   ``n_probe`` nearest clusters — the classic inverted-file index. At
   100 TB the assignment becomes the partitioning scheme (write the lake
   partitioned by cluster_id), so a probe touches only those partitions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector

from openseizuredatabase_spark.functions.literal import literal_df, rows_frame
from openseizuredatabase_spark.functions.vectors import cosine
from openseizuredatabase_spark.lineage import bounded_collect, pin
from openseizuredatabase_spark.sources.width import spread_cpu_dense


def build_ivf(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, list[np.ndarray]]:
    """Train the coarse quantizer and assign every vector to a cluster.

    Returns (assignments DF with ``cluster_id``, centroid list).
    """
    vecs = emb.withColumn("__v", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=k, seed=seed, featuresCol="__v", predictionCol="cluster_id").fit(
        vecs
    )
    assigned = model.transform(vecs).drop("__v")
    centroids = [np.asarray(c) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: list[np.ndarray],
    query: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 4,
    top_k: int = 10,
) -> DataFrame:
    """Probe the n_probe nearest clusters, exact-cosine rerank inside.

    The cluster filter is a partition-prunable predicate; the rerank is a
    JVM-side expression over only the probed fraction of the data.
    """
    dists = [float(np.linalg.norm(query - c)) for c in centroids]
    probe = sorted(range(len(centroids)), key=lambda i: dists[i])[:n_probe]
    qlit = F.array(*[F.lit(float(x)) for x in query])
    sim = cosine(F.col(vec_col).cast("array<double>"), qlit)
    return (
        assigned.filter(F.col("cluster_id").isin(probe))
        .select(id_col, "cluster_id", F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def _np_argmin_cid(mat, book):
    """Vectorized nearest-codeword assignment for a batch of quantized
    vectors — the numpy replica of the historical join-on-dim +
    row_number shape.

    ``mat`` is an (m, L) int64 matrix (all rows the same length L > 0);
    ``book`` a list of (cid, int64 codeword array) sorted cid-ascending.

    - distance = Σ (v_p - c_p)² over positions present in BOTH arrays
      (the join-on-dim inner-join semantics): each codeword contributes
      only its first min(L, len(c)) positions. Sound positionally
      because vector dim lists are dense prefixes 0..len-1 (they come
      from an array) and centroid dim sets — unions of member prefixes
      — are dense prefixes too.
    - int64 arithmetic throughout: exact (coordinates are quant-scaled
      integers; dim * (2·max)² is far inside the int64 range).
    - ties keep the LOWEST cid: ``np.argmin`` returns the first minimum
      over the cid-ascending axis == row_number(orderBy(dist, cid))==1.

    Returns the index array into ``book`` (one winner per row).
    """
    m = mat.shape[0]
    L = mat.shape[1]
    dists = np.empty((m, len(book)), dtype=np.int64)
    for j, (_, cw) in enumerate(book):
        lj = min(L, cw.shape[0])
        d = mat[:, :lj] - cw[:lj]
        dists[:, j] = (d * d).sum(axis=1)
    return np.argmin(dists, axis=1)


def _np_length_groups(pdf, vec_field):
    """Yield (length, int64 matrix, positional index array) per distinct
    vector length in an Arrow/pandas batch (rows are ragged lists)."""
    vs = pdf[vec_field].to_numpy()
    lens = np.fromiter((len(v) for v in vs), dtype=np.int64, count=len(vs))
    for L in np.unique(lens):
        if L == 0:
            continue
        idx = np.nonzero(lens == L)[0]
        mat = np.vstack([np.asarray(vs[i], dtype=np.int64) for i in idx])
        yield int(L), mat, idx


# Row cap for training k-means on the driver: at or under this many
# vectors, kmeans_exact collects the pinned quantized vectors once and
# runs every Lloyd round and the final assignment in the driver process.
# Measured crossover (tools/gate_crossover.py --gate kmeans: synthetic
# 64-dim embeddings, k=8, iters=2, local[4] on a 4-core host, 4 GB
# driver heap; build plus one action, median of 3), driver vs distributed
# seconds: 2k 1.1 vs 2.6, 20k 2.5 vs 3.1, 60k 6.0 vs 6.6, 100k 11.0 vs
# 10.4, 200k 18.8 vs 19.9, 600k 59.9 vs 45.2. The driver path wins up
# to 60k, ties within noise to 200k and loses beyond, while its peak
# RSS (Python plus JVM) is always higher: 2.4 vs 1.6 GB at 60k, 3.6 vs
# 2.0 GB at 200k, 6.7 vs 4.0 GB at 600k. Above the cap the failed
# gate costs about 0.7 s at 600k: its collect fills the pin the
# distributed rounds then read.
_KMEANS_DRIVER_ROW_CAP = 60_000


def _np_partial_sums(groups, book):
    """Per-(cid, dim) member sums and counts of one batch against
    ``book``: ``(cid, dim, s, n)`` rows, ``s`` an exact Python int.
    ``groups`` comes from :func:`_np_length_groups`."""
    out = []
    if not book:
        return out
    for L, mat, _ in groups:
        win = _np_argmin_cid(mat, book)
        for j, (cid, _cw) in enumerate(book):
            sel = win == j
            m = int(sel.sum())
            if m:
                sums = mat[sel].sum(axis=0).tolist()
                out.extend((cid, d, sums[d], m) for d in range(L))
    return out


def _book_from_sums(rows):
    """The updated codebook from per-(cid, dim) partial sums and counts
    ``(cid, dim, s, n)``, totalled here as Python ints, which are exact
    at any magnitude; Python ``//`` is floor division == the portable
    (s - (((s%n)+n)%n)) / n."""
    tot: dict = {}
    for cid, d, s, n in rows:
        t = tot.setdefault(cid, {}).setdefault(d, [0, 0])
        t[0] += s
        t[1] += n
    book = []
    for cid in sorted(tot):
        arr = np.empty(len(tot[cid]), dtype=np.int64)
        for d, (s, n) in tot[cid].items():
            arr[d] = s // n
        book.append((cid, arr))
    return book


def _np_assign(pdf, groups, book, id_col):
    """(ids, cids): each vector's nearest codeword in ``book``."""
    ids, cids = [], []
    if not book:
        return ids, cids
    for _L, mat, idx in groups:
        win = _np_argmin_cid(mat, book)
        ids.extend(pdf[id_col].to_numpy()[idx].tolist())
        cids.extend(book[j][0] for j in win)
    return ids, cids


def kmeans_exact(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    quant: int = 1000,
):
    """Deterministic Lloyd iterations with CROSS-ENGINE EXACT semantics
    — the IVF coarse quantizer (build_ivf's role), so the clustering
    itself is oracle-checkable (MLlib KMeans is seeded but
    float-iteration/engine specific).

    Every quantity is integer: coordinates quantize to ``quant`` units,
    distances are integer sums of squares, tie-breaks go to the lowest
    centroid id, and centroid updates use portable floor division
    (s - ((s%n)+n)%n) / n — identical in Spark and ANSI SQL, unlike
    `div`-vs-`//` truncate/floor divergence on negatives. Bit-equal
    assignments on any engine, any partition layout. Exact equivalence
    with the historical join-on-dim + row_number shape is argued in
    :func:`_np_argmin_cid` (int64 arithmetic, inner-join dim overlap,
    lowest-cid ties); pinned by tests/test_ann.py and the v5/v7/v10
    oracle twins.

    Scale shape: the seeds are the vectors with ids 1..k, and the
    codebook (k·dim integers) always lives on the driver between rounds.
    The quantized vectors are widened and pinned once, and one bounded
    collect of them (:func:`lineage.bounded_collect`, at most
    ``_KMEANS_DRIVER_ROW_CAP`` + 1 rows through Arrow) decides where the
    rounds run. At or under the cap, that collect is the last Spark job:
    every Lloyd round and the final assignment run on the driver with
    the same numpy kernels the workers use, the length groups built
    once, and the assignment comes back as a driver-held literal frame.
    Above the cap the collect has already filled the pin, and the
    rounds stay distributed: per round one vectorized ``mapInPandas``
    argmin pass against the closure-shipped codebook that emits
    per-batch partial (cid, dim) sums, plus one aggregation whose
    shuffle carries at most k·dim rows per input partition; then a
    final ``mapInPandas`` assignment pass.

    Returns (assignments (id, cid), centroids (cid, dim, c)).
    """
    import pandas as pd
    from pyspark.sql import types as T

    spark = emb.sparkSession
    id_type = emb.schema[id_col].dataType
    id_ddl = id_type.simpleString()
    vecs = emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * quant, 0).cast("long"),
        ).alias("__v"),
    ).filter(F.size("__v") > 0)

    def cents_frame(book):
        # the codebook is driver-held k·dim rows — a VALUES
        # LocalRelation (no RDD job, folds/broadcasts as a literal);
        # with no seeds it is empty, which VALUES cannot express
        rows = [
            (cid, d, c) for cid, cw in book for d, c in enumerate(cw.tolist())
        ]
        ddl = f"cid {id_ddl}, dim int, c long"
        if not rows:
            return rows_frame(spark, rows, ddl)
        return literal_df(spark, rows, ddl)

    # on the distributed path every Lloyd round and the final assignment
    # are CPU-dense numpy map passes over vecs: widen a narrow source
    # scan (results are layout-invariant by the integer-arithmetic
    # contract)
    vecs = spread_cpu_dense(vecs, spark)
    # vecs feeds the gate, every Lloyd round and the final assignment;
    # pin it so each pass reuses one materialized scan. The gate is the
    # first action: above the cap it has already computed the pinned
    # scan, so the failed gate costs only the cap + 1 shipped rows
    vecs = pin(vecs)
    tbl = bounded_collect(vecs, _KMEANS_DRIVER_ROW_CAP)
    if tbl is not None:
        pdf = tbl.to_pandas()
        # seed codebook: the vectors with ids 1..k
        idv, vs = pdf[id_col].to_numpy(), pdf["__v"].to_numpy()
        book = sorted(
            (idv[i].item(), np.asarray(vs[i], dtype=np.int64))
            for i in np.nonzero((idv >= 1) & (idv <= k))[0]
        )
        groups = list(_np_length_groups(pdf, "__v"))
        abook = book
        for _ in range(iters):
            abook = book
            book = _book_from_sums(_np_partial_sums(groups, book))
        # the last training assignment, as in the distributed path below
        a_ids, a_cids = _np_assign(pdf, groups, abook, id_col)
        assign = rows_frame(
            spark, zip(a_ids, a_cids), f"{id_col} {id_ddl}, cid {id_ddl}"
        )
        return assign, cents_frame(book)

    # seed codebook: the vectors with ids 1..k (bounded: ≤ k rows)
    book = sorted(
        (r[0], np.asarray(r[1], dtype=np.int64))
        for r in vecs.filter(
            (F.col(id_col) >= 1) & (F.col(id_col) <= k)
        ).collect()
    )
    part_schema = T.StructType(
        [
            T.StructField("cid", id_type),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    abook = book
    for _ in range(iters):
        bk = abook = book

        def partial_sums(it):
            for pdf in it:
                yield pd.DataFrame(
                    _np_partial_sums(_np_length_groups(pdf, "__v"), bk),
                    columns=["cid", "dim", "s", "n"],
                )

        upd = (
            vecs.mapInPandas(partial_sums, schema=part_schema)
            .groupBy("cid", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        book = _book_from_sums(upd)
    # the returned assignment is the LAST TRAINING assignment — argmin
    # against the book that ENTERED the final round (pre-update), the
    # historical loop's exact semantics; the returned centroids are the
    # post-update book
    fbook = abook

    def assign_codes(it):
        for pdf in it:
            ids, cids = _np_assign(
                pdf, _np_length_groups(pdf, "__v"), fbook, id_col
            )
            yield pd.DataFrame({id_col: ids, "cid": cids})

    out_schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField("cid", id_type)]
    )
    # assign is one (id, cid) row per vector — the narrow proxy frame
    # the PQ/IVF callers read from several consumer subtrees. The pin
    # is lazy: with the k-means cap at -1 on Spark 4.1.2 (sf0.1,
    # local[4]) an eager one cost v5 and v6 one job each (12 → 11)
    # and was no faster; a caller that discards the assignment
    # (ivf_two_level) never materializes it
    assign = pin(vecs.mapInPandas(assign_codes, schema=out_schema))
    return assign, cents_frame(book)


def ivf_probe_exact(
    emb: DataFrame,
    query_vec,
    k: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    top_k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
):
    """IVF ANN search over the deterministic quantizer (kmeans_exact):
    rank centroids by integer distance to the query, keep the
    ``n_probe`` nearest, rerank ONLY those clusters' members by exact
    integer distance — the inverted-file probe with cross-engine exact
    results end to end (v4's MLlib variant stays rows-only; this one is
    oracle-checkable).

    Scale shape: the centroid ranking is k rows on the driver-free plan
    (a window over the broadcast centroid table crossed with the 1-row
    query); at lake scale cluster_id is the partition key, so the probe
    filter IS partition pruning — the scan touches n_probe/k of the
    corpus. Rerank cost: candidates × dim integer ops, one TakeOrdered.
    """
    from pyspark.sql import Window

    assign, cents = kmeans_exact(
        emb, vec_col=vec_col, id_col=id_col, k=k, iters=iters, quant=quant
    )
    qlit = F.expr(
        "array("
        + ", ".join(
            str(int(round(float(x) * quant))) + "L" for x in query_vec
        )
        + ")"
    )
    # centroid ranking: centroids pivot to arrays, distance to the query
    carr = cents.groupBy("cid").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("c")))
        ).alias("cs")
    )
    cdist = carr.select(
        "cid",
        F.aggregate(
            F.zip_with(
                F.transform(F.col("cs"), lambda s: s["c"]),
                qlit,
                lambda c, qv: (c - qv) * (c - qv),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("cdist"),
    )
    wc = Window.orderBy("cdist", "cid")
    probe = (
        cdist.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= n_probe)
        .select("cid")
    )
    qv = emb.select(
        id_col,
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * quant, 0).cast("long"),
        ).alias("qvec"),
    )
    cands = (
        assign.join(F.broadcast(probe), "cid")
        .join(qv, id_col)
        .filter(F.col(id_col) != 0)
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("qvec"), qlit, lambda v, qq: (v - qq) * (v - qq)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cands.select(id_col, "cid", dist.alias("dist"))
        .orderBy("dist", id_col)
        .limit(top_k)
    )


def pq_train_encode(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_sub: int = 4,
    k_sub: int = 8,
    iters: int = 2,
    quant: int = 1000,
    dim: int = 64,
    train_df: DataFrame | None = None,
):
    """Product quantization (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each vector into ``n_sub``
    subspaces and cluster each independently with ``k_sub`` codewords —
    a vector compresses to n_sub small codes (here 4×3 bits vs 64
    floats), and distances are computed from a tiny lookup table.

    Training is the kmeans_exact recipe run per-subspace in ONE set of
    relational ops (the subspace id rides along as a group key): integer
    coordinates, integer distances, lowest-cid tie-breaks, portable
    floor-division centroid updates — bit-equal on any engine.

    Scale shape per iteration (round-11, guide §2.4 + §4.2 — the
    kmeans_exact move, per subspace): the n_sub·k_sub·sub_dim-integer
    codebooks live on the DRIVER between rounds (metadata-sized bounded
    collect), assignment of all subspaces of a vector is ONE vectorized
    numpy pass (mapInPandas) against the closure-shipped codebooks —
    zero shuffles, no ×k_sub candidate explosion through a hash agg, no
    row_number sort (the historical shape shuffled n·n_sub·k_sub
    distance rows into a window per round) — emitting per-batch partial
    (cid, sub, dim) sums so the update is one tiny aggregation. One
    Spark job per Lloyd round plus the lazy final encode.
    Subspace alignment soundness: every vector covering sub s at all
    covers it from dim s·sub_dim (vector dim lists are dense prefixes),
    so a sub-s codeword's dim set is a dense range starting at
    s·sub_dim and the trimmed-overlap distance in
    :func:`_np_argmin_cid` reproduces the historical join-on-dim
    contribution semantics exactly (pinned by tests/test_ann.py and the
    v8/v18 oracle twins, which replay the historical shape in SQL).

    Returns (codes (id, sub, cid), codebooks (cid, sub, dim, c)).
    """
    import math

    import pandas as pd
    from pyspark.sql import types as T

    spark = emb.sparkSession
    id_type = emb.schema[id_col].dataType
    sub_dim = dim // n_sub

    def to_vecs(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.round(x * quant, 0).cast("long"),
            ).alias("__v"),
        ).filter(F.size("__v") > 0)

    # vecs feeds the final encode (and, default path, every Lloyd
    # round); pin it so each pass reuses one materialized scan, widened
    # as in kmeans_exact for the CPU-dense encode/training passes.
    vecs = pin(spread_cpu_dense(to_vecs(emb), spark))
    if train_df is None:
        vt = vecs
    else:
        # production scale path (the t24 sampled-train discipline):
        # codebook training is the n·k_sub·d term — bound it to a
        # sample; the full corpus pays only the single encode pass below
        vt = pin(spread_cpu_dense(to_vecs(train_df), spark))

    def split_subs(v: np.ndarray):
        # dense subspace slices of a quantized vector; ragged tails
        # slice short, absent subs don't appear — exactly the
        # posexplode + `dim div sub_dim` dim grouping
        for s in range(math.ceil(v.shape[0] / sub_dim)):
            yield s, v[s * sub_dim : (s + 1) * sub_dim]

    # seed codebooks: subspace slices of the vectors with ids 1..k_sub
    books: dict[int, list] = {}
    for r in vt.filter(
        (F.col(id_col) >= 1) & (F.col(id_col) <= k_sub)
    ).collect():
        v = np.asarray(r[1], dtype=np.int64)
        for s, sl in split_subs(v):
            books.setdefault(s, []).append((r[0], sl))
    for s in books:
        books[s].sort(key=lambda t: t[0])

    part_schema = T.StructType(
        [
            T.StructField("cid", id_type),
            T.StructField("sub", T.LongType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    for _ in range(iters):
        bks = books

        def partial_sums(it):
            for pdf in it:
                cid_o, sub_o, dim_o, s_o, n_o = [], [], [], [], []
                for L, mat, _ in _np_length_groups(pdf, "__v"):
                    for s in range(math.ceil(L / sub_dim)):
                        bk = bks.get(s)
                        if not bk:
                            continue
                        smat = mat[:, s * sub_dim : (s + 1) * sub_dim]
                        win = _np_argmin_cid(smat, bk)
                        w = smat.shape[1]
                        for j, (cid, _cw) in enumerate(bk):
                            sel = win == j
                            m = int(sel.sum())
                            if not m:
                                continue
                            sums = smat[sel].sum(axis=0)
                            cid_o.extend([cid] * w)
                            sub_o.extend([s] * w)
                            dim_o.extend(
                                range(s * sub_dim, s * sub_dim + w)
                            )
                            s_o.extend(sums.tolist())
                            n_o.extend([m] * w)
                yield pd.DataFrame(
                    {
                        "cid": cid_o,
                        "sub": sub_o,
                        "dim": dim_o,
                        "s": s_o,
                        "n": n_o,
                    }
                )

        upd = (
            vt.mapInPandas(partial_sums, schema=part_schema)
            .groupBy("cid", "sub", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_key: dict = {}
        for r in upd:
            by_key.setdefault((r["sub"], r["cid"]), {})[r["dim"]] = (
                r["s"] // r["n"]
            )
        books = {}
        for (s, cid), dims in sorted(by_key.items()):
            arr = np.empty(len(dims), dtype=np.int64)
            for d, c in dims.items():
                arr[d - s * sub_dim] = c
            books.setdefault(s, []).append((cid, arr))

    fbooks = books

    # single encode pass for BOTH paths: assign EVERY corpus vector to
    # the POST-update codebooks (same argmin semantics as the training
    # assignment). Without this the default path would return the last
    # TRAINING assignment — computed against the second-to-last
    # codebooks — leaving codes inconsistent with the returned books,
    # and pq_train_encode(train_df=emb) would disagree with
    # pq_train_encode() on identical data.
    def encode(it):
        for pdf in it:
            ids, subs, cids = [], [], []
            for L, mat, idx in _np_length_groups(pdf, "__v"):
                bids = pdf[id_col].to_numpy()[idx]
                for s in range(math.ceil(L / sub_dim)):
                    bk = fbooks.get(s)
                    if not bk:
                        continue
                    smat = mat[:, s * sub_dim : (s + 1) * sub_dim]
                    win = _np_argmin_cid(smat, bk)
                    ids.extend(bids.tolist())
                    subs.extend([s] * len(bids))
                    cids.extend(bk[j][0] for j in win)
            yield pd.DataFrame({id_col: ids, "sub": subs, "cid": cids})

    codes_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("sub", T.LongType()),
            T.StructField("cid", id_type),
        ]
    )
    # the codes frame is consumed by the ADC scorer AND by candidate
    # filters (v8/v10 reference it more than once); pin the narrow
    # (id, sub, cid) result so the encode pass runs once
    assign = pin(vecs.mapInPandas(encode, schema=codes_schema))
    # driver-held codebooks: a VALUES LocalRelation, not an RDD
    cents = literal_df(
        spark,
        [
            (cid, s, s * sub_dim + p, int(cw[p]))
            for s in sorted(fbooks)
            for cid, cw in fbooks[s]
            for p in range(cw.shape[0])
        ],
        f"cid {id_type.simpleString()}, sub long, dim int, c long",
    )
    return assign, cents


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query_dims: DataFrame,
    id_col: str = "vec_id",
    top_k: int = 10,
):
    """Asymmetric distance computation: the query stays exact, every
    database vector is its codes, and dist(q, x) ≈ Σ_sub table[sub,
    code(x, sub)] where the table is the integer distance from the
    query's sub-vector to each codeword — n_sub·k_sub cells computed
    once, BROADCAST, then one equi-join + one sum per candidate. The
    scan never touches the original vectors: at 100 TB the codes column
    is ~20× narrower than the embedding column and the ADC join is
    shuffle-free (broadcast table).

    ``query_dims`` is a (dim, v) frame of the query's quantized coords.
    """
    tab = (
        codebooks.join(query_dims.withColumnRenamed("v", "qv"), "dim")
        .groupBy("sub", "cid")
        .agg(
            F.sum(
                (F.col("c") - F.col("qv")) * (F.col("c") - F.col("qv"))
            ).alias("dsub")
        )
    )
    adc = (
        codes.join(F.broadcast(tab), ["sub", "cid"])
        .groupBy(id_col)
        .agg(F.sum("dsub").cast("long").alias("adc_dist"))
    )
    return adc.orderBy("adc_dist", id_col).limit(top_k)


def ivf_pq_topk(
    emb: DataFrame,
    query_vec,
    k: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    n_sub: int = 16,
    k_sub: int = 32,
    dim: int = 64,
    top_k: int = 10,
    quant: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """IVF-PQ search (Jégou et al. 2011 §IV, the IVFADC index FAISS
    ships as ``IVFx,PQy`` — the production ANN composition): the coarse
    quantizer (kmeans_exact) routes the query to its ``n_probe``
    nearest cells, and ONLY those cells' members are scored — from
    their PQ codes via the broadcast ADC table, never from the raw
    vectors. The two compressions multiply: the scan touches
    n_probe/k of the corpus (partition pruning when cluster_id is the
    lake partition key) AND reads the ~20x narrower codes column — the
    regime where brute force, IVF-alone (v6), and PQ-alone (v8) are
    all memory-bound. Codes encode raw vectors, not residuals:
    residual ADC needs a fresh table per probed cell per query, while
    raw-vector ADC keeps ONE n_sub*k_sub table and stays cross-engine
    exact (the recall cost at n_probe=2/64-dim synthetic data is
    pinned by the oracle's in_exact10 flags).

    Returns (vec_id, cid, adc_dist) for the top_k candidates.
    """
    from pyspark.sql import Window

    assign, cents = kmeans_exact(
        emb, vec_col=vec_col, id_col=id_col, k=k, iters=iters, quant=quant
    )
    qlit = F.expr(
        "array("
        + ", ".join(
            str(int(round(float(x) * quant))) + "L" for x in query_vec
        )
        + ")"
    )
    carr = cents.groupBy("cid").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("c")))
        ).alias("cs")
    )
    cdist = carr.select(
        "cid",
        F.aggregate(
            F.zip_with(
                F.transform(F.col("cs"), lambda s: s["c"]),
                qlit,
                lambda c, qv: (c - qv) * (c - qv),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("cdist"),
    )
    wc = Window.orderBy("cdist", "cid")
    probe = (
        cdist.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= n_probe)
        .select("cid")
    )
    codes, books = pq_train_encode(
        emb,
        vec_col=vec_col,
        id_col=id_col,
        n_sub=n_sub,
        k_sub=k_sub,
        iters=iters,
        quant=quant,
        dim=dim,
    )
    # cand gates the codes scan AND re-attaches coarse_cid to the final
    # top-k: two consumers, one narrow frame — pin it
    cand = pin(
        assign.join(F.broadcast(probe), "cid")
        .filter(F.col(id_col) != 0)
        .withColumnRenamed("cid", "coarse_cid")
    )
    qdims = emb.filter(F.col(id_col) == 0).select(
        F.posexplode(
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.round(x * quant, 0).cast("long"),
            )
        ).alias("dim", "v")
    )
    codes_f = codes.join(cand.select(id_col), id_col)
    top = pq_adc_topk(codes_f, books, qdims, id_col=id_col, top_k=top_k)
    return top.join(cand, id_col).select(
        id_col, F.col("coarse_cid").alias("cid"), "adc_dist"
    )


def semantic_dedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    quant: int = 1000,
    tau: float = 0.4,
    assign: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with a coarse
    k-means, then mark within-cluster semantic duplicates — a vector is
    a dup when a LOWER-ID member of its cluster has cosine similarity
    >= ``tau`` (the greedy keep-lowest rule; chains mark every non-first
    member of a similarity run, the standard approximation).

    Returns ``(id, cid, is_dup)`` — one row per input vector. The id
    column may be any orderable type (the keep-lowest rule is its
    natural ordering; the output schema mirrors the input id type) —
    but when ``assign`` is omitted the internal :func:`kmeans_exact`
    seeds centroids from ids 1..k, so non-numeric ids must come with a
    precomputed ``assign``.

    Cross-engine exact: clustering is :func:`kmeans_exact` (integer
    semantics), dots/norms are integer sums over ``quant``-quantized
    coordinates, and cosine = dot/sqrt(na)/sqrt(nb) uses only IEEE
    correctly-rounded ops (sqrt, divide), so the dup decision is
    bit-stable on any engine given the 6-dp-rounded compare. Three
    details make that literally true rather than approximately
    (each one a real divergence vs a SQL replay): (1) the division
    happens in the SAME order as the oracle text — by the LOWER id's
    norm first, then the higher's (a different order is a 1-ulp risk at
    the rounding boundary); (2) rounding is half-away-from-zero
    (floor(|x|*1e6 + 0.5) with the sign restored), matching Spark and
    DuckDB ``round`` — numpy's own ``np.round`` is half-to-even and
    diverges on exact 1e-6 ties; (3) zero vectors (norm 0) are defined
    as similar to nothing — 0/0 would be NaN, and engines ORDER NaN
    differently (DuckDB sorts it above every number, so ``NaN >= tau``
    flips TRUE there while numpy says False).

    Scale shape: the within-cluster pairwise pass is SemDeDup's
    intrinsic O(sum c_i^2) cost, executed as ONE Arrow batch per
    cluster (numpy integer matmul — the same quantized-int kernel v3
    uses, ~10x an interpreted zip_with chain), keyed on cid so the pair
    space is never the raw O(n^2). A cluster must fit one executor's
    batch — exactly SemDeDup's operating regime: at lake scale k grows
    with the corpus to bound cluster sizes (the paper runs k~1e5 on
    LAION), and cid doubles as the lake partition key. Growing k keeps
    MEMORY bounded (the batch-per-cluster invariant) at the price of
    the Lloyd assignment's n*k*d distance work — the production remedy
    for that CPU term is approximate/hierarchical centroid assignment
    (a coarse first-level quantizer), which slots into kmeans_exact's
    assignment step without touching the dedup contract.
    """
    import numpy as np
    import pandas as pd

    if assign is None:
        assign, _ = kmeans_exact(
            emb,
            vec_col=vec_col,
            id_col=id_col,
            k=k,
            iters=iters,
            quant=quant,
        )
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * quant, 0).cast("long"),
    )
    m = emb.select(F.col(id_col), qv.alias("qv")).join(assign, id_col)

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.vstack(pdf["qv"].to_numpy()[order]).astype(np.int64)
        n2 = (mat * mat).sum(axis=1)
        # integer dots; cosine = dot/sqrt(na)/sqrt(nb) uses only IEEE
        # correctly-rounded ops, bit-equal to the SQL oracle PROVIDED
        # the divisions run in the oracle's order: lower id (the column
        # index in the lower triangle) first, then the row's own norm
        rt = np.sqrt(n2.astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = (mat @ mat.T) / rt[None, :] / rt[:, None]
        # half-away-from-zero at 6 dp, matching Spark/DuckDB round();
        # np.round is half-to-even and flips exact 1e-6 ties
        sim = np.sign(sim) * np.floor(np.abs(sim) * 1e6 + 0.5) / 1e6
        zero = n2 == 0  # cosine undefined: similar to nothing
        sim[zero, :] = -2.0
        sim[:, zero] = -2.0
        tri = np.tril(sim >= tau, k=-1)  # [i, j<i] above threshold
        return pd.DataFrame(
            {
                id_col: ids,
                "cid": pdf["cid"].to_numpy()[order],
                "is_dup": tri.any(axis=1),
            }
        )

    id_type = emb.schema[id_col].dataType.simpleString()
    return m.groupBy("cid").applyInPandas(
        per_cluster, schema=f"{id_col} {id_type}, cid long, is_dup boolean"
    )


def hierarchical_assign(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    g: int = 3,
    iters: int = 2,
    quant: int = 1000,
    train_df: DataFrame | None = None,
):
    """Two-level (coarse -> fine) centroid assignment: the production
    remedy for the flat Lloyd assignment's n*k*d distance work when k
    scales with the corpus (semantic_dedup's regime).

    Level 1 groups the k centroids under ``g`` coarse centers (a
    centroid-table-only pass, k rows); level 2 assigns each vector to
    its nearest coarse center (n*g*d) and then exactly among ONLY that
    group's centroids (n*(k/g)*d expected). Total n*(g + k/g)*d —
    minimized at g ~ sqrt(k), i.e. O(n*sqrt(k)*d) instead of O(n*k*d).
    Same integer semantics as kmeans_exact throughout (quantized
    coordinates, integer squared distances, lowest-id tie-breaks), so
    the approximation error is purely geometric: a vector whose true
    centroid sits in a different coarse group than the vector's own
    maps to the best centroid of its group instead.

    Returns (approx_assign (id, cid), exact_cents (cid, dim, c)).

    Scale shape: the centroid grouping and both argmin joins broadcast
    only centroid-sized tables (k*d and g*d rows); the vector side is
    touched twice with map-side partial aggregation; the per-vector
    coarse gid rides a co-partitioned id join — nothing driver-side.

    ``train_df``: optional bounded subset to TRAIN the centroids on
    (seed ids 1..k must be present in it). Lloyd training is itself
    n*k*d per round, so at corpus scale the standard move (faiss /
    SemDeDup practice) is: train on a fixed-size deterministic sample,
    then two-level-assign the full corpus — which makes the whole
    clustering O(sample*k*d + n*sqrt(k)*d), sub-linear in n*k.
    """
    from pyspark.sql import Window

    # the flat assignment is DISCARDED (only the trained centroids are
    # used); its lazy pin never materializes
    _, cents = kmeans_exact(
        train_df if train_df is not None else emb,
        vec_col=vec_col,
        id_col=id_col,
        k=k,
        iters=iters,
        quant=quant,
    )
    q = emb.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.round(x * quant, 0).cast("long"),
            )
        ).alias("dim", "v"),
    )
    # cents is a VALUES LocalRelation from kmeans_exact — already a
    # driver literal, so the 4 consumers below share it for free (a
    # checkpoint here would demote it to an RDD scan)
    seeds = cents.filter(F.col("cid") <= g).select(
        F.col("cid").alias("gid"), "dim", F.col("c").alias("cg")
    )
    # level 1: group the centroid table itself
    cd = F.col("c") - F.col("cg")
    cgrp_d = (
        cents.join(F.broadcast(seeds), "dim")
        .groupBy("cid", "gid")
        .agg(F.sum(cd * cd).alias("d"))
    )
    wc = Window.partitionBy("cid").orderBy("d", "gid")
    cgrp = (
        cgrp_d.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") == 1)
        .select("cid", "gid")
    )
    # level 2a: vector -> nearest coarse center
    vd = F.col("v") - F.col("cg")
    vg_d = (
        q.join(F.broadcast(seeds), "dim")
        .groupBy(id_col, "gid")
        .agg(F.sum(vd * vd).alias("d"))
    )
    wv = Window.partitionBy(id_col).orderBy("d", "gid")
    vg = (
        vg_d.withColumn("__rn", F.row_number().over(wv))
        .filter(F.col("__rn") == 1)
        .select(id_col, "gid")
    )
    # level 2b: exact argmin among the coarse group's centroids only
    cand = cents.join(F.broadcast(cgrp), "cid")  # (cid, dim, c, gid)
    fd = F.col("v") - F.col("c")
    fine = (
        q.join(vg, id_col)
        .join(F.broadcast(cand), ["gid", "dim"])
        .groupBy(id_col, "cid")
        .agg(F.sum(fd * fd).alias("d"))
    )
    wf = Window.partitionBy(id_col).orderBy("d", "cid")
    approx = (
        fine.withColumn("__rn", F.row_number().over(wf))
        .filter(F.col("__rn") == 1)
        .select(id_col, "cid")
    )
    return approx, cents
