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

from openseizuredatabase_spark.functions.literal import rows_frame
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


_TWO63 = 2.0**63
_I64 = np.iinfo(np.int64)


def _np_quantize(x, quant):
    """``x`` scaled by ``quant`` and rounded half away from zero to
    int64 — Spark's ``round(x * quant, 0)::long`` (:func:`quantize_col`)
    for every finite value in range: ``round`` is BigDecimal HALF_UP on
    the double, and ``k + 0.5`` is exact below 2^52, so the floor/frac
    test reproduces it; above 2^52 every double is already an integer.
    Where Spark's ANSI cast raises ``CAST_OVERFLOW`` — NaN, ±Inf, or a
    rounded magnitude above 2^63 — this raises ``ArithmeticError``. Like
    the cast it admits ±2^63 exactly, saturating +2^63 to the int64
    maximum."""
    v = np.asarray(x, dtype=np.float64) * float(quant)
    a = np.abs(v)
    f = np.floor(a)
    with np.errstate(invalid="ignore"):  # inf - inf: raised below
        r = np.copysign(f + (a - f >= 0.5), v)
    bad = ~(np.abs(r) <= _TWO63)  # NaN compares false
    if bad.any():
        raise ArithmeticError(
            f"[CAST_OVERFLOW] {v[bad][0]!r} cannot be cast to BIGINT"
        )
    out = np.minimum(r, np.nextafter(_TWO63, 0.0)).astype(np.int64)
    out[r == _TWO63] = _I64.max
    return out


def quantize_col(vec, quant: int):
    """Spark twin of :func:`_np_quantize` over an array column:
    ``transform(cast(vec as array<double>), x -> round(x * quant, 0)
    ::long)``. A null element stays null."""
    return F.transform(
        vec.cast("array<double>"),
        lambda x: F.round(x * quant, 0).cast("long"),
    )


def _np_length_groups(batch, vec_field, quant=None):
    """Yield (length, int64 matrix, row index array) per distinct
    nonzero vector length of ``vec_field`` in a pyarrow RecordBatch or
    Table (rows are ragged lists). With ``quant`` the lists hold doubles
    and each coordinate goes through :func:`_np_quantize`; without it
    they already hold quantized integers. A null element raises
    ``ArithmeticError``, as a NaN does in :func:`_np_quantize`: it has
    no integer coordinate, and a sentinel such as the int64 minimum
    would wrap ``(v - c)²`` in :func:`_np_argmin_cid`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = batch.column(vec_field)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(col), 0).to_numpy()
    vals = col.flatten()
    if vals.null_count:
        raise ArithmeticError(f"a {vec_field} vector holds a null element")
    if quant is None:
        flat = vals.to_numpy().astype(np.int64)
    else:
        flat = _np_quantize(vals.to_numpy(), quant)
    starts = np.cumsum(lens) - lens
    for L in np.unique(lens):
        if L == 0:
            continue
        idx = np.nonzero(lens == L)[0]
        yield int(L), flat[starts[idx, None] + np.arange(L)], idx


def _np_subspaces(groups, width):
    """Yield (sub, first dim, int64 matrix, row index array) for every
    subspace of every length group from :func:`_np_length_groups`: the
    dense slices [sub·width, (sub+1)·width) of its vectors. A ragged
    tail slices short and a subspace the group does not reach does not
    appear — the posexplode + ``dim div width`` grouping. ``width``
    None is one subspace spanning the whole vector (k-means)."""
    for L, mat, idx in groups:
        w = width or L
        for s in range(-(-L // w)):
            yield s, s * w, mat[:, s * w : (s + 1) * w], idx


def _np_book(tbl, id_col, quant, width):
    """The seed codebook: every subspace slice of the vectors in the
    pyarrow table ``tbl`` (``id_col``, double lists ``__v``), keyed
    ``{sub: [(cid, int64 codeword), ...]}`` with the vector's id as its
    cid, id-ascending within each subspace."""
    ids = tbl.column(id_col).to_pylist()
    book: dict = {}
    groups = _np_length_groups(tbl, "__v", quant)
    for s, _lo, mat, idx in _np_subspaces(groups, width):
        book.setdefault(s, []).extend(zip((ids[i] for i in idx.tolist()), mat))
    for cws in book.values():
        cws.sort(key=lambda t: t[0])
    return book


def _arrow_batch(rows, schema):
    """One pyarrow RecordBatch of the Spark ``schema`` from row tuples
    (a ``mapInArrow`` output batch)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


# Row cap for training on the driver (kmeans_exact and pq_train_encode,
# through _lloyd_exact): at or under this many vectors divided by the
# subspace count n_sub (1 for k-means), the core collects the raw
# vectors once, quantizes them and runs every Lloyd round and, without
# a train_df, the final assignment in the driver process. Measured
# crossover (tools/gate_crossover.py --gate kmeans and --gate pq:
# synthetic 64-dim embeddings; k-means k=8, PQ v8's n_sub=16, k_sub=32;
# iters=2; local[4] on a 4-core host, 4 GB driver heap; build plus one
# action, median of 3), driver vs distributed seconds, the failed
# gate's own collect (gate_s of the default path) above the cap, and
# driver.peak_rss_mb (Python plus JVM VmHWM, MiB) of both paths:
#
#             vectors   driver  distributed  failed gate  peak MiB (d/dist)
#   k-means     2,000     0.66         1.23                    824 /   936
#              20,000     1.75         1.41                  1,279 / 1,321
#              60,000     2.10         2.01                  1,407 / 2,312
#             100,000     3.41         2.53         0.60     2,314 / 2,227
#             200,000     5.44         3.18         0.79     3,749 / 3,359
#             600,000    16.25         7.86         0.74     6,912 / 5,095
#   PQ          2,000     0.95         1.39                    819 / 1,145
#               3,750     1.11         1.44                  1,023 / 1,419
#              10,000     1.94         1.83         0.11     1,051 / 1,439
#              20,000     3.90         2.25                  1,228 / 1,637
#              60,000     8.80         3.65                  2,010 / 2,094
#             200,000        -         8.75         0.36         - / 3,839
#             600,000        -        25.53         0.25         - / 5,079
#
# k-means: the driver path holds up to 60k and loses from 100k on, as
# it did when both paths quantized in SQL (then 6.0 vs 6.6 s at 60k,
# 11.0 vs 10.4 s at 100k, 59.9 vs 45.2 s at 600k), so the cap stays;
# an earlier run of the same cells read 1.59 vs 1.70 s at 20k and
# 2.15 vs 2.39 s at 60k. Above the cap the default path ran 4.60 s at
# 200k and 8.52 s at 600k, against 17.26 s and 46.85 s with the SQL
# quantizer. PQ crosses over near 10k vectors, not 60k: each vector
# meets n_sub·k_sub = 512 codewords (k-means: 8) and leaves n_sub code
# rows in the driver-held codes frame. Its gate is therefore this cap
# divided by n_sub (3,750 for v8), where the driver still wins; the
# codes frame then holds at most this cap's rows, as k-means'
# assignment does. The driver path was not run above 60k, where it
# already took 2.4x the distributed time. Above its gate PQ quantizes
# in numpy too, which cut its default path from 17.9 s to 10.1 s at
# 200k and from 51.7 s to 24.1 s at 600k against the SQL quantizer.
_KMEANS_DRIVER_ROW_CAP = 60_000


def _np_partial_sums(groups, book, width):
    """Per-(cid, sub, dim) member sums and counts of one batch against
    ``book``: ``(cid, sub, dim, s, n)`` rows, ``s`` an exact Python int.
    ``groups`` comes from :func:`_np_length_groups`."""
    out = []
    for s, lo, mat, _ in _np_subspaces(groups, width):
        cws = book.get(s)
        if not cws:
            continue
        win = _np_argmin_cid(mat, cws)
        for j, (cid, _cw) in enumerate(cws):
            sel = win == j
            m = int(sel.sum())
            if m:
                sums = mat[sel].sum(axis=0).tolist()
                out.extend((cid, s, lo + d, x, m) for d, x in enumerate(sums))
    return out


def _book_from_sums(rows):
    """The updated codebook from per-(cid, sub, dim) partial sums and
    counts ``(cid, sub, dim, s, n)``, totalled here as Python ints, which
    are exact at any magnitude; Python ``//`` is floor division == the
    portable (s - (((s%n)+n)%n)) / n. A codeword's dims are a dense
    range from its subspace's first dim (vector dims are dense
    prefixes), so sorting them places every coordinate."""
    tot: dict = {}
    for cid, s, d, x, n in rows:
        t = tot.setdefault((s, cid), {}).setdefault(d, [0, 0])
        t[0] += x
        t[1] += n
    book: dict = {}
    for s, cid in sorted(tot):
        cw = [x // n for _d, (x, n) in sorted(tot[s, cid].items())]
        book.setdefault(s, []).append((cid, np.array(cw, dtype=np.int64)))
    return book


def _np_assign(ids, groups, book, width):
    """Each vector's nearest codeword in ``book`` per subspace: (id, sub,
    cid) rows, or (id, cid) when ``width`` is None (one subspace).
    ``ids`` is the batch's id column as a numpy array."""
    out = []
    for s, _lo, mat, idx in _np_subspaces(groups, width):
        cws = book.get(s)
        if not cws:
            continue
        cids = [cws[j][0] for j in _np_argmin_cid(mat, cws)]
        if width is None:
            out.extend(zip(ids[idx].tolist(), cids))
        else:
            out.extend(zip(ids[idx].tolist(), [s] * len(cids), cids))
    return out


def _book_frame(spark, book, id_type, width):
    """A codebook as (cid, dim, c) rows, with ``sub`` after ``cid`` when
    ``width`` is set. The codebook is driver-held: up to rows_frame's
    limit a VALUES LocalRelation (no RDD job, folds/broadcasts as a
    literal)."""
    sub = width is not None
    rows = [
        (cid, *((s,) if sub else ()), s * (width or 0) + p, c)
        for s in sorted(book)
        for cid, cw in book[s]
        for p, c in enumerate(cw.tolist())
    ]
    ddl = f"cid {id_type.simpleString()}, {'sub long, ' if sub else ''}dim int, c long"
    return rows_frame(spark, rows, ddl)


def _lloyd_exact(
    emb, vec_col, id_col, k, iters, quant, n_sub=1, width=None, train_df=None
):
    """The exact Lloyd core of :func:`kmeans_exact` (``width`` None: one
    subspace spanning the whole vector) and :func:`pq_train_encode`
    (``n_sub`` subspaces of ``width`` dims, each clustered on its own;
    a vector longer than n_sub·width has more). Seeds are the
    vectors with ids 1..k of the training frame (``train_df``, else
    ``emb``); each of the ``iters`` rounds assigns every training vector
    to its nearest codeword per subspace and floor-divides the member
    sums into the next codebook.

    The gate reads the raw training vectors — ``cast(vec as
    array<double>)``, no lambda, no spread — in one bounded collect
    (:func:`lineage.bounded_collect`, at most ``_KMEANS_DRIVER_ROW_CAP
    // n_sub`` + 1 rows through Arrow: the driver-held codes frame then
    holds at most the cap's rows). At or under that, the collect is the
    only training job: the driver quantizes with :func:`_np_quantize`,
    builds the length groups once and runs every round with the same
    numpy kernels the workers use. Above it the raw vectors are widened
    (``spread_cpu_dense``) and pinned, and each round is one vectorized
    ``mapInArrow`` pass (quantize, argmin against the closure-shipped
    codebook, per-batch partial (cid, sub, dim) sums) plus one
    aggregation whose shuffle carries at most k·dim rows per input
    partition — REPOSE's partition-local work plus a driver merge.

    Returns (entered, left, encode): the codebooks ``{sub: [(cid, int64
    codeword), ...]}`` (cid-ascending) that entered and left the last
    round, and ``encode(book)``, the frame of every ``emb`` vector's
    nearest codeword in ``book`` per subspace — (id, sub, cid), or
    (id, cid) with one subspace. It is a driver-held literal frame when
    the driver trained on ``emb`` itself, else one pinned ``mapInArrow``
    pass over the pinned training vectors or the ``train_df`` corpus.
    """
    from pyspark.sql import types as T

    spark = emb.sparkSession
    id_type = emb.schema[id_col].dataType

    def raw(df):
        return df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
        ).filter(F.size("__v") > 0)

    train = raw(emb if train_df is None else train_df)
    tbl = bounded_collect(train, _KMEANS_DRIVER_ROW_CAP // n_sub)
    if tbl is not None:
        idv = tbl.column(id_col).to_numpy()
        seeds = tbl.filter((idv >= 1) & (idv <= k))
        groups = list(_np_length_groups(tbl, "__v", quant))

        def round_sums(cws):
            return _np_partial_sums(groups, cws, width)

    else:
        # every Lloyd round and the encode are CPU-dense numpy map
        # passes over vecs: widen a narrow source scan (results are
        # layout-invariant by the integer-arithmetic contract) and pin it
        # so each pass reuses one materialized scan; the seed collect
        # below is its first action
        vecs = pin(spread_cpu_dense(train, spark))
        seeds = vecs.filter((F.col(id_col) >= 1) & (F.col(id_col) <= k)).toArrow()
        part_schema = T.StructType(
            [
                T.StructField("cid", id_type),
                T.StructField("sub", T.LongType()),
                T.StructField("dim", T.IntegerType()),
                T.StructField("s", T.LongType()),
                T.StructField("n", T.LongType()),
            ]
        )

        def round_sums(cws):
            def partial_sums(it):
                for batch in it:
                    groups = _np_length_groups(batch, "__v", quant)
                    yield _arrow_batch(
                        _np_partial_sums(groups, cws, width), part_schema
                    )

            return (
                vecs.mapInArrow(partial_sums, schema=part_schema)
                .groupBy("cid", "sub", "dim")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )

    book = entered = _np_book(seeds, id_col, quant, width)
    for _ in range(iters):
        entered = book
        book = _book_from_sums(round_sums(book))

    out_schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + ([] if width is None else [T.StructField("sub", T.LongType())])
        + [T.StructField("cid", id_type)]
    )

    def encode(cws):
        if tbl is not None and train_df is None:
            ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_schema)
            return rows_frame(spark, _np_assign(idv, groups, cws, width), ddl)
        # a train_df corpus is read by this one pass only, so it is
        # neither spread nor pinned: under AQE a pin over the spread's
        # exchange runs that shuffle at build time, one more job (v18)
        corpus = vecs if train_df is None else raw(emb)

        def assign_codes(it):
            for batch in it:
                ids = batch.column(id_col).to_numpy(zero_copy_only=False)
                groups = _np_length_groups(batch, "__v", quant)
                yield _arrow_batch(_np_assign(ids, groups, cws, width), out_schema)

        # the codes are the narrow proxy frame the PQ/IVF callers read
        # from several consumer subtrees. The pin is lazy: with the
        # k-means cap at -1 on Spark 4.1.2 (sf0.1, local[4]) an eager
        # one cost v5 and v6 one job each (12 → 11) and was no faster;
        # a caller that discards the assignment (ivf_two_level) never
        # materializes it
        return pin(corpus.mapInArrow(assign_codes, schema=out_schema))

    return entered, book, encode


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

    Scale shape: k-means is :func:`_lloyd_exact` with one subspace. The
    seeds are the vectors with ids 1..k, and the codebook (k·dim
    integers) always lives on the driver between rounds. At or under
    ``_KMEANS_DRIVER_ROW_CAP`` vectors one bounded Arrow collect is the
    only Spark job and the assignment comes back as a driver-held
    literal frame; above it each round is one ``mapInArrow`` pass plus
    one small aggregation, then a final ``mapInArrow`` assignment pass.

    Returns (assignments (id, cid), centroids (cid, dim, c)).
    """
    assign, book = _kmeans(emb, vec_col, id_col, k, iters, quant)
    return assign, _book_frame(
        emb.sparkSession, book, emb.schema[id_col].dataType, None
    )


def _kmeans(emb, vec_col, id_col, k, iters, quant):
    """:func:`kmeans_exact`'s assignment frame and its driver-held
    codebook ``{0: [(cid, int64 centroid), ...]}``."""
    entered, book, encode = _lloyd_exact(emb, vec_col, id_col, k, iters, quant)
    # the returned assignment is the LAST TRAINING assignment — argmin
    # against the book that ENTERED the final round (pre-update), the
    # historical loop's exact semantics; the returned centroids are the
    # post-update book
    return encode(entered), book


def _probe_cids(book, q, n_probe):
    """The ids of the ``n_probe`` centroids of a one-subspace ``book``
    nearest the quantized query ``q`` by integer squared distance,
    lowest id first among equals — the driver twin of ranking the
    centroid table with ``zip_with`` and ``row_number`` over (dist,
    cid): a centroid of another length than the query has a null
    distance there, which sorts first."""

    def rank(item):
        cid, cw = item
        if cw.shape[0] != q.shape[0]:
            return (0, 0, cid)
        return (1, int(((cw - q) ** 2).sum()), cid)

    return [cid for cid, _cw in sorted(book.get(0, []), key=rank)[:n_probe]]


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

    Scale shape: the centroid ranking is k integer distances on the
    driver, which holds the codebook; at lake scale cluster_id is the
    partition key, so the probe filter IS partition pruning — the scan
    touches n_probe/k of the corpus. Rerank cost: candidates × dim
    integer ops, one TakeOrdered.
    """
    assign, book = _kmeans(emb, vec_col, id_col, k, iters, quant)
    q = _np_quantize(query_vec, quant)
    qlit = F.expr("array(" + ", ".join(f"{x}L" for x in q.tolist()) + ")")
    probe = _probe_cids(book, q, n_probe)
    qv = emb.select(id_col, quantize_col(F.col(vec_col), quant).alias("qvec"))
    cands = (
        assign.filter(F.col("cid").isin(probe))
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

    Training is :func:`_lloyd_exact`, the kmeans_exact core, with
    ``dim // n_sub``-dim subspaces: integer coordinates, integer
    distances, lowest-cid tie-breaks, portable floor-division centroid
    updates — bit-equal on any engine. The n_sub·k_sub·sub_dim-integer
    codebooks live on the driver between rounds, and every subspace of
    a vector is assigned in ONE vectorized numpy pass — no ×k_sub
    candidate explosion through a hash agg, no row_number sort (the
    historical shape shuffled n·n_sub·k_sub distance rows into a window
    per round). At or under ``_KMEANS_DRIVER_ROW_CAP // n_sub`` training
    vectors (the cap comment has the measured crossover) the core's one
    bounded collect is the only training job; above it each round is
    one ``mapInArrow`` pass plus one small aggregation.
    Subspace alignment soundness: every vector covering sub s at all
    covers it from dim s·sub_dim (vector dim lists are dense prefixes),
    so a sub-s codeword's dim set is a dense range starting at
    s·sub_dim and the trimmed-overlap distance in
    :func:`_np_argmin_cid` reproduces the historical join-on-dim
    contribution semantics exactly (pinned by tests/test_ann.py and the
    v8/v18 oracle twins, which replay the historical shape in SQL).

    The codes assign EVERY corpus vector to the POST-update codebooks
    (same argmin semantics as the training assignment), so they are
    consistent with the returned books and
    ``pq_train_encode(train_df=emb)`` equals ``pq_train_encode()`` on
    identical data. With ``train_df`` (the t24 sampled-train
    discipline: codebook training is the n·k_sub·d term, bounded to a
    sample) the corpus pays only the single distributed encode pass.

    Returns (codes (id, sub, cid), codebooks (cid, sub, dim, c)).
    """
    width = dim // n_sub
    _entered, book, encode = _lloyd_exact(
        emb, vec_col, id_col, k_sub, iters, quant, n_sub, width, train_df
    )
    return encode(book), _book_frame(
        emb.sparkSession, book, emb.schema[id_col].dataType, width
    )


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
    assign, book = _kmeans(emb, vec_col, id_col, k, iters, quant)
    probe = _probe_cids(book, _np_quantize(query_vec, quant), n_probe)
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
        assign.filter(F.col("cid").isin(probe))
        .filter(F.col(id_col) != 0)
        .withColumnRenamed("cid", "coarse_cid")
    )
    qdims = emb.filter(F.col(id_col) == 0).select(
        F.posexplode(quantize_col(F.col(vec_col), quant)).alias("dim", "v")
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
    qv = quantize_col(F.col(vec_col), quant)
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
        F.posexplode(quantize_col(F.col(vec_col), quant)).alias("dim", "v"),
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
