"""Dedup & grouping operators (reference D1-D4) + document dedup.

D1 — unique-event grouping (curator_tools/makeOsdDb.py:180-242): fixed
wall-clock time buckets per (user, type); one "best" representative per
bucket chosen by a precedence ORDER BY. The reference sorts each pandas
group in Python; here it is one window function over a single shuffle,
and the shuffle key (user, type, bucket) is exactly the aggregation key —
no second pass, scales with executors.

D2 — adjacent-duplicate clustering (curator_tools/merge_json.py:148-250):
gap-based sessionization. lag() + cumulative sum of gap-breaks builds the
cluster id without any iterative loop.

Document dedup (LLM-pipeline extension): exact (md5 fingerprint groupBy)
and MinHash signatures built from portable md5 hashing so band-bucket
join candidates are reproducible anywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openseizuredatabase_spark.functions.hashing import md5_long, seeded_md5_long
from openseizuredatabase_spark.functions.literal import rows_frame
from openseizuredatabase_spark.functions.text import fingerprint, tokens
from openseizuredatabase_spark.sources.width import rows_width


def bucket_start_epoch(ts: Column, bucket_secs: int) -> Column:
    """Fixed wall-clock bucket (epoch-aligned), as epoch seconds (long).

    Matches pandas Grouper(freq=...) fixed bins, NOT gap sessions —
    SURVEY §7.4 risk 1.
    """
    return (F.floor(F.unix_timestamp(ts) / bucket_secs) * bucket_secs).cast("long")


def unique_group_representative(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    bucket_secs: int,
    precedence: Column,
    id_col: str,
) -> DataFrame:
    """D1: one best row per (group_cols, time bucket).

    ``precedence``: ascending sort expression; lowest wins (encode
    ALARM > tagged > first as 0/1/2). Ties break by (ts, id).
    """
    bucket = bucket_start_epoch(F.col(ts_col), bucket_secs).alias("bucket_start")
    keys = [*group_cols, "bucket_start"]
    w = Window.partitionBy(*keys).orderBy(
        precedence.asc(), F.col(ts_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("bucket_start", bucket)
        .withColumn("__prec", precedence)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prec")
        .withColumnRenamed("__n", "n_rows")
    )


def unique_group_representative_id(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    bucket_secs: int,
    precedence: Column,
    id_col: str,
) -> DataFrame:
    """D1, aggregation form: when only the representative's ID (not the
    full row) is needed, ``min_by`` over the (precedence, ts, id) struct
    replaces the window — a partial-aggregating groupBy (map-side
    combine shrinks the shuffle to one row per group per mapper) with no
    per-partition sort. Same selection rule as
    :func:`unique_group_representative`; ties impossible (id in the
    key)."""
    bucket = bucket_start_epoch(F.col(ts_col), bucket_secs).alias(
        "bucket_start"
    )
    return (
        df.withColumn("bucket_start", bucket)
        .withColumn("__p", precedence)
        .groupBy(*group_cols, "bucket_start")
        .agg(
            F.min_by(
                id_col,
                F.struct(F.col("__p"), F.col(ts_col), F.col(id_col)),
            ).alias(f"rep_{id_col}"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def gap_clusters(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    gap_secs: int,
) -> DataFrame:
    """D2 sessionization: add ``cluster_id`` (0-based per group).

    New cluster whenever the gap to the previous row (within the group,
    time order) exceeds ``gap_secs``. Single shuffle on group_cols.
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col(ts_col).asc())
    gap = F.col(ts_col).cast("double") - F.lag(F.col(ts_col)).over(w).cast("double")
    is_break = F.when(gap.isNull() | (gap > gap_secs), 1).otherwise(0)
    return df.withColumn(
        "cluster_id",
        F.sum(is_break).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
    )


def cluster_representative(
    clustered: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """D2 step 2: keep the best row per cluster (e.g. most datapoints,
    later time tiebreak — merge_json.py:231-247)."""
    w = Window.partitionBy(*group_cols, "cluster_id").orderBy(*order_by)
    cw = Window.partitionBy(*group_cols, "cluster_id")
    return (
        clustered.withColumn("__rn", F.row_number().over(w))
        .withColumn("cluster_n", F.count(F.lit(1)).over(cw))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_flags(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-dup: md5 fingerprint of normalized text; a row is a dup
    if a lower-id row shares its fingerprint. One shuffle on the 32-char
    fingerprint (uniformly distributed — no skew)."""
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("is_dup", (F.row_number().over(w) > 1))
    )


def shingles(
    df: DataFrame, text_col: str, id_col: str, k: int, distinct: bool = True
) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle) rows.

    posexplode over sequence keeps everything JVM-side; with
    ``distinct=True`` repeated shingles collapse before any join fan-out
    (one extra exchange). Consumers whose aggregation is already
    set-semantic (min-hash, collect_set) should pass ``distinct=False``
    and skip that shuffle entirely.
    """
    toks = tokens(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("toks")).filter(F.size("toks") >= k)
    idx = F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("i")
    d = d.select(id_col, "toks", idx)
    sh = F.concat_ws(" ", *[F.element_at(F.col("toks"), F.col("i") + 1 + j) for j in range(k)])
    out = d.select(F.col(id_col), sh.alias("shingle"))
    return out.distinct() if distinct else out


def minhash_signatures(
    sh: DataFrame, id_col: str, n_hashes: int
) -> DataFrame:
    """MinHash signature columns mh_0..mh_{n-1} from a shingle table.

    One aggregation: min over seeded portable hashes — map-side combine
    makes this a partial-agg + single shuffle on id.
    """
    aggs = [
        F.min(seeded_md5_long(F.col("shingle"), j)).alias(f"mh_{j}")
        for j in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _lsh_bands(
    sigs: DataFrame, id_col: str, n_hashes: int, band_size: int
) -> DataFrame:
    """(id, band, band_hash) rows: one row per signature band."""
    n_bands = n_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{j}").cast("string") for j in range(b * band_size, (b + 1) * band_size)]
        bands.append(
            sigs.select(
                F.col(id_col),
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("band_hash"),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionByName(b)
    return banded


def lsh_band_pairs(
    sigs: DataFrame,
    id_col: str,
    n_hashes: int,
    band_size: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join within bands → candidate pairs.

    Classic MinHash-LSH: documents sharing ANY full band are candidates.
    Join key is (band_idx, band_hash) — uniformly distributed; the self
    join never sees the raw O(n²) pair space — EXCEPT when the corpus
    itself contains mega-duplicated content: m exact copies of one
    document share every band, so that bucket alone emits m²/2 pairs
    (measured: the 100x replica stress grows t32's candidate set ~R²
    for replicated text — correct output, quadratic cost).
    ``max_bucket`` is the production guard for that regime: buckets
    holding more than ``max_bucket`` ids are dropped before the join
    via the same spillable window-count screen as the shingle max_df
    cap (a bucket that hot is an exact-dup cluster — route it to exact
    fingerprint dedup (t4), which handles it in linear time, instead
    of enumerating its quadratic pair set here). Default None keeps
    the exact textbook semantics the t7/t32 oracles replay.
    """
    banded = _lsh_bands(sigs, id_col, n_hashes, band_size)
    if max_bucket is not None:
        w = Window.partitionBy("band", "band_hash")
        banded = (
            banded.repartition(F.col("band"), F.col("band_hash"))
            .withColumn("__m", F.count(F.lit(1)).over(w))
            .filter(F.col("__m") <= max_bucket)
            .drop("__m")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def lsh_band_pairs_between(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str,
    n_hashes: int,
    band_size: int,
) -> DataFrame:
    """Incremental-dedup screen: LSH candidates between a NEW ingest
    batch and the EXISTING corpus — how near-dup filtering actually runs
    in a production pipeline (each arriving batch is checked against the
    lake, not all-pairs re-run).

    The batch side is tiny next to the corpus, so its banded signatures
    broadcast and the corpus side is a single map-side hash probe —
    never shuffled, never self-joined. Returns distinct
    (new_id, corpus_id) candidates.
    """
    nb = _lsh_bands(new_sigs, id_col, n_hashes, band_size).alias("n")
    cb = _lsh_bands(corpus_sigs, id_col, n_hashes, band_size).alias("c")
    return (
        cb.join(
            F.broadcast(nb),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )


def jaccard_candidate_pairs(
    sh: DataFrame,
    id_col: str,
    max_df: int = 64,
) -> DataFrame:
    """Near-dup pairs with Jaccard >= threshold left to the caller: from a
    (id, shingle) table, emit (id_a, id_b, n_common, n_a, n_b).

    Semantics: shingles appearing in more than ``max_df`` DISTINCT docs
    are non-discriminative stop-shingles and are dropped.

    Scale shape (the naive self-join is quadratic on hot shingles, and a
    plain ``collect_set`` builds an O(df) unbounded+unspillable buffer
    for corpus-scale stop-shingles). ONE corpus shuffle, then everything
    spills instead of buffering:
    1. hash-repartition on the shingle key — the only full-corpus
       exchange in the operator;
    2. per-shingle sort (UnsafeExternalSorter: spills to disk, never
       OOMs on a hot key) feeds two chained window passes on the SAME
       order: a lag() dedupes repeated (id, shingle) rows in place (so
       callers can skip a distinct-shuffle), then count() yields the
       exact distinct doc frequency. The ``df`` filter culls
       stop-shingles while their rows are still in a SPILLABLE window
       buffer — no per-key aggregation buffer ever holds a hot
       shingle's full id-set (the failure mode of collect_set-first
       designs);
    3. the surviving groups (all <= max_df ids) collect with no further
       exchange — the groupBy key equals the window partitioning, which
       Catalyst recognizes as already satisfied;
    4. pairs explode JVM-side from each sorted id-set (<= max_df^2/2 per
       shingle), counted per (id_a, id_b); per-id surviving-set sizes
       come from the same grouped frame.
    """
    part = sh.repartition(F.col("shingle"))
    wo = Window.partitionBy("shingle").orderBy(id_col)
    w = Window.partitionBy("shingle")
    flt = (
        part.withColumn("__dup", F.lag(id_col).over(wo) == F.col(id_col))
        .filter(F.col("__dup").isNull() | ~F.col("__dup"))
        .withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
    )
    grouped = flt.groupBy("shingle").agg(
        # rows arrive id-sorted from the window sort; array_sort is a
        # <=max_df-element belt-and-braces rather than a contract
        F.array_sort(F.collect_list(F.col(id_col))).alias("ids")
    )
    # ONE downstream pass: each shingle group emits its pairs AND its
    # member ids (id_b NULL) as one exploded struct array, so pair
    # co-occurrence counts and per-id surviving-set sizes come out of a
    # SINGLE (id_a, id_b) aggregation — one exchange where the previous
    # design ran two branch aggregations off the grouped frame.
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(
                    x.alias("id_a"), y.alias("id_b")
                ),
            ),
        )
    )
    # the NULL sentinel must carry the id column's own type — a "long"
    # literal against string doc ids would give the pair structs and
    # single structs mismatched field types and fail F.concat analysis
    id_type = sh.schema[id_col].dataType
    single_structs = F.transform(
        F.col("ids"),
        lambda x: F.struct(
            x.alias("id_a"),
            F.lit(None).cast(id_type).alias("id_b"),
        ),
    )
    out = (
        grouped.select(
            F.explode(F.concat(pair_structs, single_structs)).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # `out` feeds three consumers (pairs + both size sides); collect_list
    # upstream is order-nondeterministic, which bars ReuseExchange from
    # collapsing the shared subtree — a lazy localCheckpoint materializes
    # the (small: df-capped pairs + one row per doc) frame once instead
    # of running scan+tokenize+window-agg per branch. Tradeoff:
    # checkpointed blocks skip lineage recovery; for a deterministic
    # batch pipeline a lost executor means re-running the query.
    out = out.localCheckpoint(eager=False)
    common = out.filter(F.col("id_b").isNotNull())
    sizes = out.filter(F.col("id_b").isNull()).select(
        F.col("id_a").alias(id_col), F.col("n_common").alias("n_sh")
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    # join strategy left to AQE: `sizes` has one row per surviving doc,
    # which broadcasts at test scale but is O(corpus) rows at lake scale
    # — a forced broadcast hint would OOM the driver there, while AQE
    # picks broadcast vs shuffle from the runtime size of the exchange
    return (
        common.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
        )
    )


def benchmark_overlap(
    train_sh: DataFrame, bench_sh: DataFrame, id_col: str
) -> DataFrame:
    """Training-set decontamination screen: per training doc, how many of
    its distinct k-gram shingles appear in the benchmark shingle set —
    the standard n-gram-overlap check run before an eval suite is trusted.

    Scale shape: the benchmark side (an eval suite) is orders of
    magnitude smaller than the training corpus, so its distinct shingle
    set broadcasts and the training side is NEVER shuffled on the
    shingle key — one broadcast left-join marks hits in place, then ONE
    map-side-combined aggregation on the doc key yields set size and hit
    count together. ``train_sh`` must be (id, shingle)-distinct (use
    ``shingles(..., distinct=True)``) or n_sh/n_hit become multiset
    counts.
    """
    bench = (
        bench_sh.select("shingle").distinct().withColumn("__hit", F.lit(1))
    )
    marked = train_sh.join(F.broadcast(bench), "shingle", "left")
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.count("__hit").alias("n_hit"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    seed: int = 11,
) -> DataFrame:
    """Winnowing local document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every k-character gram of the
    normalized text, slide a window of ``w`` consecutive hashes, keep
    each window's minimum; the distinct kept hashes are the document's
    fingerprint set. Guarantee: any shared substring of length
    >= w + k - 1 contributes at least one common fingerprint, so
    near-dup detection joins on fingerprints instead of full text.

    Plan shape: k-gram fan-out stays JVM-side (transform(sequence) +
    posexplode), ONE shuffle on the doc key serves both the sliding
    window and the final per-doc set aggregation (the groupBy reuses
    the window's hash partitioning), and the distinct-set reduction is
    an array_distinct over a collect_list — no second distinct shuffle.
    Fingerprint = portable 60-bit md5 integer (functions/hashing.py),
    oracle-checkable cross-engine.
    """
    txt = F.lower(F.trim(F.col(text_col)))
    d = df.select(F.col(id_col), txt.alias("__txt")).filter(
        F.length("__txt") >= k + w - 1
    )
    grams = F.expr(
        f"transform(sequence(0, char_length(__txt) - {k}),"
        f" i -> substring(__txt, i + 1, {k}))"
    )
    g = d.select(id_col, F.posexplode(grams).alias("pos", "gram"))
    g = g.select(id_col, "pos", seeded_md5_long(F.col("gram"), seed).alias("h"))
    win = (
        Window.partitionBy(id_col)
        .orderBy(F.col("pos").asc())
        .rowsBetween(-(w - 1), 0)
    )
    mins = g.select(
        id_col, "pos", F.min("h").over(win).alias("fp")
    ).filter(F.col("pos") >= w - 1)
    return (
        mins.groupBy(id_col)
        .agg(F.array_distinct(F.collect_list("fp")).alias("fps"))
        .select(id_col, "fps")
    )


# Fixed cap for the driver-side component finisher: at or under this
# many canonical edges, connected_components collects the edge list and
# labels it with one exact union-find on the driver. v15's grid DBSCAN
# (plans/q_vector.py) shares the cap for its points and its grid
# candidate pairs, so -1 forces both distributed paths at once. The
# collect can never exceed the cap plus one row, REGARDLESS of input
# scale, because it is a lineage.bounded_collect. Above the cap the
# star-contraction loop runs; its edge set shrinks geometrically per
# round (Kiveris et al. 2014, Lemma 4), so the same finisher replaces
# its last latency-bound rounds.
# Measured (tools/gate_crossover.py, local[4] on a 4-core host, 4 GB
# driver heap, build plus one action, median of 2), seconds driver vs
# distributed:
# - cc, chain / forest: 10k 1.2 vs 6.6 / 1.3 vs 4.7, 100k 1.9 vs 13.6 /
#   2.0 vs 5.1, 300k 3.8 vs 21.8 / 4.3 vs 10.1, 1M 12.1 vs 45.5 / 12.5
#   vs 30.3, 2M 26.7 vs 94.4 / 25.3 vs 36.5, forest 3M 42.5 vs 67.3;
# - dbscan, uniform points at the sf0.1 density (grid candidate pairs):
#   2k (32k) 0.4 vs 7.6, 20k (336k) 0.9 vs 10.2, 60k (1.0M) 0.9 vs
#   12.2, 200k (3.4M) 2.9 vs 28.0, 1M (17M, one rep) 13.5 vs 88.2.
# Neither gate crosses over in the measured range: the driver wins
# everywhere and its peak RSS (Python plus JVM) stays below the
# distributed run's (2M edges 3.3-3.6 vs 5.0 GB; 1M points 2.9 vs
# 5.2 GB), but its driver cost grows superlinearly (forest 1M -> 3M
# 12.5 -> 42.5 s, Python RSS 0.4 -> 1.0 GB) while the distributed
# rounds flatten. The cap is the largest size measured on both graph
# shapes, 2M edges, where the driver path still wins.
_CC_DRIVER_EDGE_CAP = 2_000_000


def _driver_cc_labels(edge_rows) -> dict:
    """Exact connected-component labels (id -> component MIN) from a
    bounded edge list via union-find with path compression.

    The minimum is taken under Python's native ordering, which matches
    Spark's for the id types the operators use (integers exactly;
    strings compare code-point-wise = UTF8 binary collation), so these
    labels equal the ones the star-contraction loop converges to
    (pinned by tests/test_operators.py and the t10/t54/p2/p7/v15
    oracles with the loop forced).
    """
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    return {x: comp_min[find(x)] for x in parent}


def _labels_frame(spark, labels: dict, id_ddl: str) -> DataFrame:
    """(id, comp) frame from a driver-held label dict."""
    return rows_frame(
        spark, sorted(labels.items()), f"id {id_ddl}, comp {id_ddl}"
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Duplicate-cluster consolidation: connected components over a
    candidate-pair graph ``(id_a, id_b)`` — the step after
    exact/MinHash/LSH/Jaccard pair generation. Returns ``(id, comp)``
    for every id in a pair, self-loop-only ids included, where ``comp``
    is the component's minimum id (the canonical doc).

    The pairs become one canonical edge frame ``(u, v) = (greatest,
    least)``, distinct and pinned once. When it holds at most
    ``_CC_DRIVER_EDGE_CAP`` edges, one bounded collect
    (:func:`lineage.bounded_collect`, no separate count job) and the
    driver union-find (:func:`_driver_cc_labels`) label it; self-loops
    stay in the frame, so self-loop-only ids are labelled without a node
    join.

    Above the cap, large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) rewrites
    the non-loop edges until the edge set is a fixpoint: stars rooted at
    each component's minimum. It terminates in O(log² n) rounds on any
    shape, long chains included. Each phase is ONE windowed pass keyed
    on the node (the neighborhood min rides ``min(v) over (partition by
    u)``), and each round is one pin plus one census job. Equal census
    (count, checksum) gates the exact ``exceptAll`` stability check; a
    count at or under the cap hands the remaining rounds to the same
    driver finisher. Ids that drop out of the edge set are isolated and
    label themselves.

    Every round's frame is pinned with :func:`lineage.pin`, not a plain
    localCheckpoint, so carried plan statistics cannot compound across
    rounds into BigIntegers that dominate driver planning. The driver
    sees only scalar censuses and, at or under the cap, the bounded
    edge list.
    """
    from openseizuredatabase_spark.lineage import bounded_collect, pin

    spark = pairs.sparkSession
    id_ddl = pairs.schema["id_a"].dataType.simpleString()
    wl = Window.partitionBy("u")

    def finish(tbl) -> DataFrame:
        labels = _driver_cc_labels(
            zip(tbl.column("u").to_pylist(), tbl.column("v").to_pylist())
        )
        return _labels_frame(spark, labels, id_ddl)

    def census(df: DataFrame):
        # one job yields both convergence signals: the edge count and
        # an order-free set checksum (sum of a 64-bit hash)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # pmod keeps each term < 2^31 so the long sum cannot
            # overflow below ~4e9 edges (ANSI mode raises on overflow)
            F.sum(
                F.pmod(F.xxhash64("u", "v"), F.lit(2147483647))
            ).alias("chk"),
        ).collect()[0]
        return r["n"], r["chk"]

    edges = pin(
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        ).distinct()
    )
    tbl = bounded_collect(edges, _CC_DRIVER_EDGE_CAP)
    if tbl is not None:
        return finish(tbl)
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    e = edges.filter(F.col("u") != F.col("v"))
    n_prev, chk_prev = census(e)
    # loop width by the rows rule from the census count; coalesce on a
    # pinned frame is narrow (no shuffle)
    e = e.coalesce(rows_width(spark, n_prev))
    while True:
        # large-star: symmetric neighborhoods; every strictly-larger
        # neighbor of u attaches to min(N(u) ∪ {u})
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # no intermediate distinct: sym has exactly one v>u row per
        # canonical edge, so ls is an |e|-row multiset — bounded — and
        # small-star's window min plus the final distinct are
        # multiset-insensitive; skipping it removes one exchange/round
        ls = (
            sym.withColumn(
                "m", F.least(F.min("v").over(wl), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: orient (larger, smaller); all not-larger
        # neighbors and u itself attach to the neighborhood min
        sym2 = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        ss = (
            sym2.withColumn("m", F.min("v").over(wl))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("v").alias("u"), F.col("m").alias("v")
                        ),
                        F.struct(
                            F.col("u").alias("u"), F.col("m").alias("v")
                        ),
                    )
                ).alias("s")
            )
            .select("s.u", "s.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e2 = pin(ss)
        n_now, chk_now = census(e2)
        if n_now <= _CC_DRIVER_EDGE_CAP:
            roots = finish(e2.toArrow())
            break
        e2 = e2.coalesce(rows_width(spark, n_now))
        # count+checksum equal is necessary, not sufficient — confirm
        # exact edge-set equality (both already canonical)
        if (
            n_now == n_prev
            and chk_now == chk_prev
            and e2.exceptAll(e).count() == 0
        ):
            roots = e2.select(
                F.col("u").alias("id"), F.col("v").alias("comp")
            )
            break
        e, n_prev, chk_prev = e2, n_now, chk_now
    return nodes.join(roots, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("comp")
    )


def boilerplate_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_tokens: int = 8,
    max_df: int = 4,
) -> DataFrame:
    """Corpus-level boilerplate removal (the C4 / RefinedWeb line-dedup
    step): segment every document, count each segment's DISTINCT-document
    frequency across the whole corpus, drop segments appearing in more
    than ``max_df`` documents (headers, footers, license blurbs — the
    classic pretraining-corpus pollution), and reassemble each document
    from its surviving segments in order.

    Natural text segments on newlines; this synthetic corpus has none, so
    segments are fixed ``seg_tokens``-token blocks — the segmenter is the
    only part a real deployment swaps (``F.split(text, '\\n')``).

    Scale shape (same spillable single-exchange screen as
    ``jaccard_candidate_pairs``):
    1. in-row segmentation (transform over a block-index sequence) then
       posexplode — no shuffle;
    2. ONE corpus exchange on the segment key; a per-segment sort feeds a
       lag() first-occurrence flag whose windowed sum is the exact
       distinct-doc frequency — spillable buffers only, no collect_set;
    3. the df filter drops every occurrence of a hot segment;
    4. reassembly is one groupBy on the doc key: sort surviving
       (pos, seg) structs in-row and concat. Documents whose every
       segment was boilerplate drop out entirely (by design — they ARE
       boilerplate).

    Output: (id, n_kept, cleaned).
    """
    from openseizuredatabase_spark.functions.text import tokens

    toks = tokens(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    nblk = F.ceil(F.size("toks") / F.lit(seg_tokens)).cast("int")
    segs_arr = F.transform(
        F.sequence(F.lit(0), nblk - 1),
        lambda b: F.concat_ws(
            " ", F.slice(F.col("toks"), b * seg_tokens + 1, seg_tokens)
        ),
    )
    segs = d.select(
        id_col, F.posexplode(segs_arr).alias("pos", "seg")
    ).repartition(F.col("seg"))
    wo = Window.partitionBy("seg").orderBy(id_col, "pos")
    w = Window.partitionBy("seg")
    first = (
        F.lag(id_col).over(wo).isNull()
        | (F.lag(id_col).over(wo) != F.col(id_col))
    ).cast("int")
    flt = (
        segs.withColumn("__first", first)
        .withColumn("__df", F.sum("__first").over(w))
        .filter(F.col("__df") <= max_df)
    )
    parts = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("seg")))
    )
    return (
        flt.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(parts, lambda s: s["seg"]), " "
            ).alias("cleaned"),
        )
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication screen: maximal duplicated word spans.

    The distributed shape of suffix-array exact-substring dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"; the reference corpus tools have no equivalent — this is an
    LLM-pipeline extension): any duplicated substring of >= k words
    appears as a run of corpus-duplicated k-grams, so finding every
    k-gram whose exact text occurs >= ``min_count`` times corpus-wide
    and merging each document's overlapping duplicated k-gram intervals
    [pos, pos+k) recovers the maximal duplicated regions at word
    granularity — without ever building a global suffix array.

    Returns one row per merged span:
    ``(id, span_id, span_start, span_end, n_ngrams)`` with
    ``span_end`` exclusive (word index past the span).

    Scale shape — two shuffles, both on good keys:
    1. corpus-duplication test = ``count() OVER (PARTITION BY h)`` on
       the 60-bit k-gram hash: ONE exchange on a uniform key, no
       groupBy+join-back round trip; a boilerplate mega-hot k-gram is a
       single sorted (spillable) window partition, never a driver set;
    2. interval merge = classic sweep: per-doc window ordered by pos,
       running max of span ends decides span breaks — one exchange on
       the doc key, then the span groupBy rides the same partitioning.
    """
    toks = tokens(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias("t")).filter(F.size("t") >= k)
    sh = F.concat_ws(
        " ",
        *[F.element_at(F.col("t"), F.col("pos") + 1 + j) for j in range(k)],
    )
    posed = d.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.size("t") - k)).alias("pos"),
        "t",
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        md5_long(sh).alias("h"),
    )
    dup = posed.withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("__cnt") >= min_count)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_span = (prev_end.isNull() | (F.col("pos") > prev_end)).cast("int")
    span_id = F.sum(new_span).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dup.withColumn("span_id", span_id)
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_ngrams"),
        )
    )


def scrub_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup, removal half: rebuild each document WITHOUT
    the corpus-duplicated word spans found by
    :func:`duplicated_ngram_spans` semantics.

    Word positions covered by any duplicated k-gram interval
    [pos, pos+k) are dropped; the remainder reassembles in order.
    EVERY input document emits exactly one row: documents with no
    duplicated span (including those shorter than ``k`` words, which
    cannot host a k-gram and so pass through verbatim) come back
    unchanged, and fully-covered documents come back as
    ``(n_kept=0, cleaned='')`` rather than vanishing — a scrub used to
    rebuild a corpus must not silently delete documents. Returns
    ``(id, n_words, n_kept, cleaned)``.

    Scale shape: the covered-position set explodes from the duplicated
    k-gram starts (k rows per hit, collapsed by the same doc-key
    exchange the left join and the reassembly groupBy ride), so the
    extra cost over the span finder is one distinct + one outer join,
    both co-partitioned on the doc key — no new corpus-wide key. The
    short-doc branch is a narrow union: no extra shuffle (its groupBy
    is replaced by a per-row projection).
    """
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("t"))
    d = base.filter(F.size("t") >= k)
    sh = F.concat_ws(
        " ",
        *[F.element_at(F.col("t"), F.col("pos") + 1 + j) for j in range(k)],
    )
    posed = d.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.size("t") - k)).alias("pos"),
        "t",
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        md5_long(sh).alias("h"),
    )
    dup = posed.withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("__cnt") >= min_count)
    covered = dup.select(
        id_col,
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + k - 1)
        ).alias("pos"),
        F.lit(1).alias("__cov"),
    ).distinct()
    words = d.select(
        id_col,
        F.size("t").cast("long").alias("n_words"),
        F.posexplode("t").alias("pos", "word"),
    ).withColumn("pos", F.col("pos").cast("long"))
    # LEFT join (not anti): a fully-covered doc keeps its group and
    # aggregates to n_kept=0 / cleaned='' — collect_list drops the
    # NULL structs of covered positions
    flagged = words.join(covered, [id_col, "pos"], "left")
    scrubbed = flagged.groupBy(id_col, "n_words").agg(
        F.count(F.when(F.col("__cov").isNull(), 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__cov").isNull(),
                            F.struct("pos", "word"),
                        )
                    )
                ),
                lambda s: s["word"],
            ),
            " ",
        ).alias("cleaned"),
    )
    passthrough = base.filter(F.size("t") < k).select(
        F.col(id_col),
        F.size("t").cast("long").alias("n_words"),
        F.size("t").cast("long").alias("n_kept"),
        F.array_join(F.col("t"), " ").alias("cleaned"),
    )
    return scrubbed.select(
        id_col, "n_words", "n_kept", "cleaned"
    ).unionByName(passthrough)
