"""Property-based tests (hypothesis): Spark operators vs brute-force
Python models on arbitrary generated inputs.

The reference's suite is example-based only (SURVEY §5); these properties
pin the operator semantics across the input space — especially the fiddly
order-local ones (gap repair, sessionization, recurrence).
"""

import datetime as dt
from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from openseizuredatabase_spark.detection.osd_alg import OsdSettings, alarm_recurrence
from openseizuredatabase_spark.functions import ann
from openseizuredatabase_spark.operators import dedup as dedup_ops
from openseizuredatabase_spark.operators import windows as window_ops

BASE = dt.datetime(2024, 1, 1)

# hypothesis drives Spark jobs → generous deadlines, few examples
SPARK_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

offsets = st.lists(
    st.integers(min_value=0, max_value=3600), min_size=2, max_size=25, unique=True
)


def _frame(spark, offs):
    rows = [
        Row(g=1, id=i, t=BASE + dt.timedelta(seconds=o))
        for i, o in enumerate(sorted(offs))
    ]
    return spark.createDataFrame(rows)


@settings(**SPARK_SETTINGS)
@given(offs=offsets)
def test_gap_fill_matches_python_model(spark, offs):
    grid, min_gap = 30, 60
    out = window_ops.gap_fill_rows(_frame(spark, offs), ["g"], "t", grid, min_gap)
    got = sorted(r.fill_epoch for r in out.collect())
    # brute-force model (flattenData.py:293-319 semantics)
    expect = []
    ordered = sorted(offs)
    for prev, cur in zip(ordered, ordered[1:]):
        gap = cur - prev
        if gap > min_gap:
            for i in range(1, gap // grid + 1):
                expect.append(
                    int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
                    + prev + i * grid
                )
    assert got == sorted(expect)


@settings(**SPARK_SETTINGS)
@given(offs=offsets, gap_s=st.integers(min_value=1, max_value=600))
def test_gap_clusters_match_python_model(spark, offs, gap_s):
    out = dedup_ops.gap_clusters(_frame(spark, offs), ["g"], "t", gap_s)
    got = {r.id: r.cluster_id for r in out.collect()}
    ordered = sorted(offs)
    expect, cid = {}, -1
    prev = None
    for i, o in enumerate(ordered):
        if prev is None or o - prev > gap_s:
            cid += 1
        expect[i] = cid
        prev = o
    assert got == expect
    # invariant: cluster ids are dense 0..k per group
    assert set(got.values()) == set(range(max(got.values()) + 1))


@settings(max_examples=200, deadline=None)
@given(
    flags=st.lists(st.booleans(), max_size=60),
    warn=st.integers(min_value=1, max_value=4),
    alarm_extra=st.integers(min_value=1, max_value=4),
)
def test_alarm_recurrence_invariants(flags, warn, alarm_extra):
    s = OsdSettings(
        sample_period=1, warn_time=warn, alarm_time=warn + alarm_extra
    )
    states, counts = alarm_recurrence(flags, s)
    prev_state, prev_count = 0, 0.0
    for flag, state, count in zip(flags, states, counts):
        if flag:
            assert count == prev_count + 1  # strict accumulation
            # state never decreases while in alarm
            assert state >= prev_state or prev_state == 2
        else:
            if prev_state == 2:
                assert (state, count) == (1, warn)  # the decay rule
            else:
                assert (state, count) == (0, 0.0)
        # threshold consistency
        if state == 2:
            assert count > s.alarm_time
        prev_state, prev_count = state, count


@settings(**SPARK_SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=3, max_size=20
    )
)
def test_feature_history_lags_are_exact_shifts(spark, vals):
    rows = [
        Row(g=1, t=BASE + dt.timedelta(seconds=5 * i), v=float(v))
        for i, v in enumerate(vals)
    ]
    out = window_ops.feature_history(
        spark.createDataFrame(rows), ["g"], "t", ["v"], 2
    )
    got = sorted((r.t, r.v_t0, r.v_t1) for r in out.collect())
    assert len(got) == len(vals) - 1  # first n-1 rows dropped
    for i, (_, v0, v1) in enumerate(got):
        assert v0 == vals[i + 1]
        assert v1 == vals[i]


docs_strategy = st.lists(
    st.lists(
        st.sampled_from("abcdefgh"), min_size=0, max_size=12
    ).map(lambda toks: " ".join(toks)),
    min_size=1,
    max_size=10,
)


@settings(**SPARK_SETTINGS)
@given(docs=docs_strategy)
def test_jaccard_pairs_match_bruteforce(spark, docs):
    """The DF-capped candidate generator equals brute-force set algebra
    whenever the doc-frequency cap doesn't bind (max_df >= corpus)."""
    k = 2
    sh = dedup_ops.shingles(
        spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
        ),
        "text",
        "doc_id",
        k,
    )
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b)
        for r in dedup_ops.jaccard_candidate_pairs(
            sh, "doc_id", max_df=len(docs) + 1
        ).collect()
    }

    sets = {}
    for i, t in enumerate(docs):
        toks = t.split()
        sets[i] = {
            " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
        }
    want = {}
    ids = sorted(sets)
    for x in ids:
        for y in ids:
            if x < y and sets[x] & sets[y]:
                want[(x, y)] = (
                    len(sets[x] & sets[y]),
                    len(sets[x]),
                    len(sets[y]),
                )
    assert got == want


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    ),
    # the default cap takes the driver finisher; -1 forces the loop
    cap=st.sampled_from([dedup_ops._CC_DRIVER_EDGE_CAP, -1]),
)
@settings(**SPARK_SETTINGS)
def test_connected_components_matches_union_find(spark, edges, cap):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # brute-force union-find oracle
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with mock.patch.object(dedup_ops, "_CC_DRIVER_EDGE_CAP", cap):
        got = {
            r["id"]: r["comp"]
            for r in dedup_ops.connected_components(df).collect()
        }
    assert got == expected


# --- round-3 operators ------------------------------------------------------

_tree_strategy = st.integers(min_value=0, max_value=2**31 - 1)


def _random_tree(rng, n_features, depth):
    """Random well-formed tree in the flat-array layout."""
    import numpy as np

    feat, thr, left, right, value = [], [], [], [], []

    def grow(d):
        idx = len(feat)
        if d == 0 or rng.random() < 0.3:
            feat.append(-1)
            thr.append(0.0)
            left.append(-1)
            right.append(-1)
            value.append(float(rng.random()))
            return idx
        feat.append(int(rng.integers(n_features)))
        thr.append(float(rng.normal()))
        left.append(-1)
        right.append(-1)
        value.append(0.0)
        li = grow(d - 1)
        ri = grow(d - 1)
        left[idx] = li
        right[idx] = ri
        return idx

    grow(depth)
    return (
        np.array(feat, dtype=np.int64),
        np.array(thr, dtype=np.float64),
        np.array(left, dtype=np.int64),
        np.array(right, dtype=np.int64),
        np.array(value, dtype=np.float64),
    )


@given(seed=_tree_strategy)
@settings(max_examples=40, deadline=None)
def test_forest_vectorized_equals_per_row_descent(seed):
    """The batch level-walk traversal must equal a naive per-row,
    per-tree recursive descent on arbitrary well-formed trees."""
    import numpy as np

    from openseizuredatabase_spark.ml.inference import ForestModel

    rng = np.random.default_rng(seed)
    n_features = int(rng.integers(1, 5))
    trees = tuple(
        _random_tree(rng, n_features, int(rng.integers(1, 5)))
        for _ in range(int(rng.integers(1, 4)))
    )
    model = ForestModel(trees=trees)
    x = rng.normal(size=(int(rng.integers(1, 20)), n_features))

    def descend(tree, row):
        feat, thr, left, right, value = tree
        i = 0
        while feat[i] >= 0:
            i = left[i] if row[feat[i]] <= thr[i] else right[i]
        return value[i]

    want = np.array(
        [
            sum(descend(t, row) for t in trees) / len(trees)
            for row in x
        ]
    )
    assert np.allclose(model.predict(x), want)


_corpus_strategy = st.lists(
    st.lists(
        st.sampled_from("abcdefg"), min_size=1, max_size=24
    ).map(lambda chars: " ".join(chars)),
    min_size=1,
    max_size=12,
)


@given(texts=_corpus_strategy, max_df=st.integers(min_value=1, max_value=4))
@settings(**SPARK_SETTINGS)
def test_boilerplate_scrub_matches_bruteforce(spark, texts, max_df):
    """Spark segment scrub == a dict-based reference implementation."""
    seg_tokens = 3
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: (r["n_kept"], r["cleaned"])
        for r in dedup_ops.boilerplate_scrub(
            df, "text", "doc_id", seg_tokens=seg_tokens, max_df=max_df
        ).collect()
    }

    segs_by_doc = {}
    df_count = {}
    for i, t in enumerate(texts):
        toks = t.split()
        segs = [
            " ".join(toks[b : b + seg_tokens])
            for b in range(0, len(toks), seg_tokens)
        ]
        segs_by_doc[i] = segs
        for s in set(segs):
            df_count[s] = df_count.get(s, 0) + 1
    want = {}
    for i, segs in segs_by_doc.items():
        kept = [s for s in segs if df_count[s] <= max_df]
        if kept:
            want[i] = (len(kept), " ".join(kept))
    assert got == want


_interval_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5000),
        st.integers(min_value=0, max_value=3000),
    ),
    min_size=1,
    max_size=10,
)


@given(
    ivs=_interval_strategy,
    pts=st.lists(
        st.integers(min_value=0, max_value=9000), min_size=1, max_size=15
    ),
    bucket=st.sampled_from([600, 1800, 3600]),
)
@settings(**SPARK_SETTINGS)
def test_bucketed_range_join_matches_bruteforce(spark, ivs, pts, bucket):
    """Equi-join-via-buckets == the O(n*m) containment scan for any
    intervals (including zero-length and bucket-spanning) and any
    bucket size."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.joins import (
        bucketed_range_join,
    )

    points = spark.createDataFrame(
        [
            Row(k=1, pid=i, ts=BASE + dt.timedelta(seconds=s))
            for i, s in enumerate(pts)
        ]
    )
    intervals = spark.createDataFrame(
        [
            Row(
                k=1,
                iv=j,
                lo=BASE + dt.timedelta(seconds=s),
                hi=BASE + dt.timedelta(seconds=s + ln),
            )
            for j, (s, ln) in enumerate(ivs)
        ]
    )
    got = sorted(
        (r["pid"], r["iv"])
        for r in bucketed_range_join(
            points, intervals, "k", "ts", "lo", "hi", bucket_secs=bucket
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, s in enumerate(pts)
        for j, (lo, ln) in enumerate(ivs)
        if lo <= s <= lo + ln
    )
    assert got == want


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    # the default cap trains on the driver; -1 forces the Lloyd rounds
    cap=st.sampled_from([ann._KMEANS_DRIVER_ROW_CAP, -1]),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_kmeans_exact_assignment_is_nearest_centroid(spark, seed, cap):
    """After the final Lloyd round every vector sits with its nearest
    final-round-input centroid (integer distances, lowest-cid ties) —
    the invariant brute-forced here from the returned artifacts."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(seed)
    n, d, k = 30, 4, 3
    vecs = rng.normal(0, 0.3, (n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [
            Row(vec_id=i + 1, embedding=[float(x) for x in vecs[i]])
            for i in range(n)
        ]
    )
    with mock.patch.object(ann, "_KMEANS_DRIVER_ROW_CAP", cap):
        assign, cents = ann.kmeans_exact(df, k=k, iters=1, quant=1000)
        got = {r["vec_id"]: r["cid"] for r in assign.collect()}
    # iters=1: assignment is against the INITIAL centroids (ids 1..k)
    q = np.round(vecs.astype(np.float64) * 1000)
    init = {cid: q[cid - 1] for cid in range(1, k + 1)}
    for i in range(n):
        dists = sorted(
            (int(((q[i] - c) ** 2).sum()), cid) for cid, c in init.items()
        )
        assert got[i + 1] == dists[0][1]


docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]),
        min_size=0,
        max_size=30,
    ),
    min_size=1,
    max_size=8,
)


@settings(**SPARK_SETTINGS)
@given(word_docs=docs_strategy)
def test_duplicated_ngram_spans_match_python_model(spark, word_docs):
    """t23 vs brute force: with a 4-word alphabet, 3-grams repeat often —
    the distributed window-count + interval-merge must equal the obvious
    single-process model on any corpus."""
    k = 3
    rows = [
        Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(word_docs)
    ]
    out = dedup_ops.duplicated_ngram_spans(
        spark.createDataFrame(rows, schema="doc_id long, text string"),
        "text",
        "doc_id",
        k=k,
        min_count=2,
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_ngrams"])
        for r in out.collect()
    )
    # brute-force model
    from collections import Counter

    grams = Counter()
    for ws in word_docs:
        for i in range(len(ws) - k + 1):
            grams[tuple(ws[i : i + k])] += 1
    expect = []
    for d, ws in enumerate(word_docs):
        dup_pos = [
            i
            for i in range(len(ws) - k + 1)
            if grams[tuple(ws[i : i + k])] >= 2
        ]
        spans = []  # [start, end, n]
        for p in dup_pos:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
                spans[-1][2] += 1
            else:
                spans.append([p, p + k, 1])
        expect.extend((d, s, e, n) for s, e, n in spans)
    assert got == sorted(expect)


vec_corpus = st.lists(
    st.lists(
        st.floats(min_value=-2.0, max_value=2.0,
                  allow_nan=False, allow_infinity=False),
        min_size=3,
        max_size=3,
    ),
    min_size=2,
    max_size=12,
)


@settings(**SPARK_SETTINGS)
@given(vecs=vec_corpus)
def test_semantic_dedup_matches_python_model(spark, vecs):
    """t24 vs brute force: the integer k-means assignment and the
    within-cluster lower-id cosine dup rule re-derived in pure Python
    must agree on arbitrary small corpora (incl. duplicate and
    near-zero vectors)."""
    import math

    from openseizuredatabase_spark.functions.ann import semantic_dedup

    k, iters, quant, tau = 2, 2, 1000, 0.8
    rows = [Row(vec_id=i + 1, embedding=vecs[i]) for i in range(len(vecs))]
    out = semantic_dedup(
        spark.createDataFrame(
            rows, schema="vec_id long, embedding array<double>"
        ),
        k=min(k, len(vecs)),
        iters=iters,
        quant=quant,
        tau=tau,
    )
    got = {r["vec_id"]: (r["cid"], r["is_dup"]) for r in out.collect()}

    # ---- brute-force model of kmeans_exact + the dup rule ----
    def half_away(x):
        f = math.floor(abs(x) + 0.5)
        return int(math.copysign(f, x))

    q = {i + 1: [half_away(x * quant) for x in vecs[i]]
         for i in range(len(vecs))}
    kk = min(k, len(vecs))
    cents = {c: list(q[c]) for c in range(1, kk + 1)}
    for _ in range(iters):
        assign = {}
        for vid, v in q.items():
            best = min(
                cents,
                key=lambda c: (
                    sum((a - b) ** 2 for a, b in zip(v, cents[c])), c
                ),
            )
            assign[vid] = best
        new = {}
        for c in set(assign.values()):
            members = [q[v] for v in q if assign[v] == c]
            n = len(members)
            new[c] = [
                (s - (((s % n) + n) % n)) // n
                for s in (sum(col) for col in zip(*members))
            ]
        cents = new
    dups = set()
    for vid, v in q.items():
        for o, w in q.items():
            if o >= vid or assign[o] != assign[vid]:
                continue
            dot = sum(a * b for a, b in zip(v, w))
            na = math.sqrt(sum(a * a for a in v))
            nb = math.sqrt(sum(b * b for b in w))
            sim = dot / na / nb if na > 0 and nb > 0 else float("nan")
            if round(sim, 6) >= tau:
                dups.add(vid)
                break
    expect = {vid: (assign[vid], vid in dups) for vid in q}
    assert got == expect


dsir_corpus = st.lists(
    st.tuples(
        st.booleans(),
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=12),
    ),
    min_size=2,
    max_size=8,
).filter(lambda d: any(t for t, _ in d) and any(not t for t, _ in d))


@settings(**SPARK_SETTINGS)
@given(docs=dsir_corpus)
def test_dsir_importance_matches_python_model(spark, docs):
    """t25 vs brute force on arbitrary tiny corpora: hashed-bigram
    bucket models, add-1 smoothing, micro-quantized log ratio, integer
    dot product."""
    import hashlib
    import math

    from openseizuredatabase_spark.operators.lm import dsir_importance

    B, seed = 16, 11
    rows = [
        Row(doc_id=i + 1, text=" ".join(ws), tgt=bool(t))
        for i, (t, ws) in enumerate(docs)
    ]
    out = dsir_importance(
        spark.createDataFrame(
            rows, schema="doc_id long, text string, tgt boolean"
        ),
        "text",
        "doc_id",
        "tgt",
        n_buckets=B,
        seed=seed,
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["w_micro"]) for r in out.collect()}

    def bucket(w):
        h = hashlib.md5(f"{seed}:{w}".encode()).hexdigest()
        return int(h[:15], 16) % B

    per_doc, tn, rn = {}, {}, {}
    for i, (t, ws) in enumerate(docs):
        cnt = {}
        for a, b in zip(ws, ws[1:]):
            cnt[bucket(a + " " + b)] = cnt.get(bucket(a + " " + b), 0) + 1
        per_doc[i + 1] = (t, cnt)
        for b_, n in cnt.items():
            (tn if t else rn)[b_] = (tn if t else rn).get(b_, 0) + n
    T, R = sum(tn.values()), sum(rn.values())
    expect = {}
    for vid, (t, cnt) in per_doc.items():
        if t or not cnt:
            continue
        w = 0
        for b_, n in cnt.items():
            lr = math.log((tn.get(b_, 0) + 1) / (T + B)) - math.log(
                (rn.get(b_, 0) + 1) / (R + B)
            )
            # Spark F.round half-up at 0 dp == half away from zero
            x = lr * 1000000
            f = math.floor(abs(x) + 0.5)
            w += n * int(math.copysign(f, x))
        expect[vid] = (sum(cnt.values()), w)
    assert got == expect
